package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Process and host readings taken around every run. */
object Env {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, all threads. */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** (total, steal) jiffies from the aggregate cpu line of /proc/stat. */
  def procStat(): (Double, Double) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble)
      (f.sum, if (f.length > 7) f(7) else 0.0)
    } finally src.close()
  }

  def loadAvg1(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
  }

  /** Co-tenancy over a window: CPU steal share and 1-min load at both ends. */
  final class Window {
    private val (t0, s0) = procStat()
    private val l0 = loadAvg1()
    def close(): Map[String, Double] = {
      val (t1, s1) = procStat()
      Map("steal_pct" -> (if (t1 > t0) 100.0 * (s1 - s0) / (t1 - t0) else 0.0),
        "loadavg1_start" -> l0, "loadavg1_end" -> loadAvg1())
    }
  }

  def static(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-Xmx") || a.startsWith("-Xms") || a.startsWith("-XX:")),
    "jdk" -> System.getProperty("java.version"),
    "jvm" -> System.getProperty("java.vm.name"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "scala" -> scala.util.Properties.versionNumberString)

  /** Heap in use right after a full collection. Spark frees unpersisted
    * blocks, shuffles and broadcasts asynchronously, partly once a first
    * collection has found them unreachable, so collect, let that cleanup
    * run, and collect again.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
