package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One unit of work: a Main.run, a runIncrement or a query. */
final case class Sample(label: String, wallS: Double, cpuS: Double, ok: Boolean,
                        error: String, items: Long, span: Option[Span])

/** Closed-loop timing: each unit starts when the previous one returned.
  * A unit that throws is recorded as failed and its time is never used as
  * a timing, so a broken call cannot read as a fast one. `inject` turns the
  * second unit into a Spark job that throws (the benchmark's self-test).
  *
  * `heapPeakMb` is the largest heap still in use after a full collection
  * between cycles of untraced units, or between units where the workload
  * asks for it (see [[sampleHeap]]).
  */
final class Meter(spark: SparkSession, tracer: Option[Tracer], inject: Boolean) {
  val samples = mutable.ArrayBuffer[Sample]()
  var heapPeakMb = 0.0
  /** Wall time of program calls that are not units (e.g. compaction). */
  var extraWallS = 0.0

  def unit[A](label: String, items: Long)(f: => A): Option[A] = {
    val injectHere = inject && samples.length == 1
    val c0 = Env.processCpuS()
    val t0 = System.nanoTime()
    var span: Option[Span] = None
    def body(): A = {
      if (injectHere) {
        spark.range(4).foreach((_: java.lang.Long) =>
          throw new IllegalStateException("injected failure"))
      }
      f
    }
    val res = try {
      val a = tracer match {
        case Some(t) =>
          val (x, s) = t.span(label)(body()); span = Some(s); x
        case None => body()
      }
      Right(a)
    } catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Env.processCpuS() - c0
    res match {
      case Right(a) =>
        samples += Sample(label, wall, cpu, ok = true, "", items, span); Some(a)
      case Left(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .take(300)
        System.err.println(s"[perfbench] unit $label failed: $msg")
        samples += Sample(label, wall, cpu, ok = false, msg, items,
          tracer.flatMap(_.spans.lastOption))
        None
    }
  }

  /** Called between cycles, outside any timing. */
  def sampleHeap(): Unit =
    if (tracer.isEmpty) heapPeakMb = math.max(heapPeakMb, Env.liveHeapMb())

  def extra[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try tracer.fold(f)(t => t.span(label)(f)._1)
    finally extraWallS += (System.nanoTime() - t0) / 1e9
  }

  def ok: Seq[Sample] = samples.filter(_.ok).toSeq
  def failed: Int = samples.count(!_.ok)
}
