package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into the program. Spans nest: the
  * parent is the span that was open when this one started. `run` names the
  * benchmark run, so spans of several runs can share one file.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, var endNs: Long, startMs: Long,
                      var endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-stage executor totals, from the stage's aggregated task metrics. */
final case class StageRec(stageId: Int, span: Int, name: String, tasks: Int,
                          submittedMs: Long, completedMs: Long,
                          cpuNs: Long, runMs: Long, gcMs: Long,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long,
                          input: Long, output: Long, taskMaxMs: Long,
                          taskP50Ms: Double)

final case class JobRec(jobId: Int, span: Int, site: String, startMs: Long,
                        var endMs: Long, var ok: Boolean, stageIds: Seq[Int])

/** Planning-phase times and plan metrics of one finished query execution. */
final case class QeRec(span: Int, func: String, analysisMs: Long,
                       optimizationMs: Long, planningMs: Long,
                       broadcastBuildMs: Long)

/** Span stack plus the Spark listeners of a traced run. Jobs and stages are
  * attributed to the innermost open span through a local property that the
  * scheduler copies into every job and stage event; the job description is
  * set to the span name as well, so Spark's own logs name the span.
  */
final class Tracer(run: String) {
  val Key = "perfbench.span"
  private var nextId = 0
  private val open = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.ArrayBuffer[StageRec]()
  val qes = mutable.ArrayBuffer[QeRec]()
  private val taskDur = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val execSite = mutable.Map[Long, String]()
  private var spark: SparkSession = _

  def currentId: Int = if (open.isEmpty) -1 else open.top.id

  def span[A](name: String)(f: => A): (A, Span) = {
    val s = Span(nextId, name, currentId, run, System.nanoTime(), 0L,
      System.currentTimeMillis(), 0L)
    nextId += 1
    synchronized { spans += s }
    open.push(s)
    setProps()
    try {
      val a = f
      (a, s)
    } finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open.pop()
      setProps()
    }
  }

  private def setProps(): Unit = if (spark != null) {
    val sc = spark.sparkContext
    if (open.isEmpty) {
      sc.setLocalProperty(Key, null)
      sc.setJobDescription(null)
    } else {
      sc.setLocalProperty(Key, open.top.id.toString)
      sc.setJobDescription(open.top.name)
    }
  }

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Key))).map(_.toInt).getOrElse(-1)

  private val listener = new SparkListener {
    // A job's call site is that of the SQL execution that ran it (AQE runs
    // query stages from its own threads, whose stage names say nothing);
    // a job outside any execution keeps its result stage's name.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { execSite(s.executionId) = Tracer.site(s.details, s.description) }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSite.get(id.toLong))
      val site = exec.getOrElse(if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name)
      jobs += JobRec(e.jobId, spanOf(e.properties), site, e.time, -1L, ok = false,
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.jobId == e.jobId).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized { stageSpan(e.stageInfo.stageId) = spanOf(e.properties) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      taskDur.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
        e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        val d = taskDur.remove(i.stageId).getOrElse(mutable.ArrayBuffer[Long]())
        stages += StageRec(i.stageId, stageSpan.getOrElse(i.stageId, -1),
          i.name, i.numTasks, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L),
          if (m == null) 0L else m.executorCpuTime,
          if (m == null) 0L else m.executorRunTime,
          if (m == null) 0L else m.jvmGCTime,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L
          else m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
          if (m == null) 0L else m.inputMetrics.bytesRead,
          if (m == null) 0L else m.outputMetrics.bytesWritten,
          if (d.isEmpty) 0L else d.max,
          if (d.isEmpty) 0.0 else Stats.median(d.map(_.toDouble).toSeq))
      }
  }

  /** Every node of an executed plan, looking through AQE's stage wrappers. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case r: ReusedExchangeExec => r +: planNodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
      val build = try planNodes(qe.executedPlan).collect {
        case b: BroadcastExchangeExec => b.metrics.get("buildTime").map(_.value).getOrElse(0L)
      }.sum catch { case _: Throwable => 0L }
      val rec = QeRec(spanAt(start), func, ms("analysis"), ms("optimization"),
        ms("planning"), build)
      Tracer.this.synchronized { qes += rec }
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The innermost span open at wall-clock `ms` (planning runs on the
    * caller's thread inside the span that made the call).
    */
  private def spanAt(ms: Long): Int = synchronized {
    val inside = spans.filter(s => s.startMs <= ms && (s.endMs == 0L || ms <= s.endMs))
    if (inside.isEmpty) -1 else inside.maxBy(_.id).id
  }

  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(qeListener)
    setProps()
  }

  def detach(): Unit = if (spark != null) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.setLocalProperty(Key, null)
    spark.sparkContext.setJobDescription(null)
    spark = null
  }

  def drain(): Unit =
    if (spark != null) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Ids of `root` and every span nested in it. */
  def subtree(root: Span): Set[Int] = {
    val ids = mutable.Set(root.id)
    spans.sortBy(_.id).foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids.toSet
  }

  def jobsIn(root: Span): Seq[JobRec] = synchronized {
    val ids = subtree(root); jobs.filter(j => ids.contains(j.span)).toSeq
  }
  def stagesIn(root: Span): Seq[StageRec] = synchronized {
    val ids = subtree(root); stages.filter(s => ids.contains(s.span)).toSeq
  }
  def qesIn(root: Span): Seq[QeRec] = synchronized {
    val ids = subtree(root); qes.filter(q => ids.contains(q.span)).toSeq
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Wall time of `s` during which no Spark job of it was running: driver
    * work such as planning, file listing and commit bookkeeping.
    */
  def outsideJobsSeconds(s: Span): Double = {
    val iv = jobsIn(s).filter(_.endMs > 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.seconds - covered / 1e3)
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    val ids = js.flatMap(_.stageIds).toSet
    stages.filter(st => ids.contains(st.stageId)).toSeq
  }

  def spansJson: String = Json(spans.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
    "self_s" -> selfSeconds(s))))
}

object Tracer {
  /** `<api call> at <Class>.<method> (<File>:<line>)`: the Spark API the
    * program called and the first program frame under it, read from an
    * execution's call stack; `fallback` when no program frame is in it.
    */
  def site(details: String, fallback: String): String = {
    val frames = details.split("\n").map(_.trim).filter(_.nonEmpty)
    val api = frames.headOption.map(_.takeWhile(_ != '(').split('.').last).getOrElse("?")
    frames.find(_.startsWith("graft.")).map { f =>
      val qual = f.takeWhile(_ != '(').split('.')
      s"$api at ${qual.init.last.stripSuffix("$")}.${qual.last} ${f.dropWhile(_ != '(')}"
    }.getOrElse(fallback)
  }
}
