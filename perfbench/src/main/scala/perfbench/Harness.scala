package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** JVM side of the benchmark: one workload, one seed, one process.
  *
  *   perfbench.Harness --workload <render|resume|queries> --seed <n>
  *     --seconds <s> --trace <0|1> --root <checkout> --input <dir>
  *     --work <dir> --out <record.json> [--queries <a,b,..>]
  *     [--ladder-reps <n>] [--turns <n>] [--slice-rows <a,b,..>]
  *     [--late <n>] [--inject-failure 1]
  *
  * Set-up (GraftSession.create plus an untimed warm-up) is repeated
  * `SetupReps` times and its median reported; then units run in a closed
  * loop for `--seconds`. A traced run first loops untraced for half the
  * time, then traced for the other half, and adds the per-layer passes.
  * The record written to `--out` is read by run.py, which runs the DuckDB
  * correctness gate and prints the result line.
  */
object Harness {
  val SetupReps = 3
  val Master = "local[4]"

  def arg(argv: Array[String], k: String, dflt: String = null): String = {
    val i = argv.indexOf("--" + k)
    if (i >= 0 && i + 1 < argv.length) argv(i + 1)
    else if (dflt != null) dflt
    else throw new IllegalArgumentException(s"missing --$k")
  }

  /** Longest task over median task, over the stages of a unit with at
    * least four tasks; 1.0 when no stage has that many.
    */
  def skew(st: Seq[StageRec]): Double = {
    val r = st.filter(s => s.tasks >= 4 && s.taskP50Ms > 0).map(s => s.taskMaxMs / s.taskP50Ms)
    if (r.isEmpty) 1.0 else r.max
  }

  def medianOrNaN(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  private def loop(c: Ctx, w: Workload, m: Meter, seconds: Double, from: Int): Int = {
    val t0 = System.nanoTime()
    var i = from
    while (i - from < w.minCycles || (System.nanoTime() - t0) / 1e9 < seconds) {
      w.cycle(c, m, i)
      m.sampleHeap()
      i += 1
    }
    i
  }

  private def e2e(m: Meter, setupS: Double, heapMb: Double): Map[String, M] = {
    val ok = m.ok
    val wall = ok.map(_.wallS)
    val base = Map(
      "setup_s" -> M(setupS, "s"),
      "heap_peak_mb" -> M(heapMb, "MB"),
      "fail_ratio" -> M(m.failed.toDouble / math.max(1, m.samples.length), "ratio"))
    if (ok.isEmpty) base
    else base ++ Map(
      "batch_s_p50" -> M(Stats.median(wall), "s"),
      "cpu_s" -> M(Stats.median(ok.map(_.cpuS)), "s"),
      "items_per_s" -> M(Workloads.perS(m), "items/s"))
  }

  private def universal(t: Tracer, m: Meter, setup: Seq[(Double, Double)],
                        tracedP50: Double, untracedP50: Double): Map[String, M] = {
    t.drain()
    val units = m.ok.flatMap(_.span)
    def mean(f: Span => Double): Double =
      if (units.isEmpty) Double.NaN else units.map(f).sum / units.length
    Map(
      "setup.session_s" -> M(Stats.median(setup.map(_._1)), "s"),
      "setup.warmup_s" -> M(Stats.median(setup.map(_._2)), "s"),
      "spark.jobs" -> M(mean(u => t.jobsIn(u).size.toDouble), "count"),
      "spark.stages" -> M(mean(u => t.stagesIn(u).size.toDouble), "count"),
      "spark.tasks" -> M(mean(u => t.stagesIn(u).map(_.tasks).sum.toDouble), "count"),
      "spark.exec_cpu_s" -> M(mean(u => t.stagesIn(u).map(_.cpuNs).sum / 1e9), "s"),
      "spark.exec_run_s" -> M(mean(u => t.stagesIn(u).map(_.runMs).sum / 1e3), "s"),
      "spark.gc_s" -> M(mean(u => t.stagesIn(u).map(_.gcMs).sum / 1e3), "s"),
      "spark.shuffle_write_bytes" -> M(mean(u => t.stagesIn(u).map(_.shuffleWrite).sum.toDouble), "B"),
      "spark.input_bytes" -> M(mean(u => t.stagesIn(u).map(_.input).sum.toDouble), "B"),
      "spark.output_bytes" -> M(mean(u => t.stagesIn(u).map(_.output).sum.toDouble), "B"),
      "spark.spill_bytes" -> M(mean(u => t.stagesIn(u).map(_.spill).sum.toDouble), "B"),
      "spark.task_max_over_p50" -> M(Stats.median(units.map(u => skew(t.stagesIn(u)))), "ratio"),
      "sql.executions" -> M(mean(u => t.qesIn(u).size.toDouble), "count"),
      "sql.analysis_s" -> M(mean(u => t.qesIn(u).map(_.analysisMs).sum / 1e3), "s"),
      "sql.optimization_s" -> M(mean(u => t.qesIn(u).map(_.optimizationMs).sum / 1e3), "s"),
      "sql.planning_s" -> M(mean(u => t.qesIn(u).map(_.planningMs).sum / 1e3), "s"),
      "driver.outside_jobs_s" -> M(mean(u => t.outsideJobsSeconds(u)), "s"),
      "trace.unit_s_p50" -> M(tracedP50, "s"),
      "trace.overhead_ratio" -> M(tracedP50 / untracedP50, "ratio"))
  }

  def metricsJson(ms: Map[String, M]): Map[String, Any] =
    ms.map { case (k, v) => k -> Map("value" -> v.value, "unit" -> v.unit) }

  def main(argv: Array[String]): Unit = {
    val workload = arg(argv, "workload")
    val seed = arg(argv, "seed").toLong
    val seconds = arg(argv, "seconds").toDouble
    val trace = arg(argv, "trace", "0") == "1"
    val root = arg(argv, "root")
    val input = arg(argv, "input", "")
    val work = arg(argv, "work")
    val out = arg(argv, "out")
    val queries = arg(argv, "queries", "").split(",").toSeq.filter(_.nonEmpty)
    val ladderReps = arg(argv, "ladder-reps", "2").toInt
    val turns = arg(argv, "turns", "0").toLong
    val sliceRows = arg(argv, "slice-rows", "").split(",").toSeq.filter(_.nonEmpty).map(_.toLong)
    val late = arg(argv, "late", "0").toLong
    val inject = arg(argv, "inject-failure", "0") == "1"
    Files.createDirectories(Paths.get(work))

    val w = Workloads(workload)
    val window = new Env.Window
    var spark: SparkSession = null
    var ctx: Ctx = null
    var inputInfo: Map[String, Any] = Map()
    // set-up, repeated: stop the previous session, create, warm up
    val setup = (1 to SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val (s, tCreate) = Workloads.timeS(GraftSession.create(Master))
      spark = s
      spark.sparkContext.setLogLevel("ERROR")
      ctx = Ctx(spark, root, input, work, seed, turns, sliceRows, late, queries, ladderReps)
      if (rep == 1) { // untimed
        val (in, t) = Workloads.timeS(w.prepare(ctx))
        inputInfo = in + ("prepare_s" -> t)
      }
      val (_, tWarm) = Workloads.timeS(w.warmup(ctx, rep))
      (tCreate, tWarm)
    }
    val setupS = Stats.median(setup.map(p => p._1 + p._2))

    val untraced = new Meter(spark, None, inject)
    val next = loop(ctx, w, untraced, if (trace) seconds / 2 else seconds, 0)
    val untracedP50 = medianOrNaN(untraced.ok.map(_.wallS))
    val e2eMs = e2e(untraced, setupS, untraced.heapPeakMb) ++ w.report(untraced)

    var layers = Map[String, M]()
    var universalMs = Map[String, M]()
    var tracedMeter: Meter = null
    if (trace) {
      ctx = ctx.copy(reference = w.reference(ctx))
      val t = new Tracer(s"$workload-$seed")
      t.attach(spark)
      tracedMeter = new Meter(spark, Some(t), inject = false)
      loop(ctx, w, tracedMeter, seconds / 2, next)
      val tracedP50 = medianOrNaN(tracedMeter.ok.map(_.wallS))
      universalMs = universal(t, tracedMeter, setup, tracedP50, untracedP50)
      layers = w.layers(ctx, t, tracedMeter)
      t.detach()
      Files.writeString(Paths.get(work, "spans.json"), t.spansJson)
    }
    val cotenancy = window.close()

    val attempted = untraced.samples.length + Option(tracedMeter).map(_.samples.length).getOrElse(0)
    val failed = untraced.failed + Option(tracedMeter).map(_.failed).getOrElse(0)
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "env" -> (Env.static() ++ cotenancy ++ Map("master" -> Master)),
      "input" -> inputInfo,
      "setup_reps" -> setup.map(p => Map("session_s" -> p._1, "warmup_s" -> p._2)),
      "units" -> untraced.samples.map(s => Map("label" -> s.label, "wall_s" -> s.wallS,
        "cpu_s" -> s.cpuS, "ok" -> s.ok, "error" -> s.error)),
      "attempted" -> attempted, "failed" -> failed,
      "e2e" -> metricsJson(e2eMs),
      "tail" -> Stats.tail(untraced.ok.map(_.wallS)).map { case (p, v) =>
        Map("percentile" -> p, "value" -> v, "unit" -> "s", "samples" -> untraced.ok.length) },
      "per_layer" -> metricsJson(universalMs),
      "layers" -> metricsJson(layers),
      "gate" -> w.gate,
      "oracles" -> w.oracleNames)
    Files.writeString(Paths.get(out), Json(record))
    spark.stop()
  }
}
