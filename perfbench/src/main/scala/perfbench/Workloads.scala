package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Main, SparkEntry}
import graft.operators.{Checkpoint, Pipeline}
import graft.sources.Transcripts

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** What one run works on. `turns`, `sliceRows` and `late` come from the
  * generator's manifest, so preparing costs no Spark job.
  */
final case class Ctx(spark: SparkSession, root: String, input: String,
                     work: String, seed: Long, turns: Long, sliceRows: Seq[Long],
                     late: Long, queries: Seq[String], ladderReps: Int,
                     reference: Double = Double.NaN)

/** One benchmark workload: untimed input preparation, a warm-up, repeated
  * cycles of timed units, the artifacts its correctness gate reads, and
  * the per-layer breakdown of a traced run.
  */
trait Workload {
  def prepare(c: Ctx): Map[String, Any]
  /** Set-up `rep` (1-based); the first runs in the cold JVM. */
  def warmup(c: Ctx, rep: Int): Unit
  def cycle(c: Ctx, m: Meter, i: Int): Unit
  /** Cycles a timed loop runs at least, whatever `--seconds` says. */
  def minCycles: Int = 1
  /** Metrics that only this workload defines, from its untraced samples. */
  def report(m: Meter): Map[String, M]
  def gate: Map[String, Any]
  /** Module-level layer metrics from the traced loop and extra traced passes. */
  def layers(c: Ctx, t: Tracer, m: Meter): Map[String, M]
  def oracleNames: Seq[String]
  /** Untraced reference timing a traced run takes before tracing starts. */
  def reference(c: Ctx): Double = Double.NaN
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "render" => new Render
    case "resume" => new Resume
    case "queries" => new Queries
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def timeS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  def dirStats(dir: String, suffix: String): (Int, Long) = {
    val fs = Files.walk(Paths.get(dir)).iterator()
    var n = 0; var b = 0L
    while (fs.hasNext) {
      val p = fs.next()
      if (Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix)) {
        n += 1; b += Files.size(p)
      }
    }
    (n, b)
  }

  def dirBytes(dir: String, suffix: String): Long =
    if (!Files.exists(Paths.get(dir))) 0L else dirStats(dir, suffix)._2

  def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).iterator()
    while (it.hasNext) Files.delete(it.next())
  }

  /** A generated input directory: its data files, their turns and bytes. */
  final case class Input(dir: String, turns: Long, files: Int, bytes: Long)

  def input(dir: String, turns: Long, suffix: String): Input = {
    val (f, b) = dirStats(dir, suffix)
    Input(dir, turns, f, b)
  }

  /** Throughput over ok units plus non-unit program calls. */
  def perS(m: Meter): Double = {
    val ok = m.ok
    ok.map(_.items).sum / (ok.map(_.wallS).sum + m.extraWallS)
  }

  /** Median of `reps` timed runs of `f`, each in its own span. */
  def ladder(t: Tracer, name: String, reps: Int)(f: => Any): Double =
    Stats.median((1 to reps).map(_ => t.span(name)(f)._2.seconds))

  /** Jobs of one unit grouped by the call site Spark names them with
    * (`<action> at <File>.scala:<line>`), in order of first appearance.
    */
  def sites(t: Tracer, s: Span): Seq[(String, Seq[JobRec])] = {
    val js = t.jobsIn(s).sortBy(_.jobId)
    val order = js.map(_.site).distinct
    order.map(site => site -> js.filter(_.site == site))
  }

  def jobSeconds(js: Seq[JobRec]): Double =
    js.filter(_.endMs > 0).map(j => (j.endMs - j.startMs) / 1e3).sum

  /** The headline route job: scan → parse → filter → broadcast enrich →
    * route → two-phase per-sink count, collected.
    */
  def routeJob(spark: SparkSession, scan: DataFrame): Map[String, Long] =
    Pipeline.sinkCounts(Pipeline.route(Pipeline.enrich(
      Pipeline.filterValid(Pipeline.parse(scan)), Transcripts.toolDim(spark))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Prefix ladder over `scan`: each step is its own job, and a step's cost
    * is its time minus the previous step's. The terminal counts only the
    * columns the next operator consumes, so column pruning matches the
    * full job. `reference` is the untraced full-job median.
    */
  def routeLadder(spark: SparkSession, t: Tracer, reps: Int, scan: () => DataFrame,
                  turns: Long, inputBytes: Long, reference: Double): Map[String, M] = {
    def agg(df: DataFrame, cols: String*): Unit =
      df.agg(count(lit(1)), cols.map(x => count(col(x))): _*).collect()
    def valid = Pipeline.filterValid(Pipeline.parse(scan()))
    def enriched = Pipeline.enrich(valid, Transcripts.toolDim(spark))
    val scanAll = ladder(t, "route.ladder.scan_all", reps)(
      agg(scan(), "conv_id", "turn_idx", "role", "text", "tool", "ts"))
    val l1 = ladder(t, "route.ladder.1_scan", reps)(agg(scan(), "text", "tool"))
    val l2 = ladder(t, "route.ladder.2_parse", reps)(agg(Pipeline.parse(scan()), "op", "tool"))
    val l3 = ladder(t, "route.ladder.3_filter", reps)(agg(valid, "op", "tool"))
    val l4 = ladder(t, "route.ladder.4_enrich", reps)(agg(enriched, "op", "tool_kind"))
    val l5 = ladder(t, "route.ladder.5_route", reps)(agg(Pipeline.route(enriched), "sink"))
    val (l6, full) = {
      val xs = (1 to reps).map(_ => t.span("route.ladder.6_agg")(routeJob(spark, scan())))
      (Stats.median(xs.map(_._2.seconds)), xs.map(_._2))
    }
    val rejects = t.span("route.rejects")(Pipeline.rejects(Pipeline.parse(scan())).count())._1
    t.drain()
    def perJob(f: Span => Double): Double = Stats.median(full.map(f))
    Map(
      "route.scan_s" -> M(l1, "s"),
      "route.scan_all_s" -> M(scanAll, "s"),
      "route.parse_s" -> M(l2 - l1, "s"),
      "route.filter_s" -> M(l3 - l2, "s"),
      "route.enrich_s" -> M(l4 - l3, "s"),
      "route.route_s" -> M(l5 - l4, "s"),
      "route.agg_s" -> M(l6 - l5, "s"),
      "route.ladder_sum_ratio" -> M((l1 + (l2 - l1) + (l3 - l2) + (l4 - l3) + (l5 - l4) +
        (l6 - l5)) / reference, "ratio"),
      "route.valid_ratio" -> M((turns - rejects).toDouble / turns, "ratio"),
      "route.input_bytes" -> M(inputBytes.toDouble, "B"),
      "route.broadcast_build_ms" -> M(perJob(u => t.qesIn(u).map(_.broadcastBuildMs).sum.toDouble), "ms"),
      "route.shuffle_write_bytes" -> M(perJob(u => t.stagesIn(u).map(_.shuffleWrite).sum.toDouble), "B"),
      "route.exec_cpu_s" -> M(perJob(u => t.stagesIn(u).map(_.cpuNs).sum / 1e9), "s"),
      "route.gc_s" -> M(perJob(u => t.stagesIn(u).map(_.gcMs).sum / 1e3), "s"),
      "route.tasks" -> M(perJob(u => t.stagesIn(u).map(_.tasks).sum.toDouble), "count"),
      "route.task_max_over_p50" -> M(perJob(u => Harness.skew(t.stagesIn(u))), "ratio"))
  }
}

// --------------------------------------------------------------- render

final class Render extends Workload {
  private var in: Workloads.Input = _
  private var lastOut: String = _
  private val stmts = mutable.ArrayBuffer[Long]()
  private val outBytes = mutable.ArrayBuffer[Long]()

  def prepare(c: Ctx): Map[String, Any] = {
    in = Workloads.input(c.input + "/data", c.turns, ".json")
    Map("turns" -> in.turns, "files" -> in.files, "bytes" -> in.bytes, "format" -> "json")
  }

  private def conf(dir: String, input: String = in.dir) =
    Main.Conf(input, "json", dir + "/out", "sql", Some(dir + "/ledger"), "local[4]")

  /** The first set-up warms up on the whole input; the later ones, in a
    * warm JVM, on one file: Main.run's cost is mostly per job, not per turn.
    */
  def warmup(c: Ctx, rep: Int): Unit = {
    val d = c.work + "/render-warmup"
    val input = if (rep == 1) in.dir else new java.io.File(in.dir).listFiles()
      .map(_.getPath).filter(_.endsWith(".json")).min
    Main.run(c.spark, conf(d, input))
    Workloads.deleteTree(Paths.get(d))
  }

  def cycle(c: Ctx, m: Meter, i: Int): Unit = {
    val d = s"${c.work}/render-$i"
    m.unit("main.run", in.turns)(Main.run(c.spark, conf(d))).foreach { case (n, _) =>
      stmts += n
      outBytes += Workloads.dirBytes(d + "/out", ".txt")
      if (lastOut != null) Workloads.deleteTree(Paths.get(lastOut).getParent)
      lastOut = d + "/out"
    }
  }

  def report(m: Meter): Map[String, M] = {
    val ok = m.ok
    Map(
      "turns_per_s" -> M(Workloads.perS(m), "turns/s"),
      "stmts_per_s" -> M(stmts.sum / ok.map(_.wallS).sum, "stmts/s"),
      "sink_bytes_per_turn" -> M(outBytes.last.toDouble / in.turns, "B/turn"))
  }

  def gate: Map[String, Any] = Map("out" -> lastOut,
    "stmts" -> stmts.lastOption.getOrElse(-1L), "stmts_consistent" -> (stmts.distinct.size == 1))

  def oracleNames: Seq[String] =
    Seq("p5_render_insert", "p6_render_update", "p7_render_delete", "p16_child_inserts",
      "p9_ddl_schemas", "p10_ddl_tables", "p11_ddl_alter")

  def layers(c: Ctx, t: Tracer, m: Meter): Map[String, M] = {
    val reps = c.ladderReps
    val cf = conf(c.work + "/render-layers")
    val read = Workloads.ladder(t, "render.read", reps)(
      Main.readTurns(c.spark, cf).agg(count(col("conv_id")), count(col("turn_idx")),
        count(col("role")), count(col("text")), count(col("tool")), count(col("ts"))).collect())
    val valid = Pipeline.filterValid(Pipeline.parse(Main.readTurns(c.spark, cf))).cache()
    valid.count()
    // each renderer over the same cached valid input; summing the statement
    // lengths forces the text to be built (a bare count() would prune it)
    def force(df: DataFrame): Long =
      df.agg(coalesce(sum(length(col("stmt"))), lit(0L))).collect()(0).getLong(0)
    val renderers = Seq(
      "ddl_schemas" -> (Pipeline.ddlCreateSchemas _),
      "ddl_tables" -> (Pipeline.ddlCreateTablesDynamic _),
      "ddl_child_tables" -> (Pipeline.ddlCreateChildTablesDynamic _),
      "ddl_alter" -> (Pipeline.ddlAlterTablesDynamic(_: DataFrame)),
      "ddl_alter_child" -> (Pipeline.ddlAlterChildTablesDynamic _),
      "insert" -> (Pipeline.renderInsertDynamic _),
      "child_insert" -> (Pipeline.renderChildInsertsDynamic _),
      "update" -> (Pipeline.renderUpdateDynamic _),
      "delete" -> (Pipeline.renderDeleteDynamic _),
      "all" -> (Pipeline.renderAllStatements _))
    val rs = renderers.map { case (k, f) =>
      s"render.${k}_s" -> M(Workloads.ladder(t, s"render.$k", reps)(force(f(valid))), "s")
    }
    val nStmts = Pipeline.renderAllStatements(valid).count()
    valid.unpersist()
    t.drain()
    // Main.run jobs by call site: the first count in Main.run is the reject
    // count and the next the statement count, text is the sink write, and
    // Checkpoint's reads plus Main's parquet write are the ledger
    val units = m.ok.flatMap(_.span)
    def siteSeconds(u: Span, pick: Seq[(String, Seq[JobRec])] => Seq[JobRec]): Double =
      Workloads.jobSeconds(pick(Workloads.sites(t, u)))
    def counts(ss: Seq[(String, Seq[JobRec])]) = ss.filter(x => x._1.startsWith("count at Main"))
    def med(f: Span => Double) = M(Stats.median(units.map(f)), "s")
    def writeShare(u: Span): Double = {
      val writes = Workloads.sites(t, u).filter(_._1.startsWith("text at Main")).flatMap(_._2)
      val st = t.stagesOf(writes).filter(s => s.completedMs > s.submittedMs)
      if (st.isEmpty) 0.0
      else st.map(s => s.taskMaxMs.toDouble / (s.completedMs - s.submittedMs)).max
    }
    rs.toMap ++ Map(
      "render.read_s" -> M(read, "s"),
      "render.stmts" -> M(nStmts.toDouble, "count"),
      "main.jobs" -> M(Stats.median(units.map(u => t.jobsIn(u).size.toDouble)), "count"),
      "main.rejects_s" -> med(u => siteSeconds(u, ss => counts(ss).headOption.toSeq.flatMap(_._2))),
      "main.count_s" -> med(u => siteSeconds(u, ss => counts(ss).drop(1).flatMap(_._2))),
      "main.write_s" -> med(u => siteSeconds(u, ss => ss.filter(_._1.startsWith("text at Main")).flatMap(_._2))),
      "main.ledger_s" -> med(u => siteSeconds(u, ss => ss.filter(x =>
        x._1.contains(" at Checkpoint.") || x._1.startsWith("parquet at Main")).flatMap(_._2))),
      "main.shuffle_bytes" -> M(Stats.median(units.map(u => t.stagesIn(u).map(_.shuffleWrite).sum.toDouble)), "B"),
      "main.spill_bytes" -> M(Stats.median(units.map(u => t.stagesIn(u).map(_.spill).sum.toDouble)), "B"),
      "main.write_task_share" -> M(Stats.median(units.map(writeShare)), "ratio"),
      "main.exec_cpu_s" -> med(u => t.stagesIn(u).map(_.cpuNs).sum / 1e9),
      "main.gc_s" -> med(u => t.stagesIn(u).map(_.gcMs).sum / 1e3),
      "main.out_bytes" -> M(outBytes.last.toDouble, "B"))
  }
}

// --------------------------------------------------------------- resume

final class Resume extends Workload {
  private var in: Workloads.Input = _
  private var slices: Seq[String] = Nil
  private var sliceRows: Seq[Long] = Nil
  private var late = 0L
  private var lastDir: String = _
  private val committed = mutable.ArrayBuffer[Long]()
  private val compacts = mutable.ArrayBuffer[(Checkpoint.CompactStats, Long)]()
  private val cycles = mutable.ArrayBuffer[Seq[Sample]]()

  def prepare(c: Ctx): Map[String, Any] = {
    in = Workloads.input(c.input + "/slices", c.turns, ".parquet")
    sliceRows = c.sliceRows
    slices = sliceRows.indices.map(s => s"${in.dir}/s=$s")
    late = c.late
    Map("turns" -> in.turns, "files" -> in.files, "bytes" -> in.bytes,
      "format" -> "parquet", "slices" -> slices.length, "late_turns" -> late)
  }

  /** Append one delivered slice to the landing directory. */
  private def deliver(slice: String, landing: String, s: Int): Unit = {
    Files.createDirectories(Paths.get(landing))
    Files.list(Paths.get(slice)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.copy(p, Paths.get(landing, f"s$s%03d-${p.getFileName}")))
  }

  private def runCycle(c: Ctx, dir: String, count: Int,
                       m: Option[Meter]): (Long, Checkpoint.CompactStats) = {
    val landing = dir + "/landing"
    val sink = dir + "/sink"
    val ledger = dir + "/ledger"
    var n = 0L
    slices.take(count).zipWithIndex.foreach { case (sd, s) =>
      deliver(sd, landing, s)
      def inc(): Long = Checkpoint.runIncrement(c.spark.read.parquet(landing),
        Transcripts.toolDim(c.spark), sink, ledger)
      n += (m match {
        case Some(mm) => mm.unit("ckpt.increment", sliceRows(s))(inc()).getOrElse(0L)
        case None => inc()
      })
    }
    def compact() = Checkpoint.compactSink(c.spark, sink)
    (n, m.fold(compact())(mm => mm.extra("ckpt.compact")(compact())))
  }

  def warmup(c: Ctx, rep: Int): Unit = {
    val d = c.work + "/resume-warmup"
    runCycle(c, d, 2, None)
    Workloads.deleteTree(Paths.get(d))
  }

  def cycle(c: Ctx, m: Meter, i: Int): Unit = {
    val d = s"${c.work}/resume-$i"
    val before = m.samples.length
    val (n, st) = runCycle(c, d, slices.length, Some(m))
    cycles += m.samples.drop(before).toSeq
    committed += n
    compacts += ((st, Workloads.dirBytes(d + "/sink", ".parquet")))
    if (lastDir != null) Workloads.deleteTree(Paths.get(lastDir))
    lastDir = d
  }

  def report(m: Meter): Map[String, M] = Map(
    "turns_per_s" -> M(Workloads.perS(m), "turns/s"),
    "sink_bytes_per_turn" -> M(compacts.last._2.toDouble / in.turns, "B/turn"))

  def gate: Map[String, Any] = Map("sink" -> (lastDir + "/sink"),
    "committed" -> committed.lastOption.getOrElse(-1L),
    "committed_consistent" -> (committed.distinct.size == 1), "late_turns" -> late)

  def oracleNames: Seq[String] = Seq("p4_route_counts")

  /** The headline route job over every delivered turn, untraced. */
  override def reference(c: Ctx): Double =
    Stats.median((1 to c.ladderReps).map(_ => Workloads.timeS(
      Workloads.routeJob(c.spark, c.spark.read.parquet(in.dir)))._2))

  def layers(c: Ctx, t: Tracer, m: Meter): Map[String, M] = {
    val ladder = Workloads.routeLadder(c.spark, t, c.ladderReps,
      () => c.spark.read.parquet(in.dir), in.turns, in.bytes, c.reference)
    val incs = m.ok.filter(_.label == "ckpt.increment").flatMap(_.span)
    // jobs by the Checkpoint method that ran them; the first increment has
    // no ledger to read yet, so only later ones count
    def named(u: Span): Map[String, Double] = {
      val ss = Workloads.sites(t, u)
      def sec(p: String => Boolean) = Workloads.jobSeconds(ss.filter(x => p(x._1)).flatMap(_._2))
      Map(
        "watermark" -> sec(_.contains("Checkpoint.lastWatermark")),
        "batches" -> sec(_.contains("Checkpoint.committedBatches")),
        "route_count" -> sec(_.startsWith("count at Checkpoint.runIncrement")),
        "commit" -> sec(_.contains("Checkpoint.commitBatch")))
    }
    val later = incs.drop(1)
    def med(k: String) = M(Stats.median(later.map(u => named(u)(k))), "s")
    val cyc = cycles.last.filter(_.ok).map(_.wallS)
    val q = math.max(1, cyc.length / 4)
    val compactSpans = t.spans.filter(_.name == "ckpt.compact")
    val (st, bytes) = compacts.last
    Map(
      "ckpt.watermark_s" -> med("watermark"),
      "ckpt.batches_s" -> med("batches"),
      "ckpt.route_count_s" -> med("route_count"),
      "ckpt.commit_s" -> med("commit"),
      "ckpt.compact_s" -> M(Stats.median(compactSpans.map(_.seconds).toSeq), "s"),
      "ckpt.jobs_per_increment" -> M(Stats.median(later.map(u => t.jobsIn(u).size.toDouble)), "count"),
      "ckpt.increment_growth" -> M(Stats.median(cyc.takeRight(q)) / Stats.median(cyc.take(q)), "ratio"),
      "ckpt.files_before_compact" -> M(st.filesBefore.toDouble, "count"),
      "ckpt.files_after_compact" -> M(st.filesAfter.toDouble, "count"),
      "ckpt.output_bytes" -> M(bytes.toDouble, "B"),
      "ckpt.committed_turns" -> M(committed.last.toDouble, "count"),
      "ckpt.late_turns" -> M(late.toDouble, "count")) ++ ladder
  }
}

// -------------------------------------------------------------- queries

final class Queries extends Workload {
  private var names: Seq[String] = Nil
  private val rows = mutable.Map[String, Long]()
  private var consistent = true
  private val passes = mutable.ArrayBuffer[Seq[Sample]]()
  private var dir: String = _

  def prepare(c: Ctx): Map[String, Any] = {
    dir = c.root + "/perfbench/data/sf0.001"
    names = c.queries
    Map("dir" -> "perfbench/data/sf0.001", "queries" -> names)
  }

  private def order(c: Ctx, i: Int): Seq[String] =
    new scala.util.Random(c.seed * 1000003L + i).shuffle(names)

  private def runOne(c: Ctx, n: String): Long = SparkEntry.queries(n)(c.spark, dir).count()

  /** Later passes keep getting faster; a fixed pass count keeps runs comparable. */
  override def minCycles: Int = 2

  def warmup(c: Ctx, rep: Int): Unit = order(c, -rep).foreach(runOne(c, _))

  def cycle(c: Ctx, m: Meter, i: Int): Unit = {
    val before = m.samples.length
    order(c, i).foreach { n =>
      m.unit(n, 1)(runOne(c, n)).foreach { r =>
        if (rows.get(n).exists(_ != r)) consistent = false
        rows(n) = r
      }
      // what a query leaves behind depends on which one ran last, so the
      // heap is read after every query, not only after the pass
      m.sampleHeap()
    }
    passes += m.samples.drop(before).toSeq
  }

  def report(m: Meter): Map[String, M] = {
    val full = passes.filter(p => p.nonEmpty && p.forall(_.ok))
    Map("queries_s" -> M(if (full.isEmpty) Double.NaN
      else Stats.median(full.map(_.map(_.wallS).sum).toSeq), "s"))
  }

  def gate: Map[String, Any] = Map("rows" -> rows.toMap, "consistent" -> consistent)

  def oracleNames: Seq[String] = names

  def layers(c: Ctx, t: Tracer, m: Meter): Map[String, M] = {
    t.drain()
    // traced passes only: their units carry spans
    val full = passes.filter(p => p.nonEmpty && p.forall(_.ok)).map(_.flatMap(_.span))
      .filter(_.nonEmpty)
    def perPass(f: Seq[Span] => Double) = Stats.median(full.map(f).toSeq)
    def tier(p: String) = M(perPass(ss => ss.filter(_.name.startsWith(p)).map(_.seconds).sum), "s")
    val qes = (ss: Seq[Span]) => ss.flatMap(t.qesIn)
    val st = (ss: Seq[Span]) => ss.flatMap(t.stagesIn)
    Map(
      "queries.p_s" -> tier("p"), "queries.q_s" -> tier("q"), "queries.t_s" -> tier("t"),
      "queries.d_s" -> tier("d"), "queries.e_s" -> tier("e"), "queries.m_s" -> tier("m"),
      "queries.analysis_s" -> M(perPass(ss => qes(ss).map(_.analysisMs).sum / 1e3), "s"),
      "queries.optimization_s" -> M(perPass(ss => qes(ss).map(_.optimizationMs).sum / 1e3), "s"),
      "queries.planning_s" -> M(perPass(ss => qes(ss).map(_.planningMs).sum / 1e3), "s"),
      "queries.jobs" -> M(perPass(ss => ss.map(s => t.jobsIn(s).size).sum.toDouble), "count"),
      "queries.exec_cpu_s" -> M(perPass(ss => st(ss).map(_.cpuNs).sum / 1e9), "s"),
      "queries.shuffle_bytes" -> M(perPass(ss => st(ss).map(_.shuffleWrite).sum.toDouble), "B"),
      "queries.gc_s" -> M(perPass(ss => st(ss).map(_.gcMs).sum / 1e3), "s")
    ) ++ names.map(n => s"q.${n}_s" ->
      M(perPass(ss => ss.filter(_.name == n).map(_.seconds).sum), "s"))
  }
}
