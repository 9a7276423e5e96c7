package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One unit of closed-loop work: one latency sample. `requests` is how
  * many attempted units it carries (a dispatch call serves several
  * requests), `rows` how many input rows it consumes. */
final case class Op(kind: String, rows: Long, run: () => Unit, requests: Int = 1)

/** What every workload provides to the timed loop in [[Main]]. */
trait Workload {
  /** Generates this run's inputs under `dir` from the seed. */
  def prepare(dir: File): Unit
  /** Runs every op kind once, untimed. */
  def warmup(): Unit
  /** The next op of the seeded sequence (input for it is made here,
    * outside the timed call). */
  def next(): Op
  /** Ops in one cycle of the sequence: every op kind in its share. */
  def cycleOps: Int
  /** Seconds one cycle takes on 4 cores; a run is the whole number of
    * cycles nearest `--seconds` (at least one), so every run of a seed
    * does the same work and its counts repeat exactly. */
  def cycleSeconds: Double
  /** Output checks, run after the timed region; returns the failures. */
  def check(): Seq[String]
  /** Workload metrics, printed with the end-to-end ones. */
  def extra(): Map[String, (Double, String)] = Map.empty
  /** Per-layer metrics of this workload's own layers. */
  def perLayer(ops: Seq[TracedOp]): Map[String, Double] = Map.empty
}

/** Runs independent driver-side calls on four client threads (the
  * untimed cold passes and checks; timed ops always run one at a time). */
object Par {
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fs = xs.map(x => scala.concurrent.Future(f(x)))
      fs.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
  }
}

final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double, val work: File,
                val trace: Trace) {
  val rng = new scala.util.Random(seed)
}

object Main {

  val AnalyticsQueries: Seq[String] = Seq(
    "agg_interaction", "agg_user", "user_energy", "drawing_pattern", "user_proximity",
    "q1_agg", "join_revenue", "window_topk_orders", "ann_ivf", "data_profile",
    "dedup_minhash_lsh")

  val CommitLogKinds: Seq[String] =
    Seq("ingest", "merge", "delete", "read", "time_travel", "cdc", "maintain")

  /** Every per-layer metric and its unit, in BENCHMARK.json order. A layer
    * a workload does not touch reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.queries_per_op" -> "count",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.driver_gap_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.scan_bytes" -> "B",
    "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B") ++
    AnalyticsQueries.map(q => s"operators.${q}_p50_s" -> "s") ++ Seq(
    "plans.vecdot_plans" -> "count",
    "dispatch.call_p50_s" -> "s", "dispatch.jobs_per_request" -> "count",
    "dispatch.fulfilled_ratio" -> "ratio", "dispatch.ledger_files" -> "count",
    "commitlog.lists_per_op" -> "count", "commitlog.reads_per_op" -> "count",
    "commitlog.read_bytes_per_op" -> "B", "commitlog.puts_per_op" -> "count",
    "commitlog.put_conflict_ratio" -> "ratio", "commitlog.store_s" -> "s",
    "commitlog.table_bytes_per_row" -> "B/row") ++
    CommitLogKinds.map(k => s"commitlog.${k}_p50_s" -> "s") ++ Seq(
    "stream.add_batch_s" -> "s", "stream.query_planning_s" -> "s",
    "stream.wal_commit_s" -> "s", "stream.jobs_per_trigger" -> "count",
    "stream.trigger_growth" -> "ratio", "stream.state_files" -> "count",
    "trace.ops_per_s" -> "1/s", "trace.overhead_share" -> "ratio")

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(args)
    val name = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val traced = a("trace") == "1"
    val work = new File(a("work"))

    val spark = GraftSession.local(4, "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val trace = new Trace(spark, traced)
    trace.install()
    val ctx = new Ctx(spark, seed, seconds, work, trace)
    val wl: Workload = name match {
      case "analytics" => new Analytics(ctx)
      case "requests" => new Requests(ctx)
      case "table_writes" => new TableWrites(ctx)
      case "stream_dedup" => new StreamDedup(ctx)
    }

    // set-up: inputs are generated three times into fresh directories and
    // the median counts; the last copy is the one the run uses
    val genS = (0 until 3).map { i =>
      val dir = new File(work, s"input$i")
      if (i > 0) Gen.delete(new File(work, s"input${i - 1}"))
      val t0 = System.nanoTime(); wl.prepare(dir); (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime(); wl.warmup(); val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(genS) + warmS
    trace.reset()

    // timed region: closed loop, one client thread
    val lat = mutable.ArrayBuffer[Double]()
    val byKind = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    var attempted = 0L; var failed = 0L; var rows = 0L; var ops = 0L
    val limit = wl.cycleOps * math.max(1L, math.round(seconds / wl.cycleSeconds))
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (ops < limit) {
      val op = wl.next()
      var d = 0.0
      val ok = try { d = trace.op(ops, op.kind)(op.run()); true } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op ${op.kind} failed: $e"); false
      }
      ops += 1; attempted += op.requests
      if (ok) {
        rows += op.rows; lat += d
        byKind.getOrElseUpdate(op.kind, mutable.ArrayBuffer()) += d
      }
      else failed += op.requests
    }
    val wall = elapsed

    val problems = mutable.ArrayBuffer[String]()
    problems ++= (try wl.check() catch { case e: Throwable => Seq(s"check crashed: $e") })
    if (failed > 0) problems += s"$failed of $attempted ops failed"

    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", ops / wall, "1/s"),
      ("rows_per_s", rows / wall, "rows/s"))
    // A run has 2-15 ops of up to 11 kinds, so its median op is whichever
    // kind sits at the middle rank (its spread across seeds came within
    // 0.05 of the 0.25 bound on analytics and table_writes) and p90 has
    // fewer than ten samples beyond it: both are printed for reading;
    // per-kind medians are per-layer metrics
    val info: Seq[(String, Double, String)] = Seq(
      ("op_p50_s", quantile(lat.toSeq, 0.5), "s"),
      ("op_p90_s", quantile(lat.toSeq, 0.9), "s"),
      ("failed_ratio", failed.toDouble / math.max(1L, attempted), "ratio"),
      ("ops", ops.toDouble, "count"), ("latency_samples", lat.size.toDouble, "count"),
      ("timed_s", wall, "s"), ("session_s", sessionS, "s"),
      ("generate_s", median(genS), "s"), ("warmup_s", warmS, "s")) ++
      wl.extra().toSeq.map { case (k, (v, u)) => (k, v, u) } ++
      byKind.toSeq.map { case (k, ds) => (s"p50_s.$k", median(ds.toSeq), "s") }

    val layer: Map[String, Double] = if (!traced) Map.empty else {
      val t = trace.ops.toSeq
      val n = math.max(1, t.size).toDouble
      def per(f: OpCounts => Double) = t.map(o => f(o.counts)).sum / n
      Map(
        "catalyst.analysis_s" -> per(_.analysisMs / 1e3),
        "catalyst.optimization_s" -> per(_.optimizationMs / 1e3),
        "catalyst.planning_s" -> per(_.planningMs / 1e3),
        "catalyst.queries_per_op" -> per(_.queries.toDouble),
        "spark.jobs_per_op" -> per(_.jobs.toDouble),
        "spark.stages_per_op" -> per(_.stages.toDouble),
        "spark.tasks_per_op" -> per(_.tasks.toDouble),
        "spark.driver_gap_s" -> t.map(_.driverGapS).sum / n,
        "spark.executor_cpu_s" -> per(_.cpuNs / 1e9),
        "spark.gc_s" -> per(_.gcMs / 1e3),
        "spark.scan_bytes" -> per(_.scanBytes.toDouble),
        "spark.shuffle_bytes" -> per(_.shuffleBytes.toDouble),
        "spark.spill_bytes" -> per(_.spillBytes.toDouble),
        "plans.vecdot_plans" -> t.map(_.counts.vecdotPlans).sum.toDouble,
        "trace.ops_per_s" -> ops / wall,
        "trace.overhead_share" -> trace.overheadS / wall) ++ wl.perLayer(t)
    }
    if (traced) {
      val out = Paths.get(a("trace-out"), s"$name-seed$seed.jsonl")
      trace.write(out)
      println(s"trace spans: $out")
    }

    val shown: Seq[(String, Double, String)] =
      if (traced) PerLayer.map { case (k, u) => (k, layer.getOrElse(k, 0.0), u) } else e2e
    println(s"workload $name seed $seed trace ${if (traced) 1 else 0}")
    (shown ++ info).foreach { case (k, v, u) => println(f"  $k%-36s $v%16.6f $u") }
    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val metrics = shown.map { case (k, v, u) => s"""${js(k)}:{"value":$v,"unit":${js(u)}}""" }
      .mkString("{", ",", "}")
    val result = s"""{"attempted":$attempted,"failed":$failed,"metrics":$metrics,""" +
      s""""problems":${problems.map(js).mkString("[", ",", "]")}}"""
    Files.write(new File(work, "result.json").toPath, result.getBytes(UTF_8))
    System.err.println(f"[perfbench] checks and metrics took ${(System.nanoTime() - t0) / 1e9 - wall}%.2f s")
    val s0 = System.nanoTime()
    spark.stop()
    System.err.println(f"[perfbench] session stop took ${(System.nanoTime() - s0) / 1e9}%.2f s")
    // lingering non-daemon threads (listener pools, codegen caches) would
    // otherwise hold the JVM open for seconds after the session stops
    sys.exit(0)
  }
}
