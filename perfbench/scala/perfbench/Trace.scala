package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.sources.CommitLog
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.{FloatVecDot, FloatVecSqDist}
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of one layer. Every span of an op carries that op's id;
  * `parent` names the span that caused it ("op", "exec:<id>"). */
final case class Span(op: Long, layer: String, name: String, parent: String,
                      startMs: Double, endMs: Double)

/** What the layers did for one op. */
final class OpCounts {
  var queries, jobs, stages, tasks, vecdotPlans = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var cpuNs, gcMs, scanBytes, shuffleBytes, spillBytes = 0L
  var lists, reads, readBytes, puts, putConflicts, storeNs = 0L
}

final case class TracedOp(id: Long, kind: String, startMs: Double, endMs: Double,
                          counts: OpCounts, spans: Seq[Span]) {
  def seconds: Double = (endMs - startMs) / 1e3
  /** Op wall time not covered by any Spark job: planning, driver-side
    * commit-log work, result handling and scheduling latency. */
  def driverGapS: Double =
    (endMs - startMs - Trace.covered(spans.filter(_.layer == "spark"), startMs, endMs)) / 1e3
}

/** Records spans and counts per op from Spark's listener APIs and a
  * counting commit-log store. Ops run one at a time; after each op the
  * listener bus is drained, so every event that op caused is attributed to
  * it and counts repeat exactly between runs of one seed. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNanos) / 1e6

  private var counts = new OpCounts
  private var spans = mutable.ArrayBuffer[Span]()
  private val jobStarts = mutable.Map[Int, (Long, String)]()
  private val execStarts = mutable.Map[Long, Long]()
  val ops = mutable.ArrayBuffer[TracedOp]()
  /** Client-thread time spent in tracing bookkeeping (the drains). */
  var overheadS = 0.0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      counts.jobs += 1
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobStarts(e.jobId) = (e.time, exec.fold("op")("exec:" + _))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, parent) =>
        spans += Span(-1, "spark", s"job ${e.jobId}", parent, t0.toDouble, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized { counts.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      counts.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        counts.cpuNs += m.executorCpuTime
        counts.gcMs += m.jvmGCTime
        counts.scanBytes += m.inputMetrics.bytesRead
        counts.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        counts.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Trace.this.synchronized { execStarts(s.executionId) = s.time }
      case s: SparkListenerSQLExecutionEnd => Trace.this.synchronized {
        execStarts.remove(s.executionId).foreach { t0 =>
          spans += Span(-1, "sql", s"exec:${s.executionId}", "op", t0.toDouble, s.time.toDouble)
        }
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val vecdot = scala.util.Try(Trace.hasVecDot(qe)).getOrElse(false)
      Trace.this.synchronized {
        counts.queries += 1
        if (vecdot) counts.vecdotPlans += 1
        phases.foreach { case (name, p) =>
          name match {
            case "analysis" => counts.analysisMs += p.durationMs
            case "optimization" => counts.optimizationMs += p.durationMs
            case "planning" => counts.planningMs += p.durationMs
            case _ =>
          }
          spans += Span(-1, "catalyst", name, "op", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
      }
    }
  }

  /** Listeners attach to the session before any workload clones it, so
    * cloned sessions (Dispatch) inherit the query-execution listener. */
  def install(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs `body` as op `id`; returns its wall seconds, or throws. */
  def op(id: Long, kind: String)(body: => Unit): Double = {
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      if (enabled) {
        Bus.drain(spark.sparkContext)
        val done = synchronized {
          val c = counts; val s = spans.toSeq.map(_.copy(op = id))
          counts = new OpCounts; spans = mutable.ArrayBuffer[Span]()
          (c, s)
        }
        ops += TracedOp(id, kind, t0, t1, done._1, done._2)
        overheadS += (nowMs - t1) / 1e3
      }
    }
    (nowMs - t0) / 1e3
  }

  /** Discards what was recorded outside any op (set-up, warm-up). */
  def reset(): Unit = if (enabled) {
    Bus.drain(spark.sparkContext)
    synchronized { counts = new OpCounts; spans.clear() }
    ops.clear(); overheadS = 0.0
  }

  /** The commit-log store the workloads pass through `store`: counting
    * and span-recording when tracing, the library default otherwise. */
  val store: CommitLog.LogStore =
    if (!enabled) CommitLog.LocalStore
    else new CommitLog.LogStore {
      private def timed[T](name: String)(f: => T)(count: (OpCounts, T) => Unit): T = {
        val t0 = nowMs; val n0 = System.nanoTime()
        val r = f
        val dn = System.nanoTime() - n0
        Trace.this.synchronized {
          count(counts, r); counts.storeNs += dn
          spans += Span(-1, "commitlog", name, "op", t0, t0 + dn / 1e6)
        }
        r
      }
      def putIfAbsent(target: Path, content: String): Boolean =
        timed("put")(CommitLog.LocalStore.putIfAbsent(target, content)) { (c, ok) =>
          c.puts += 1; if (!ok) c.putConflicts += 1
        }
      def read(p: Path): String =
        timed("read")(CommitLog.LocalStore.read(p)) { (c, s) =>
          c.reads += 1; c.readBytes += s.getBytes(UTF_8).length
        }
      def list(dir: Path): Seq[Path] =
        timed("list")(CommitLog.LocalStore.list(dir)) { (c, _) => c.lists += 1 }
    }

  /** Writes every op's spans, each with its self time (its duration minus
    * the time its child spans cover), as JSON lines. */
  def write(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val sb = new StringBuilder
    def num(d: Double) = f"$d%.3f"
    ops.foreach { o =>
      val opSpan = Span(o.id, "op", o.kind, "", o.startMs, o.endMs)
      (opSpan +: o.spans).foreach { s =>
        val key = if (s.layer == "op") "op" else s.name
        val kids = o.spans.filter(c => c.parent == key && (c ne s))
        val self = s.endMs - s.startMs - Trace.covered(kids, s.startMs, s.endMs)
        sb ++= s"""{"op":${s.op},"layer":"${s.layer}","name":"${s.name}","parent":"${s.parent}",""" +
          s""""start_ms":${num(s.startMs)},"end_ms":${num(s.endMs)},"self_ms":${num(self)}}""" + "\n"
      }
    }
    Files.write(file, sb.toString.getBytes(UTF_8))
  }
}

object Trace {
  /** Milliseconds of [lo, hi] covered by the union of `spans`. */
  def covered(spans: Seq[Span], lo: Double, hi: Double): Double = {
    val iv = spans.map(s => (math.max(lo, s.startMs), math.min(hi, s.endMs)))
      .filter(p => p._2 > p._1).sortBy(_._1)
    var total = 0.0; var curLo = Double.NaN; var curHi = Double.NaN
    iv.foreach { case (a, b) =>
      if (curHi.isNaN || a > curHi) {
        if (!curHi.isNaN) total += curHi - curLo
        curLo = a; curHi = b
      } else curHi = math.max(curHi, b)
    }
    if (!curHi.isNaN) total += curHi - curLo
    total
  }

  /** True when the optimized plan evaluates a native vector kernel. */
  def hasVecDot(qe: QueryExecution): Boolean =
    qe.optimizedPlan.exists(_.expressions.exists(_.exists {
      case _: FloatVecDot | _: FloatVecSqDist => true
      case _ => false
    }))
}
