package perfbench

import java.io.File

import scala.collection.mutable

import graft.operators.Similarity
import graft.streaming.SemDedupStream
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** Streaming semantic dedup: `SemDedupStream` over embedding batches fed
  * through a real streaming query (`MemoryStream`, one
  * `processAllAvailable` per trigger). The seed assigns the generated
  * vectors to batches. The run feeds a fixed number of batches, sized from
  * `--seconds`, because the check compares the stream's final verdicts with
  * the one-shot `Similarity.semDedup` over exactly the vectors fed. */
final class StreamDedup(ctx: Ctx) extends Workload {
  import StreamDedup._
  private val spark = ctx.spark
  import spark.implicits._
  private var dir: String = _
  private var batches: Seq[Seq[(Long, Array[Float])]] = Nil
  private var fed = 0
  /** A traced run feeds two more triggers per cycle, so state growth
    * shows. */
  def cycleOps: Int = if (ctx.trace.enabled) 3 else 1
  def cycleSeconds: Double = if (ctx.trace.enabled) 18.0 else 3.0
  private val timedBatches = cycleOps * math.max(1, math.round(ctx.seconds / cycleSeconds).toInt)
  private var input: MemoryStream[(Long, Array[Float])] = _
  private var query: StreamingQuery = _
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  private def state = new File(ctx.work, "sem-state")

  def prepare(d: File): Unit = {
    dir = d.getPath
    val gen = new Gen(spark, ctx.seed)
    gen.write(d, "embeddings", gen.embeddings((1 + timedBatches) * BatchRows))
  }

  private def trigger(): Op = {
    val b = batches(fed); fed += 1
    Op("trigger", b.size, () => {
      input.addData(b)
      query.processAllAvailable()
      progress ++= query.recentProgress.filter(p => p.numInputRows > 0 &&
        !progress.exists(_.batchId == p.batchId))
    })
  }

  def warmup(): Unit = {
    // every generated vector is fed: the warm-up batch, then the timed ones
    val vecs = graft.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    batches = ctx.rng.shuffle(vecs.toSeq).grouped(BatchRows).toSeq
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    input = MemoryStream[(Long, Array[Float])]
    query = SemDedupStream.semDedupStream(input.toDF().toDF("vec_id", "embedding"), dir,
      state.getPath, new File(ctx.work, "sem-checkpoint").getPath,
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    trigger().run()
    progress.clear()
  }

  def next(): Op = trigger()


  /** The stream's verdicts over everything fed equal the one-shot batch
    * operator over the same vectors. */
  def check(): Seq[String] = {
    query.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
      df.select("vec_id", "cluster", "c_sim", "kept").collect().toSet
    val Seq(streamed, oneShot) = Par.map(Seq(() => SemDedupStream.current(spark, state.getPath),
      () => Similarity.semDedup(spark, dir)))(f => rows(f()))
    val problems = mutable.ArrayBuffer[String]()
    if (fed != batches.size) problems += s"fed $fed of ${batches.size} batches"
    if (streamed != oneShot)
      problems += s"stream verdicts differ from the one-shot run: ${streamed.diff(oneShot).size} " +
        s"stream-only, ${oneShot.diff(streamed).size} batch-only rows"
    if (!oneShot.exists(r => !r.getBoolean(3))) problems += "no duplicate found: the check is vacuous"
    problems.toSeq
  }

  private def files(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(files).sum else 1

  override def perLayer(ops: Seq[TracedOp]): Map[String, Double] = {
    def phase(k: String) = Main.median(progress.toSeq.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3))
    Map(
      "stream.add_batch_s" -> phase("addBatch"),
      "stream.query_planning_s" -> phase("queryPlanning"),
      "stream.wal_commit_s" -> phase("walCommit"),
      "stream.jobs_per_trigger" -> ops.map(_.counts.jobs).sum.toDouble / math.max(1, ops.size),
      "stream.trigger_growth" -> ops.lastOption.map(_.seconds / ops.head.seconds).getOrElse(0.0),
      "stream.state_files" -> files(state).toDouble)
  }
}

object StreamDedup {
  val BatchRows = 40
}
