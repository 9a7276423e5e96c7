package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import graft.sources.{CommitLog, Ingest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One row of the capture fact table (FIXTURES.md §1, `message` flattened). */
final case class Fact(seq: Long, capture_id: String, session_id: Int, client_id: Int,
                      `type`: String, ts: Long, entity_type: Int, interaction_type: Int,
                      x: Double, y: Double, z: Double)

/** One commit-log fact table, written and read by interleaved ops: capture
  * ingest (`Ingest.readCaptures` + `CommitLog.appendOnce`), late
  * corrections (`mergeIntoDv`), erasing a client (`deleteWhereDv`), tip
  * reads with a per-session aggregate, time-travel reads, the change feed
  * (`readChangesCdc`) and `maintain`. The benchmark keeps its own model of
  * the table at every version and checks the table against it. */
final class TableWrites(ctx: Ctx) extends Workload {
  import TableWrites._
  private val spark = ctx.spark
  import spark.implicits._
  private def store = ctx.trace.store
  private val table = new File(ctx.work, "facts").getPath
  private def captures = new File(ctx.work, "captures")

  /** Model: live rows by `seq`, and the live rows after every version. */
  private var live = Map.empty[Long, Fact]
  private val versions = mutable.Map[Long, Map[Long, Fact]]()
  private var tip = -1L
  private var nextSeq = 0L
  private var batch = 0L
  private val reads = mutable.ArrayBuffer[(Long, Set[(Int, Long, Double)])]()

  private def commit(v: Long): Unit =
    if (v >= 0) { require(v == tip + 1, s"commit landed at v$v after v$tip"); tip = v; versions(v) = live }

  /** Rows of one capture: one session, 8 clients. */
  private def captureRows(): Seq[Fact] = {
    val r = ctx.rng
    val session = 100 + r.nextInt(5)
    val start = 1630443513898L + batch * 600000L
    val cid = s"${session}_$start"
    val rows = (0 until CaptureRows).map { i =>
      val e = r.nextInt(4); val it = r.nextInt(10)
      def pos() = math.round(r.nextDouble() * 20000 - 10000) / 100.0
      Fact(nextSeq + i, cid, session, 1 + r.nextInt(8), if (r.nextInt(5) == 0) "chat" else "sync",
        start + i * 50L, e, it, pos(), pos(), pos())
    }
    nextSeq += CaptureRows
    rows
  }

  /** A capture file in the reference JSON shape (FIXTURES.md §1). */
  private def capture(): (File, Seq[Fact]) = {
    val rows = captureRows()
    val f = new File(captures, s"capture-$batch.json")
    val json = rows.map { w =>
      s"""{"capture_id":"${w.capture_id}","session_id":${w.session_id},"client_id":${w.client_id},""" +
        s""""type":"${w.`type`}","ts":${w.ts},"seq":${w.seq},"message":{"clientId":${w.client_id},""" +
        s""""entityType":${w.entity_type},"interactionType":${w.interaction_type},""" +
        s""""pos":{"x":${w.x},"y":${w.y},"z":${w.z}},"strokeType":null,"strokeId":null}}"""
    }
    Files.write(f.toPath, json.mkString("", "\n", "\n").getBytes(UTF_8))
    (f, rows)
  }

  private def factsOf(path: String): DataFrame =
    Ingest.readCaptures(spark, path).select(col("seq"), col("capture_id"), col("session_id"),
      col("client_id"), col("type"), col("ts"), col("message.entityType").as("entity_type"),
      col("message.interactionType").as("interaction_type"),
      col("message.pos.x").as("x"), col("message.pos.y").as("y"), col("message.pos.z").as("z"))

  private def ingest(): Op = {
    val (f, rows) = capture(); val b = batch; batch += 1
    Op("ingest", rows.size, () => {
      live ++= rows.map(w => w.seq -> w)
      commit(CommitLog.appendOnce(spark, table, factsOf(f.getPath), "captures", b, store = store))
    })
  }

  private def merge(): Op = {
    val r = ctx.rng
    val keys = live.keys.toSeq.sorted
    val fixed = r.shuffle(keys).take(MergeRows).map(k => live(k).copy(x = live(k).x + 1.0))
    val src = fixed ++ captureRows().take(MergeRows / 4)
    Op("merge", src.size, () => {
      live ++= src.map(w => w.seq -> w)
      commit(CommitLog.mergeIntoDv(spark, table, src.toDF(), Seq("seq"), cdc = true, store = store))
    })
  }

  private def delete(): Op = {
    val c = 1 + ctx.rng.nextInt(8)
    Op("delete", 0, () => {
      val before = live
      live = live.filter(_._2.client_id != c)
      val v = CommitLog.deleteWhereDv(spark, table, col("client_id") === c, cdc = true, store = store)
      require((v >= 0) == (live.size < before.size), s"delete of client $c returned v$v")
      commit(v)
    })
  }

  private def aggregate(df: DataFrame): Set[(Int, Long, Double)] =
    df.groupBy(col("session_id")).agg(count(lit(1)), sum(col("x")))
      .as[(Int, Long, Double)].collect().toSet

  private def read(): Op = Op("read", 0, () =>
    reads += tip -> aggregate(CommitLog.read(spark, table, None, store)))

  private def timeTravel(): Op = {
    val v = ctx.rng.nextInt(tip.toInt + 1).toLong
    Op("time_travel", 0, () => reads += v -> aggregate(CommitLog.read(spark, table, Some(v), store)))
  }

  private def cdc(): Op = {
    val from = math.max(0L, tip - 4)
    Op("cdc", 0, () => {
      val (_, changes) = CommitLog.readChangesCdc(spark, table, from, store = store)
      changes.foreach(_.write.format("noop").mode("overwrite").save())
    })
  }

  private def maintain(): Op = Op("maintain", 0, () =>
    commit(CommitLog.maintain(spark, table, maxFiles = 6, maxMaskRows = 300, targetFiles = 2,
      store = store)))

  def prepare(d: File): Unit = ()

  def warmup(): Unit = {
    captures.mkdirs()
    ingest().run()
    val v = CommitLog.setTableProperty(table, "cdc", "true", store)
    if (v >= 0) commit(v)
    Seq(ingest(), merge(), read(), timeTravel(), delete(), cdc(), maintain()).foreach(_.run())
  }

  /** One cycle: nine capture ingests and one op of every other kind, in
    * seeded order (ingest-heavy, as a capture fact table is; it also keeps
    * the median op inside the ingest cluster, so it is steady). */
  private var cycle: Seq[() => Op] = Nil
  def next(): Op = {
    if (cycle.isEmpty) cycle = ctx.rng.shuffle(Seq.fill[() => Op](9)(() => ingest()) ++
      Seq[() => Op](() => merge(), () => delete(), () => read(), () => timeTravel(), () => cdc(),
        () => maintain()))
    val op = cycle.head(); cycle = cycle.tail; op
  }
  def cycleOps: Int = 15
  def cycleSeconds: Double = 9.0

  /** The tip and one earlier version equal the model, every recorded read
    * matched the model at its version, and history has one row per commit. */
  def check(): Seq[String] = {
    def rows(v: Option[Long]) = CommitLog.read(spark, table, v).as[Fact].collect().map(f => f.seq -> f).toMap
    val past = tip / 2
    val problems = mutable.ArrayBuffer[String]()
    if (rows(None) != live) problems += s"tip v$tip differs from the model"
    if (rows(Some(past)) != versions(past)) problems += s"v$past differs from the model"
    def model(v: Long) = versions(v).values.groupBy(_.session_id).map { case (s, fs) =>
      (s, fs.size.toLong, fs.toSeq.sortBy(_.seq).map(_.x).sum) }.toSet
    reads.foreach { case (v, got) =>
      val want = model(v)
      val same = got.map(g => (g._1, g._2)) == want.map(w => (w._1, w._2)) &&
        got.forall(g => want.exists(w => w._1 == g._1 && math.abs(w._3 - g._3) <= 1e-6 * (1 + math.abs(w._3))))
      if (!same) problems += s"read at v$v differs from the model"
    }
    val hist = CommitLog.history(spark, table).count()
    if (hist != tip + 1) problems += s"history has $hist rows for ${tip + 1} commits"
    problems.toSeq
  }

  /** Live data files and deletion-vector sidecars on disk per live row. */
  private def bytesPerRow: Double = {
    val files = CommitLog.snapshot(table).files ++ CommitLog.deletionVectors(table).map(_._1)
    files.map(f => new File(table, f).length()).sum.toDouble / math.max(1, live.size)
  }

  override def extra(): Map[String, (Double, String)] = Map(
    "table_bytes_per_row" -> (bytesPerRow, "B/row"),
    "commits" -> ((tip + 1).toDouble, "count"))

  override def perLayer(ops: Seq[TracedOp]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    def per(f: OpCounts => Long) = ops.map(o => f(o.counts)).sum / n
    val puts = ops.map(_.counts.puts).sum
    Map(
      "commitlog.lists_per_op" -> per(_.lists), "commitlog.reads_per_op" -> per(_.reads),
      "commitlog.read_bytes_per_op" -> per(_.readBytes), "commitlog.puts_per_op" -> per(_.puts),
      "commitlog.put_conflict_ratio" -> ops.map(_.counts.putConflicts).sum.toDouble / math.max(1L, puts),
      "commitlog.store_s" -> per(_.storeNs) / 1e9,
      "commitlog.table_bytes_per_row" -> bytesPerRow) ++
      Main.CommitLogKinds.map(k => s"commitlog.${k}_p50_s" ->
        Main.median(ops.filter(_.kind == k).map(_.seconds)))
  }
}

object TableWrites {
  val CaptureRows = 400
  val MergeRows = 40
}
