package perfbench

import java.io.File

import scala.collection.mutable

import graft.sources.Dispatch
import org.apache.spark.sql.functions.col

/** Queued data requests served by `Dispatch.run` against a persistent
  * ledger: each op is one call carrying 1-4 new pending requests on top of
  * every request seen so far (the ledger filters the served ones). The
  * requests mix the three routed Komodo analytics and read-only `sql`
  * mode. */
final class Requests(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._
  private var dir: String = _
  private var events = 0L
  private val queue = mutable.ArrayBuffer[((Long, String, Int, String), Dispatch.Req)]()
  private val calls = mutable.ArrayBuffer[(Seq[Long], Seq[(Long, String)])]()
  private def out = new File(ctx.work, "requests-out").getPath
  private def ledger = new File(ctx.work, "ledger").getPath

  private val types = Seq("click", "signup", "error", "view", "purchase")
  private val users = Gen.users(Requests.Scale).toInt

  def prepare(d: File): Unit = {
    events = new Gen(spark, ctx.seed).fixture(d, Requests.Scale, Set("events"))("events")
    dir = d.getPath
    graft.Tables.events(spark, dir).createOrReplaceTempView("bench_events")
  }

  /** A seeded request in the `data_requests` shape, with the parsed
    * form the check routes directly. */
  private def request(id: Long): ((Long, String, Int, String), Dispatch.Req) = {
    val r = ctx.rng
    val t = types(r.nextInt(types.size))
    val (it, c, e) = (r.nextInt(10), r.nextInt(users), r.nextInt(4))
    val sql = s"SELECT user_id, count(*) AS n, sum(value) AS total FROM bench_events " +
      s"WHERE event_type = '$t' AND k % 10 = $it GROUP BY user_id"
    val req = r.nextInt(4) match {
      case 0 => Dispatch.Req(id, "aggregate_interaction_type", Some(t), None, None, Some(it.toString))
      case 1 => Dispatch.Req(id, "aggregate_user", Some(t), Some(c.toString), None, None)
      case 2 => Dispatch.Req(id, "user_energy", None, Some(c.toString), Some(e.toString), None)
      case _ => Dispatch.Req(id, "sql", None, None, None, None, Some(sql))
    }
    val fields = Seq("sessionId" -> req.sessionId, "clientId" -> req.clientId,
      "entityType" -> req.entityType, "interactionType" -> req.interactionType, "sql" -> req.sql)
      .collect { case (k, Some(v)) => s""""$k": "$v"""" }
    ((id, req.fn, 0, fields.mkString("{", ", ", "}")), req)
  }

  private def call(n: Int): Op = {
    val fresh = (0 until n).map(i => request(queue.size + i + 1L))
    queue ++= fresh
    val reqs = queue.toSeq.map(_._1).toDF("request_id", "aggregation_function", "is_it_fulfilled", "message")
    Op("dispatch", events * n, () => {
      val done = Dispatch.run(spark, dir, reqs, out, ledger)
      val ids = fresh.map(_._1._1)
      calls += ((ids, done))
      require(done.map(_._1) == ids, s"served ${done.map(_._1)}, expected $ids")
    }, requests = n)
  }

  def warmup(): Unit = Seq(1, 3).foreach(n => call(n).run())
  /** Calls come in cycles of one call of each size 1-4, in seeded order,
    * so every run serves the same mix. */
  private var sizes: Seq[Int] = Nil
  def next(): Op = {
    if (sizes.isEmpty) sizes = ctx.rng.shuffle(Seq(1, 2, 3, 4))
    val n = sizes.head; sizes = sizes.tail; call(n)
  }
  def cycleOps: Int = 4
  def cycleSeconds: Double = 6.5

  /** Every request is ledgered exactly once, and each CSV holds as many
    * rows as its analytic run directly. */
  def check(): Seq[String] = {
    val ledgered = spark.read.parquet(ledger).groupBy(col("request_id")).count()
      .as[(Long, Long)].collect().toMap
    val byId = queue.map { case (row, req) => row._1 -> req }.toMap
    val badLedger = byId.keys.toSeq.sorted.filterNot(id => ledgered.get(id).contains(1L))
      .map(id => s"request $id ledgered ${ledgered.getOrElse(id, 0L)} times")
    val extra = ledgered.keySet.diff(byId.keySet).map(id => s"unknown request $id ledgered")
    // every distinct analytic counted directly, four at a time
    val served = calls.flatMap(_._2)
    val direct = Par.map(served.map(p => byId(p._1).copy(id = 0)).distinct.toSeq) { req =>
      req -> Dispatch.route(req).toOption.get(spark, dir).count()
    }.toMap
    val badRows = served.flatMap { case (id, path) =>
      val want = direct(byId(id).copy(id = 0))
      val src = scala.io.Source.fromFile(new File(path, "part-00000.csv"))
      val got = try src.getLines().size - 1L finally src.close()
      if (got == want) None else Some(s"request $id: csv has $got rows, analytic $want")
    }
    badLedger.toSeq ++ extra ++ badRows
  }

  override def perLayer(ops: Seq[TracedOp]): Map[String, Double] = {
    val served = calls.takeRight(ops.size)
    val issued = served.map(_._1.size).sum
    Map(
      "dispatch.call_p50_s" -> Main.median(ops.map(_.seconds)),
      "dispatch.jobs_per_request" -> ops.map(_.counts.jobs).sum.toDouble / math.max(1, issued),
      "dispatch.fulfilled_ratio" -> served.map(_._2.size).sum.toDouble / math.max(1, issued),
      "dispatch.ledger_files" -> Option(new File(ledger).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet")).toDouble)
  }
}

object Requests {
  /** sf of the generated events table (10k rows at sf0.01). */
  val Scale = 0.01
}
