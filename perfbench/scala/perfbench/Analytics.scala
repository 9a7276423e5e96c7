package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkEntry
import graft.operators.Komodo
import org.apache.spark.sql.DataFrame

/** Read-only batch analytics: the five Komodo analytics (three with
  * seed-drawn request parameters) and the heavy kernels, each op one
  * query whose full result is evaluated through the `noop` sink (a
  * `count()` would let column pruning skip work). A cycle runs every
  * (query, parameters) key once in a seeded order. */
final class Analytics(ctx: Ctx) extends Workload {
  import Analytics._
  private val spark = ctx.spark
  private var dir: String = _
  private var rowsOf: Map[String, Long] = Map.empty

  private val types = Seq("click", "signup", "error", "view", "purchase")
  private def pickType() = types(ctx.rng.nextInt(types.size))

  /** Seed-drawn parameters for the parameterized analytics (two sets for
    * the two cheapest, so the cycle's median op sits inside the cluster of
    * sub-second queries rather than on its edge); the oracle SQL is the
    * registered DuckDB twin with the same literals swapped in. */
  private val keys: Seq[Key] = {
    val komodo = Seq.fill(2) {
      val (t1, it) = (pickType(), ctx.rng.nextInt(10))
      val (t2, c1) = (pickType(), ctx.rng.nextInt(Users))
      Seq(
        Key("agg_interaction", s"type=$t1,it=$it",
          (s, d) => Komodo.aggInteraction(s, d, t1, it),
          swap(Komodo.aggInteractionSql, "event_type = 'click' AND k % 10 = 3",
            s"event_type = '$t1' AND k % 10 = $it")),
        Key("agg_user", s"type=$t2,client=$c1",
          (s, d) => Komodo.aggUser(s, d, t2, c1),
          swap(Komodo.aggUserSql, "user_id = 5 AND event_type = 'view'",
            s"user_id = $c1 AND event_type = '$t2'")))
    }.flatten :+ {
      val (c, e) = (ctx.rng.nextInt(Users), ctx.rng.nextInt(4))
      Key("user_energy", s"client=$c,entity=$e",
        (s, d) => Komodo.userEnergy(s, d, Some(c), Some(e)),
        swap(Komodo.userEnergySql, "WHERE event_type = 'view'",
          s"WHERE event_type = 'view' AND user_id = $c AND k % 4 = $e"))
    }
    val plain = Main.AnalyticsQueries.filterNot(komodo.map(_.query).toSet).map { q =>
      Key(q, "", SparkEntry.queries(q), SparkEntry.oracleSql(q))
    }
    komodo ++ plain
  }

  def prepare(d: File): Unit = {
    rowsOf = new Gen(spark, ctx.seed).fixture(d, Scale, Tables)
    dir = d.getPath
  }

  private def run(k: Key): Unit =
    k.build(spark, dir).write.format("noop").mode("overwrite").save()

  private def oracleDir = new File(ctx.work, "oracle")
  private var vecdotPlans = 0

  /** Runs every key once, writing its full result for the oracle check
    * (the timed ops evaluate the same queries on the same inputs). The
    * keys are independent, so the cold pass runs on four client threads. */
  def warmup(): Unit =
    vecdotPlans = Par.map(keys.zipWithIndex) { case (k, i) =>
      val df = k.build(spark, dir)
      df.coalesce(1).write.parquet(new File(oracleDir, s"r$i").getPath)
      Trace.hasVecDot(df.queryExecution)
    }.count(identity)

  private var cycle: Seq[Key] = Nil
  private var pos = 0
  def next(): Op = {
    if (pos == cycle.size) { cycle = ctx.rng.shuffle(keys); pos = 0 }
    val k = cycle(pos); pos += 1
    Op(k.query, InputTables(k.query).map(rowsOf).sum, () => run(k))
  }
  def cycleOps: Int = keys.size
  def cycleSeconds: Double = 8.0

  /** Writes the manifest oracle.py compares the warm-up results with, and
    * checks that the vector rewrite is in the plans. */
  def check(): Seq[String] = {
    val manifest = keys.zipWithIndex.map { case (k, i) =>
      val sql = new File(oracleDir, s"r$i.sql")
      Files.write(sql.toPath, k.sql.getBytes(UTF_8))
      s"""{"key":"${k.id}","result":"${new File(oracleDir, s"r$i").getPath}","sql":"${sql.getPath}"}"""
    }
    val tables = Tables.toSeq.sorted.map(t => s""""$t":"${new File(dir, s"$t.parquet").getPath}"""")
    Files.write(new File(oracleDir, "manifest.json").toPath,
      s"""{"tables":{${tables.mkString(",")}},"keys":[${manifest.mkString(",")}]}""".getBytes(UTF_8))
    if (vecdotPlans == 0) Seq("plans.vecdot_plans is 0: the vector rewrite is not active") else Nil
  }

  override def perLayer(ops: Seq[TracedOp]): Map[String, Double] =
    ops.groupBy(_.kind).map { case (q, os) => s"operators.${q}_p50_s" -> Main.median(os.map(_.seconds)) }
}

object Analytics {
  /** sf of the generated fixture: 1/4 of the sf0.01 fixture's row
    * counts, so one cycle of every key fits a run. */
  val Scale = 0.0025
  val Users: Int = Gen.users(Scale).toInt

  final case class Key(query: String, params: String,
                       build: (org.apache.spark.sql.SparkSession, String) => DataFrame,
                       sql: String) {
    def id: String = if (params.isEmpty) query else s"$query($params)"
  }

  private def swap(sql: String, from: String, to: String): String = {
    require(sql.contains(from), s"oracle SQL no longer contains: $from")
    sql.replace(from, to)
  }

  /** Fixture tables each query reads (for rows_per_s). */
  val InputTables: Map[String, Seq[String]] = Map(
    "agg_interaction" -> Seq("events"), "agg_user" -> Seq("events"),
    "user_energy" -> Seq("events"), "drawing_pattern" -> Seq("events"),
    "user_proximity" -> Seq("events"), "q1_agg" -> Seq("lineitem"),
    "join_revenue" -> Seq("lineitem", "orders", "customer", "nation", "region"),
    "window_topk_orders" -> Seq("orders"), "ann_ivf" -> Seq("embeddings"),
    "data_profile" -> Seq("lineitem"), "dedup_minhash_lsh" -> Seq("documents"))

  val Tables: Set[String] = InputTables.values.flatten.toSet
}
