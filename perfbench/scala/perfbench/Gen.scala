package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Writes the project's fixture tables (the
  * schemas of FIXTURES.md §2: TPC-H-ish tables plus events, documents and
  * embeddings) as one single-row-group parquet file per table, the layout
  * `graft.Tables` reads. Every value is a hash of (seed, salt, row key),
  * so one seed gives byte-identical tables at any parallelism. Documents
  * and embeddings carry planted near-duplicates so the dedup and
  * similarity operators have pairs to find. */
final class Gen(spark: SparkSession, seed: Long) {

  private def h(salt: Int, cs: Column*): Column = xxhash64(lit(seed) +: lit(salt) +: cs: _*)
  private def pick(n: Long, salt: Int, cs: Column*): Column = pmod(h(salt, cs: _*), lit(n))
  private def sqlPick(n: Long, salt: Int, cs: String*): String =
    s"pmod(xxhash64(${seed}L, $salt, ${cs.mkString(", ")}), $n)"
  private def oneOf(xs: Seq[String], salt: Int, cs: Column*): Column =
    element_at(array(xs.map(lit): _*), (pick(xs.size, salt, cs: _*) + 1).cast("int"))
  private def money(lo: Double, hi: Double, salt: Int, cs: Column*): Column =
    round(lit(lo) + pick(((hi - lo) * 100).toLong, salt, cs: _*) / 100.0, 2)
  private def ntz(micros: Column): Column = timestamp_micros(micros).cast("timestamp_ntz")
  private def days(from: String, n: Int, salt: Int, cs: Column*): Column =
    ntz((unix_seconds(lit(from).cast("timestamp")) + pick(n, salt, cs: _*) * 86400L) * 1000000L)
  private def ids(n: Long): DataFrame = spark.range(0, math.max(n, 1), 1, 1).toDF("id")

  private val vocab = Seq("row", "the", "query", "stream", "key", "agg", "scan", "slow", "table",
    "part", "a", "merge", "window", "order", "column", "join", "vector", "fast", "spark", "line",
    "small", "customer", "group", "value", "hash", "batch", "sort", "data", "big", "filter", "dup")

  def region: DataFrame = ids(5).select(col("id").cast("int").as("r_regionkey"),
    element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
      (col("id") + 1).cast("int")).as("r_name"))

  def nation: DataFrame = ids(25).select(col("id").cast("int").as("n_nationkey"),
    concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(n: Long): DataFrame = ids(n).select(col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    pick(25, 1, col("id")).cast("int").as("c_nationkey"),
    money(-999.99, 9999.99, 2, col("id")).as("c_acctbal"),
    oneOf(Seq("BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"), 3, col("id"))
      .as("c_mktsegment"))

  def orders(n: Long, customers: Long): DataFrame = ids(n).select(col("id").as("o_orderkey"),
    pick(customers, 11, col("id")).as("o_custkey"),
    oneOf(Seq("F", "O", "P"), 12, col("id")).as("o_orderstatus"),
    money(1000.0, 500000.0, 13, col("id")).as("o_totalprice"),
    days("1995-01-01 00:00:00", 2404, 14, col("id")).as("o_orderdate"),
    oneOf(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15, col("id"))
      .as("o_orderpriority"))

  def lineitem(n: Long, orders: Long, parts: Long, suppliers: Long): DataFrame =
    ids(n).select(pick(orders, 16, col("id")).as("l_orderkey"),
      pick(parts, 17, col("id")).as("l_partkey"),
      pick(suppliers, 18, col("id")).as("l_suppkey"),
      (pick(7, 19, col("id")) + 1).cast("int").as("l_linenumber"),
      (pick(50, 20, col("id")) + 1).cast("double").as("l_quantity"),
      money(900.0, 105000.0, 21, col("id")).as("l_extendedprice"),
      (pick(11, 22, col("id")) / 100.0).as("l_discount"),
      (pick(9, 23, col("id")) / 100.0).as("l_tax"),
      oneOf(Seq("A", "N", "R"), 24, col("id")).as("l_returnflag"),
      oneOf(Seq("F", "O"), 25, col("id")).as("l_linestatus"),
      days("1995-01-02 00:00:00", 2498, 26, col("id")).as("l_shipdate"))

  /** Event stream over 30 days: ids ascend with time, `props` carries the
    * `{"k": n}` payload the Komodo analytics read. */
  def events(n: Long, users: Long): DataFrame = {
    val gapUs = 30L * 86400L * 1000000L / math.max(n, 1)
    val start = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
    ids(n).select(col("id").as("event_id"),
      ntz(lit(start) + col("id") * gapUs + pick(gapUs, 27, col("id"))).as("ts"),
      pick(users, 28, col("id")).as("user_id"),
      oneOf(Seq("click", "signup", "error", "view", "purchase"), 29, col("id")).as("event_type"),
      money(0.01, 490.02, 30, col("id")).as("value"),
      concat(lit("{\"k\": "), pick(100, 31, col("id")), lit("}")).as("props"))
  }

  /** Word-bag documents of 10-99 tokens; every tenth document is a copy
    * of one of the five before it with one token appended. */
  def documents(n: Long): DataFrame = {
    val words = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val text = s"concat_ws(' ', transform(sequence(1, 10 + CAST(${sqlPick(90, 32, "src")} AS INT)), " +
      s"i -> element_at($words, CAST(${sqlPick(vocab.size, 33, "src", "i")} AS INT) + 1)))"
    ids(n)
      .withColumn("dup", col("id") > 0 && pick(10, 34, col("id")) === 0)
      .withColumn("src", when(col("dup"),
        col("id") - 1 - pmod(h(35, col("id")), least(col("id"), lit(5L)))).otherwise(col("id")))
      .withColumn("body", expr(text))
      .withColumn("text", when(col("dup"), concat(col("body"), lit(" dup"))).otherwise(col("body")))
      .select(col("id").as("doc_id"), col("text"),
        oneOf(Seq("en", "en", "en", "de", "es", "fr", "zh"), 36, col("id")).as("lang"),
        concat(lit("src"), pick(20, 37, col("id"))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** 64-dim float vectors around ten label centroids; every tenth vector
    * is a near copy of its predecessor. */
  def embeddings(n: Long): DataFrame = {
    val emb = s"transform(sequence(0, 63), j -> CAST(" +
      s"(${sqlPick(2001, 40, "label", "j")} - 1000) / 5000.0 + " +
      s"(${sqlPick(2001, 41, "src", "j")} - 1000) / 4000.0 + " +
      s"(${sqlPick(201, 42, "id", "j")} - 100) / 20000.0 AS FLOAT))"
    ids(n)
      .withColumn("src", when(col("id") > 0 && pick(10, 43, col("id")) === 0, col("id") - 1)
        .otherwise(col("id")))
      .withColumn("label", pick(10, 44, col("src")).cast("int"))
      .select(col("id").as("vec_id"), expr(emb).as("embedding"), col("label"))
  }

  /** Writes `df` as `<dir>/<name>.parquet`, one file, one row group. */
  def write(dir: File, name: String, df: DataFrame): Unit = {
    val tmp = new File(dir, s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(dir, s"$name.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
    Gen.delete(tmp)
  }

  /** The fixture at scale factor `sf` (row counts as the project's
    * fixtures: sf0.01 has 60k lineitem and 10k events rows); `only` limits
    * the tables written (no workload reads `part` or `supplier`, so only
    * their key ranges exist). Returns the row count of every table
    * written. */
  def fixture(dir: File, sf: Double, only: Set[String]): Map[String, Long] = {
    dir.mkdirs()
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val cust = n(150000); val supp = n(10000); val parts = n(200000); val ord = n(1500000)
    val tables: Seq[(String, Long, () => DataFrame)] = Seq(
      ("region", 5L, () => region), ("nation", 25L, () => nation),
      ("customer", cust, () => customer(cust)), ("orders", ord, () => orders(ord, cust)),
      ("lineitem", n(6000000), () => lineitem(n(6000000), ord, parts, supp)),
      ("events", n(1000000), () => events(n(1000000), Gen.users(sf))),
      ("documents", n(50000), () => documents(n(50000))),
      ("embeddings", n(50000), () => embeddings(n(50000))))
    Par.map(tables.filter(t => only.contains(t._1))) { case (name, rows, df) =>
      write(dir, name, df()); name -> rows
    }.toMap
  }
}

object Gen {
  /** Distinct `user_id`s in the events table at scale factor `sf`. */
  def users(sf: Double): Long = math.max(50L, math.round(15000 * sf))

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete(); ()
  }
}
