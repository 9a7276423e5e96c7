package graft

import org.apache.spark.sql.functions._

/** Pins [[Tables.widenedBy]]'s size-capped width policy (r19 verdict #1:
  * a pinned `defaultParallelism` repartition regressed the light window
  * pipelines at 32 cores — the pinned width must never exceed what the
  * input size supports).
  */
class WideningSpec extends SparkSpec {

  private def width(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("width is data-capped, never exceeds parallelism, rows unchanged") {
    val docs = Tables.documents(spark, sf)
    val p = spark.sparkContext.defaultParallelism
    val cur = width(docs)
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes.toLong

    def expected(bytesPerTask: Long): Int =
      math.max(cur.toLong,
        math.min(p.toLong, bytes / bytesPerTask + 1)).toInt

    val heavy = Tables.widenedBy(docs, col("doc_id"))
    val light = Tables.widenedBy(docs, Tables.WidenLightBytesPerTask, col("doc_id"))
    assert(width(heavy) === expected(Tables.WidenHeavyBytesPerTask))
    assert(width(light) === expected(Tables.WidenLightBytesPerTask))
    assert(width(heavy) <= p)
    assert(width(light) <= width(heavy))
    // widening is pure redistribution
    assert(light.count() === docs.count())
    assert(heavy.count() === docs.count())
  }

  test("already-wide input is returned untouched (production no-op guard)") {
    val p = spark.sparkContext.defaultParallelism
    val wide = Tables.documents(spark, sf).repartition(p, col("doc_id"))
    // cur >= p: no extra exchange is inserted — the very same frame back
    assert(Tables.widenedBy(wide, col("doc_id")) eq wide)
  }

  test("a tiny input never pins more tasks than its bytes support") {
    // nation is ~3 KB: even the heavy cost class must stay at width 1
    // rather than fan 4 near-empty pinned tasks
    val nation = Tables.nation(spark, sf)
    val w = Tables.widenedBy(nation, col("n_nationkey"))
    assert(width(w) === width(nation))
  }

  test("width is bytes / bytesPerTask + 1, worked by hand") {
    // 5000 longs: Range estimates 8 B a row = 40,000 B, and
    // 40,000 / 16,384 (heavy class) = 2, + 1 = 3 tasks
    assume(spark.sparkContext.defaultParallelism >= 3)
    val r = spark.range(0, 5000, 1, 1).toDF()
    assert(r.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(40000))
    val w = Tables.widenedBy(r, col("id"))
    assert(width(r) === 1 && width(w) === 3)
    assert(w.count() === 5000)
    assert(Tables.widthFor(1, 8, BigInt(40000), 16L << 10) === 3)
  }

  test("an estimate above Long.MaxValue widens to full parallelism, not a wrapped width") {
    // a product of two huge inputs: the estimate is the product of the
    // children's sizes, far past Long.MaxValue even after the division
    val big = spark.range(0, Long.MaxValue, 1, 1).toDF("a")
      .crossJoin(spark.range(0, Long.MaxValue, 1, 1).toDF("b"))
    val p = spark.sparkContext.defaultParallelism
    val bytes = big.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(bytes / Tables.WidenHeavyBytesPerTask > BigInt(Long.MaxValue))
    assert(Tables.widthFor(1, p, bytes, Tables.WidenHeavyBytesPerTask) === p)
    // the planned width only: running the product is out of the question
    val w = Tables.widenedBy(big, col("a"))
    val planned = w.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
        r.numPartitions
    }
    assert(planned === Some(p))
  }
}
