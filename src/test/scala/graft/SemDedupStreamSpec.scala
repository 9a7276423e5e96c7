package graft

import graft.operators.Similarity
import graft.streaming.SemDedupStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming SemDeDup ([[SemDedupStream]]): stream == batch after every
  * micro-batch, replay convergence, first-admission-wins under id
  * conflicts, and the documented PREFIX cell-cap divergence.
  */
class SemDedupStreamSpec extends SparkSpec {

  import spark.implicits._

  private def plantedEmbs = Seq(
    1L -> Array(1.0f, 0.10f, 0f, 0f, 0f, 0f, 0f, 0f),
    2L -> Array(1.0f, 0.12f, 0f, 0f, 0f, 0f, 0f, 0f),
    3L -> Array(0.05f, 0f, 1.0f, 0f, 0f, 0f, 0f, 0f),
    4L -> Array(0f, 1.0f, 0.3f, 0f, 0f, 0f, 0f, 0f),
    5L -> Array(0f, 1.0f, 0.3f, 0f, 0f, 0f, 0f, 0f)
  ).toDF("vec_id", "embedding")

  private def plantedCents = Seq(
    (0, Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
    (1, Array(0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
  ).toDF("c_label", "cl")

  private def key(df: DataFrame): Map[Long, (Int, Double, Boolean)] =
    df.collect().map(r => r.getLong(0) ->
      (r.getInt(1), r.getDouble(2), r.getBoolean(3))).toMap

  test("stream equals one-shot after EVERY micro-batch; replay and id-conflict re-arrival are no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("semdedup_stream").toString
    val embs = plantedEmbs.cache()
    // batch 0: v1 (half of the cluster-0 pair) + v3 (never pairs)
    // batch 1: v2 (closes the CROSS-BATCH pair with v1) + v4
    // batch 2: v5 (closes the identical-tie pair with v4)
    val batches = Seq(Seq(1L, 3L), Seq(2L, 4L), Seq(5L))
    batches.zipWithIndex.foreach { case (ids, b) =>
      SemDedupStream.processBatchWith(spark,
        embs.filter(col("vec_id").isInCollection(ids)), plantedCents,
        dir, b.toLong, tau = 0.9, maxCell = 5000)
      val soFar = batches.take(b + 1).flatten
      val expect = key(Similarity.semDedupFrom(
        embs.filter(col("vec_id").isInCollection(soFar)), plantedCents,
        tau = 0.9, maxCell = 5000))
      val got = key(SemDedupStream.current(spark, dir))
      assert(got == expect, s"after batch $b: $got vs $expect")
    }
    // the planted verdicts themselves (the batch spec's assertions,
    // reproduced through the stream): high-centroid-sim member of the
    // cross-batch pair lost, tie removed the larger id, v3 untouched
    val fin = key(SemDedupStream.current(spark, dir))
    assert(!fin(1L)._3 && fin(2L)._3 && fin(3L)._3 && fin(4L)._3 && !fin(5L)._3)

    // replay of the LAST batch (crash-recovery path) converges
    SemDedupStream.processBatchWith(spark,
      embs.filter(col("vec_id") === 5L), plantedCents, dir, 2L,
      tau = 0.9, maxCell = 5000)
    assert(key(SemDedupStream.current(spark, dir)) == fin, "replay must be a no-op")

    // a CONFLICTING re-arrival of an admitted id (different embedding)
    // is dropped — first admission wins (the LshStream corpus contract)
    val conflict = Seq(1L -> Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 1.0f))
      .toDF("vec_id", "embedding")
    SemDedupStream.processBatchWith(spark, conflict, plantedCents, dir, 3L,
      tau = 0.9, maxCell = 5000)
    assert(key(SemDedupStream.current(spark, dir)) == fin,
      "re-arrived id must not reassign or re-pair")
  }

  test("cell cap is PREFIX semantics: losers found while the cell was small persist") {
    val dir = java.nio.file.Files.createTempDirectory("semdedup_prefix").toString
    val embs = plantedEmbs.cache()
    // maxCell = 2: batch 0 carries the full cluster-0 near-dup pair
    // (cell size 2 — under cap, v1 loses); batch 1 adds a third
    // cluster-0 near-dup, pushing the ACCUMULATED cell to 3 > cap
    SemDedupStream.processBatchWith(spark,
      embs.filter(col("vec_id").isin(1L, 2L)), plantedCents, dir, 0L,
      tau = 0.9, maxCell = 2)
    val after0 = key(SemDedupStream.current(spark, dir))
    assert(!after0(1L)._3 && after0(2L)._3, "under-cap pair must resolve")
    val third = Seq(6L -> Array(1.0f, 0.11f, 0f, 0f, 0f, 0f, 0f, 0f))
      .toDF("vec_id", "embedding")
    SemDedupStream.processBatchWith(spark, third, plantedCents, dir, 1L,
      tau = 0.9, maxCell = 2)
    val after1 = key(SemDedupStream.current(spark, dir))
    // stream: the oversized cell stops pairing (v6 kept) but v1's loss
    // persists; one-shot over the union would keep ALL THREE (the cell
    // is dropped wholesale) — the documented divergence
    assert(!after1(1L)._3, "prefix: the batch-0 loser persists")
    assert(after1(6L)._3, "over-cap cell must not pair the newcomer")
    val oneShot = key(Similarity.semDedupFrom(
      embs.filter(col("vec_id").isin(1L, 2L)).unionByName(third), plantedCents,
      tau = 0.9, maxCell = 2))
    assert(oneShot(1L)._3, "one-shot drops the oversized cell retroactively")
  }

  test("randomized batch splits: stream equals one-shot under arbitrary arrival partitions") {
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding").cache()
    val expect = key(Similarity.semDedup(spark, sf))
    (1 to 3).foreach { seed =>
      val dir = java.nio.file.Files.createTempDirectory(s"semdedup_rnd$seed").toString
      val nb = 2 + seed % 3
      (0 until nb).foreach { b =>
        SemDedupStream.processBatch(spark,
          embs.filter(pmod(xxhash64(col("vec_id"), lit(seed)), lit(nb)) === b),
          sf, dir, b.toLong)
      }
      assert(key(SemDedupStream.current(spark, dir)) == expect,
        s"seed $seed ($nb batches) diverged from the one-shot run")
    }
  }

  test("fixture corpus through the public surface equals the registered one-shot query") {
    val dir = java.nio.file.Files.createTempDirectory("semdedup_sf").toString
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding").cache()
    (0 until 3).foreach { b =>
      SemDedupStream.processBatch(spark,
        embs.filter(pmod(col("vec_id"), lit(3)) === b), sf, dir, b.toLong)
    }
    val got = key(SemDedupStream.current(spark, dir))
    val expect = key(Similarity.semDedup(spark, sf))
    assert(got.size == expect.size && got == expect,
      s"stream/batch diverged on the fixture corpus (${got.size} vs ${expect.size})")
  }

  test("trained-centroid stream equals the registered semdedup_trained one-shot") {
    val dir = java.nio.file.Files.createTempDirectory("semdedup_tr").toString
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding").cache()
    (0 until 3).foreach { b =>
      SemDedupStream.processBatchTrained(spark,
        embs.filter(pmod(col("vec_id"), lit(3)) === b), sf, dir, b.toLong)
    }
    val got = key(SemDedupStream.current(spark, dir))
    val expect = key(Similarity.semDedupTrained(spark, sf))
    assert(got.size == expect.size && got == expect,
      s"trained stream/batch diverged (${got.size} vs ${expect.size})")
  }

  test("jobs per micro-batch do not grow with the stream's history") {
    val dir = java.nio.file.Files.createTempDirectory("semdedup_jobs").toString
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding").cache()
    // seven equal batches of 60 shuffled ids: from batch 1 on, each meets
    // earlier state in both stores, so every later batch plans the same
    // reads. Each touches more than 32 id buckets: a whole-store listing
    // would add a job for every earlier batch.
    val ids = new scala.util.Random(7).shuffle(embs.select("vec_id").as[Long].collect().sorted.toSeq)
      .take(7 * 60).grouped(60).toSeq
    assert(ids.size == 7 && ids.forall(_.size == 60))
    val jobs = ids.zipWithIndex.map { case (b, i) =>
      jobsDuring(SemDedupStream.processBatch(spark,
        embs.filter(col("vec_id").isInCollection(b)), sf, dir, i.toLong))._2
    }
    assert(jobs(6) == jobs(2), s"jobs per micro-batch: ${jobs.mkString(", ")}")
  }
}
