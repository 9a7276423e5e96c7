package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.jdk.CollectionConverters._

/** Streaming semantic dedup: the incremental form of
  * [[Similarity.semDedup]] (SemDeDup, Abbas et al. 2023) — embedding
  * rows arrive in micro-batches and every τ-cosine duplicate pair
  * inside a cluster cell is detected AT ARRIVAL, with the
  * keep-lowest-centroid-similarity rule applied per pair.
  *
  * Shared machinery: assignment runs through
  * [[Similarity.semAssign]] — the SAME E-step (argmin centroid,
  * centroid-cosine identity, 8-dim sign-bucket) as the one-shot query,
  * so online and offline cell geometry cannot disagree. The batch-equality
  * contract assumes centroids are FIXED for the stream's lifetime (a
  * retrain is a new stream over new state, the
  * [[AssignStream]] retrain-pickup caveat made explicit), so
  * [[semDedupStream]] resolves them ONCE when the query starts and
  * hands every trigger the same k-row local table; [[processBatch]]
  * still derives them from `fixtureDir` per call.
  *
  * Loser monotonicity makes the incremental form exact: a vector's
  * `kept` flag only ever flips true→false (pairs accumulate; the batch
  * form's loser set over a union corpus is the union of per-pair
  * losers), so emitting each pair's loser when the pair is FIRST
  * discoverable — the batch where its second member arrives —
  * reconstructs the batch run's loser set exactly. Every candidate
  * pair has ≥1 new member and a vector is new exactly once, so each
  * pair is examined exactly once.
  *
  * State under `stateDir` (the [[LshStream]] exactly-once layout:
  * batch-partitioned stores, strictly-before reads, overwrite-my-batch
  * writes, [[BucketedState]] inner bucket partitions so per-batch
  * reads prune at the scan):
  *   - `vecs_cb` — (vec_id, embedding, norm, cluster, c_sim, sb) per
  *     admitted vector, bucketed by `cb = xxhash64(cluster, sb) % 256`:
  *     the pair probe reads only the batch's touched CELL buckets
  *   - `vecs_vb` — admitted vec_ids bucketed by `vb = vec_id % 256`:
  *     seen-ness probes only the batch's id buckets
  *   - `losers`  — per batch, the vec_ids that lost a pair in that
  *     batch (appended; a vector may lose in several batches — the
  *     reader distincts)
  *
  * Cell-cap semantics (deliberate divergence, PREFIX form — the
  * [[LshStream]] bucket-cap stance): a cell is skipped once its
  * ACCUMULATED population (old + new members) exceeds `maxCell`. The
  * one-shot form drops an oversized cell's pairs retroactively; a
  * stream cannot un-emit, so losers found while the cell was small
  * persist. Equality with the batch run over the union corpus
  * therefore holds whenever no cell exceeds the cap — the spec pins
  * both this and the prefix behavior.
  *
  * 100 TB shape per batch: assignment is batch-sized × broadcast
  * centroids (no corpus shuffle); the pair join keys on (cluster, sb)
  * with quadratic work confined to cap-guarded cells and ≥1-new-member
  * sides; every accumulated-store read lists and scans only the
  * touched buckets' directories ([[BucketedState.readBuckets]]).
  * Nothing iterates.
  */
object SemDedupStream {

  // store layout + replay-safe reads live in ONE home: BucketedState
  import BucketedState.{tablePath => path, overwriteBatch, readStore}

  /** The cell key a vector's state row buckets under. */
  private def cellKey = xxhash64(col("cluster"), col("sb"))

  /** Each bucketed store's `empty` frame for [[BucketedState.readBuckets]]:
    * the columns its readers take, which every file of the store must
    * carry (BucketedStateSpec pins them against the written files). */
  private[graft] def bucketedStores(spark: SparkSession): Map[String, DataFrame] = {
    import spark.implicits._
    Map(
      "vecs_cb" -> Seq.empty[(Long, Array[Float], Double, Int, Double, Int)]
        .toDF("vec_id", "embedding", "norm", "cluster", "c_sim", "sb"),
      "vecs_vb" -> Seq.empty[Long].toDF("vec_id"))
  }

  /** One micro-batch: admit unseen vectors, detect every τ-pair with
    * ≥1 new member inside cap-small cells, record the losers.
    * `batchId` must be the stream's monotone micro-batch id (replay
    * key AND state partition). */
  def processBatch(spark: SparkSession, newVecsRaw: DataFrame, fixtureDir: String,
                   stateDir: String, batchId: Long,
                   tau: Double = 0.3, maxCell: Int = 5000): Unit =
    processBatchWith(spark, newVecsRaw,
      Similarity.centroidTable(spark, fixtureDir), stateDir, batchId, tau, maxCell)

  /** [[processBatch]] over the Lloyd-TRAINED coarse quantizer — the
    * streaming twin of [[Similarity.semDedupTrained]] (r14: online and
    * offline semantic dedup stay label-free together). The codebook
    * store materializes the trainer once per corpus fingerprint, so a
    * long-lived stream re-reads a fixed table per batch — the
    * fixed-centroids lifetime contract above holds by construction
    * until a corpus refresh invalidates the fingerprint (which is the
    * retrain-is-a-new-stream boundary made physical). */
  def processBatchTrained(spark: SparkSession, newVecsRaw: DataFrame,
                          fixtureDir: String, stateDir: String, batchId: Long,
                          tau: Double = 0.3, maxCell: Int = 5000): Unit =
    processBatchWith(spark, newVecsRaw,
      graft.operators.Codebooks.ivf(spark, fixtureDir)
        .select(col("c_label"), col("cl")),
      stateDir, batchId, tau, maxCell)

  /** Core over an explicit centroid table (the spec's planted-geometry
    * entry; [[processBatch]] binds the fixture's label-mean table). */
  private[graft] def processBatchWith(spark: SparkSession, newVecsRaw: DataFrame,
                                      centroids: DataFrame, stateDir: String,
                                      batchId: Long, tau: Double,
                                      maxCell: Int): Unit = {
    import BucketedState._
    val vecsCbP = path(stateDir, "vecs_cb")
    val vecsVbP = path(stateDir, "vecs_vb")
    val losersP = path(stateDir, "losers")
    val empty = bucketedStores(spark)

    // seen-ness probe: only the id buckets this batch carries
    val batchIdBuckets = bucketsOf(newVecsRaw, col("vec_id"))
    val oldIds = readBuckets(spark, vecsVbP, batchId, "vb", batchIdBuckets,
      empty("vecs_vb"))

    // in-batch + cross-batch dedup by vec_id; min_by over the JSON
    // rendering's md5 gives the content total order (the LshStream
    // determinism rule applied to float arrays — first() would admit a
    // partition-order-dependent embedding under a conflicted id)
    val newRaw = newVecsRaw.select(col("vec_id"), col("embedding"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("embedding"),
        md5(to_json(struct(col("embedding"))))).as("embedding"))
      .join(oldIds, Seq("vec_id"), "left_anti")
    val newAssigned = Similarity.semAssign(newRaw, centroids)
      .localCheckpoint(true) // read 4x below; lineage is batch-local
    if (newAssigned.isEmpty) return

    // cells this batch touches; the store read prunes to their buckets
    val touchedBuckets = bucketsOf(newAssigned, cellKey)
    val oldCells = readBuckets(spark, vecsCbP, batchId, "cb", touchedBuckets,
      empty("vecs_cb"))
    val allCells = oldCells.unionByName(newAssigned)

    // accumulated cell-size gate (PREFIX semantics — see scaladoc).
    // ≤ cells-touched-this-batch rows; broadcast so gating never
    // reshuffles the union
    val smallCells = allCells.groupBy(col("cluster"), col("sb"))
      .agg(count(lit(1)).as("n")).filter(col("n") <= maxCell)
      .select(col("cluster"), col("sb"))
    val newSide = newAssigned.join(broadcast(smallCells), Seq("cluster", "sb"))
      .select(col("cluster"), col("sb"), col("vec_id").as("v1"),
        col("embedding").as("e1"), col("norm").as("n1"), col("c_sim").as("cs1"))
    val allSide = allCells.join(broadcast(smallCells), Seq("cluster", "sb"))
      .select(col("cluster"), col("sb"), col("vec_id").as("v2"),
        col("embedding").as("e2"), col("norm").as("n2"), col("c_sim").as("cs2"))

    // every pair has ≥1 new member (old×old already emitted in an
    // earlier batch; new×new appears in both orders and the loser rule
    // is order-symmetric, so distinct() collapses it)
    val losers = newSide.join(allSide, Seq("cluster", "sb"))
      .filter(col("v1") =!= col("v2"))
      .filter(Similarity.dot("e1", "e2") / (col("n1") * col("n2")) >= lit(tau))
      // keep-lowest-centroid-sim: the HIGHER c_sim loses; exact tie →
      // the larger vec_id (the batch form's v1<v2 + otherwise(v2) rule,
      // stated order-symmetrically)
      .select(when(col("cs1") > col("cs2"), col("v1"))
        .when(col("cs1") < col("cs2"), col("v2"))
        .otherwise(greatest(col("v1"), col("v2"))).as("vec_id"))
      .distinct()

    overwriteBatch(losers, losersP, batchId)
    overwriteBatchBucketed(newAssigned, vecsCbP, batchId, "cb", cellKey)
    overwriteBatchBucketed(newAssigned.select(col("vec_id")), vecsVbP, batchId,
      "vb", col("vec_id"))
  }

  /** The streaming query: `foreachBatch` over a (vec_id, embedding)
    * stream. The fixture's centroid table is aggregated and collected
    * (k rows) once, here, and every trigger joins the same rows as a
    * local relation — no per-trigger fixture scan or aggregation. */
  def semDedupStream(embStream: DataFrame, fixtureDir: String, stateDir: String,
                     checkpointDir: String, tau: Double = 0.3, maxCell: Int = 5000,
                     trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery = {
    val centroids = Similarity.centroidTable(embStream.sparkSession, fixtureDir)
    val (rows, schema) = (centroids.collect().toSeq.asJava, centroids.schema)
    embStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        processBatchWith(spark, batch, spark.createDataFrame(rows, schema),
          stateDir, batchId, tau, maxCell)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Current per-vector verdicts, the one-shot result's shape
    * (vec_id, cluster, c_sim, kept) — kept = never lost a pair. Same
    * crash-window visibility contract as [[LshStream.pairs]]. */
  def current(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    val vecs = readStore(spark, path(stateDir, "vecs_cb"))
      .fold(Seq.empty[(Long, Int, Double)].toDF("vec_id", "cluster", "c_sim"))(
        _.select(col("vec_id"), col("cluster"), col("c_sim")))
    val losers = readStore(spark, path(stateDir, "losers"))
      .fold(Seq.empty[Long].toDF("vec_id"))(_.select(col("vec_id")))
      .distinct().withColumn("lost", lit(true))
    vecs.join(losers, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"), col("c_sim"),
        coalesce(col("lost"), lit(false)).=!=(lit(true)).as("kept"))
      .orderBy(col("vec_id"))
  }
}
