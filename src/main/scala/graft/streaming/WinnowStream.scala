package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming winnowing near-dup detection — the incremental twin of
  * [[Dedup.winnowPairsFrom]] (Schleimer et al. 2003), completing the
  * streaming dedup family (Lsh/Span/Phash/SemDedup/Winnow all ride the
  * same [[BucketedState]] conventions): documents arrive in
  * micro-batches, each batch's near-dup pairs (batch×batch and
  * batch×everything-seen) are detected AT ARRIVAL via the fingerprint
  * index, never by re-clustering the corpus.
  *
  * State under `stateDir`, batch-partitioned (exactly-once replay:
  * read strictly-before my id, overwrite my own partition) with inner
  * bucket partitions (per-batch reads list and scan only the touched
  * buckets' directories):
  *   - `fps`  — (doc_id, fp) winnow fingerprints of every doc seen,
  *              bucketed by `fb = fp % 256` (the pair probe reads only
  *              the batch's fingerprint buckets)
  *   - `seen` — admitted doc_ids, bucketed by `db = doc_id % 256`
  *              (seen-ness keys on THIS store, not fps — a sub-k-token
  *              doc has no fingerprints but must not be re-admitted)
  *   - `pairs` — (doc_a, doc_b, n_shared) output, appended per batch
  *
  * Incremental completeness: a pair is discovered exactly once — when
  * its LATER member arrives — and its `n_shared` is complete at that
  * moment because every old fingerprint that can intersect the new
  * doc's set equals one of the batch's fingerprints, hence lives in a
  * probed bucket. new×old pairs count once via the store join, new×new
  * once via the `a.doc_id < b.doc_id` self-join; the two arms are
  * disjoint by the seen-ness anti-join, so no shared fingerprint is
  * double-counted. Accumulated pairs == the one-shot batch run over the
  * union corpus (spec pins it, including a cross-batch pair).
  *
  * Bucket-cap semantics: PREFIX form, same deliberate divergence as
  * [[LshStream]] — a fingerprint bucket is skipped once its accumulated
  * size exceeds `maxBucket`; pairs found while it was small persist
  * (a stream cannot un-emit). Equality with the batch form holds
  * whenever no bucket exceeds the cap.
  *
  * 100 TB shape per batch: fingerprinting is batch-sized (one doc-keyed
  * window, no self-join); the pair probe is an equi-join on fp against
  * a BUCKET-PRUNED read of the store; nothing iterates; driver state is
  * the store paths plus ≤256-int bucket lists. */
object WinnowStream {

  import BucketedState.{tablePath => path, _}

  /** Each bucketed store's `empty` frame for [[BucketedState.readBuckets]]:
    * the columns its readers take, which every file of the store must
    * carry (BucketedStateSpec pins them against the written files). */
  private[graft] def bucketedStores(spark: SparkSession): Map[String, DataFrame] = {
    import spark.implicits._
    Map(
      "seen" -> Seq.empty[Long].toDF("doc_id"),
      "fps" -> Seq.empty[(Long, Long)].toDF("doc_id", "fp"))
  }

  /** One micro-batch: pair against everything seen, then admit the
    * batch. Batch-static and callable directly (the spec's equivalence
    * harness); `batchId` must be monotone — it is the replay key and
    * the state partition. */
  def processBatch(spark: SparkSession, newDocsRaw: DataFrame, stateDir: String,
                   batchId: Long, maxBucket: Int = 50): Unit = {
    val fpsP = path(stateDir, "fps")
    val seenP = path(stateDir, "seen")
    val pairsP = path(stateDir, "pairs")
    val empty = bucketedStores(spark)

    // seen-ness probe: only the doc buckets this batch carries; dedup
    // discipline identical to LshStream (min_by md5 = deterministic
    // winner for a doc_id carrying two texts in one batch)
    val batchDocBuckets = bucketsOf(newDocsRaw, col("doc_id"))
    val oldSeen = readBuckets(spark, seenP, batchId, "db", batchDocBuckets,
      empty("seen"))
    val newDocs = newDocsRaw.select(col("doc_id"), col("text"))
      .groupBy(col("doc_id")).agg(min_by(col("text"), md5(col("text"))).as("text"))
      .join(oldSeen, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    if (newDocs.isEmpty) return

    val newFps = Dedup.winnowFingerprints(newDocs).localCheckpoint(true)
    val fpBuckets = bucketsOf(newFps, col("fp"))
    val oldFps = readBuckets(spark, fpsP, batchId, "fb", fpBuckets,
      empty("fps"))

    // accumulated-size bucket cap (prefix semantics, see object doc)
    val small = oldFps.unionByName(newFps)
      .groupBy(col("fp")).agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("fp"))
    val nf = newFps.join(small, Seq("fp"))
    val of = oldFps.join(small, Seq("fp"))

    // each shared fingerprint of an unordered pair counts exactly once:
    // new×old rides the store join (the old side can be either id), and
    // new×new the strictly-ordered self-join — disjoint by construction
    val newOld = nf.as("a").join(of.as("b"), col("a.fp") === col("b.fp"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    val newNew = nf.as("a").join(nf.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val pairs = newOld.unionByName(newNew)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))

    overwriteBatch(pairs, pairsP, batchId)
    overwriteBatchBucketed(newFps, fpsP, batchId, "fb", col("fp"))
    overwriteBatchBucketed(newDocs.select("doc_id"), seenP, batchId, "db",
      col("doc_id"))
    ()
  }

  /** The streaming query: `foreachBatch` over a documents stream
    * (doc_id, text); pairs accumulate under `stateDir/pairs`. */
  def winnowStream(docsStream: DataFrame, stateDir: String, checkpointDir: String,
                   maxBucket: Int = 50,
                   trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, stateDir, batchId, maxBucket)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Accumulated pairs in the batch result's shape (same visibility
    * contract as [[LshStream.pairs]]: a crashed batch's pairs are true
    * pairs, visible until the replay rewrites them). */
  def pairs(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    readBefore(spark, path(stateDir, "pairs"), Long.MaxValue,
      Seq.empty[(Long, Long, Long)].toDF("doc_a", "doc_b", "n_shared"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
