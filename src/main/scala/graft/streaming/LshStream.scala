package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming MinHash-LSH near-dup detection (VERDICT r10 next-round #5):
  * the incremental form of [[Dedup.minhashLshFrom]] — documents arrive in
  * micro-batches, and each batch's near-dup pairs (batch×batch AND
  * batch×everything-seen-before) are detected AT ARRIVAL, not in a
  * nightly recluster.
  *
  * State lives in four parquet tables under `stateDir`, each partitioned
  * by the micro-batch id that wrote it (`<table>/batch=<id>` — the
  * exactly-once mechanism, see below), with a [[BucketedState]] inner
  * bucket partition (r13, VERDICT r12 ask #4) so each micro-batch reads
  * only the buckets its keys touch instead of the full accumulated
  * store:
  *   - `sigs`   — one [[Dedup.minhashSignatures]] row per doc ever seen,
  *                bucketed by `db = doc_id % 256` (read only for
  *                candidate docs' buckets)
  *   - `bands`  — its 15-band LSH index (doc_id, band, band_key),
  *                bucketed by `kb = xxhash64(band_key) % 256` (the
  *                candidate probe reads only the batch's band-key
  *                buckets)
  *   - `corpus` — (doc_id, text), bucketed by `db`; read back for the
  *                seen-ness probe (batch's doc buckets only) and for
  *                candidate verification (candidates' buckets only —
  *                shingles are recomputed for candidate docs;
  *                candidates ≪ corpus, so re-shingling the few is the
  *                scale move vs storing every (doc, shingle) row)
  *   - `pairs`  — the verified output (d1, d2, jaccard), appended per
  *                batch (unbucketed — nothing probes it incrementally)
  *
  * Incremental completeness: every candidate pair involves ≥1 new doc
  * (new×new within the batch, new×old via the band-store join), and a
  * doc is "new" exactly once, so each pair is discovered exactly once —
  * the accumulated `pairs` table equals the one-shot batch run over the
  * union corpus (StreamingSpec pins stream == batch across micro-batches,
  * including a cross-batch near-dup pair).
  *
  * Bucket-cap semantics (deliberate divergence, PREFIX form): a bucket
  * is skipped once its ACCUMULATED size (old + new members) exceeds
  * `maxBucket`. The one-shot form drops an oversized bucket's pairs
  * retroactively; a stream cannot un-emit, so pairs found while the
  * bucket was small persist. Equality with the batch form (its
  * UNLIMITED pair set — the one-shot query's top-1000 LIMIT is a
  * result-shape contract, not a semantic one, so the spec compares
  * against `minhashLshFrom(topK = Int.MaxValue)`) therefore holds
  * whenever no bucket exceeds the cap — the spec pins both this and
  * the prefix behavior.
  *
  * Exactly-once: every state table is PARTITIONED BY BATCH
  * (`<table>/batch=<id>`) and each micro-batch OVERWRITES its own
  * partitions. A batch reads only state from batches strictly before
  * its own id, so a checkpoint-replayed batch recomputes exactly what
  * its first attempt computed (the inputs are identical and every hash
  * is a pure function) and the overwrite converges — a crash between
  * any two of the four table writes leaves partial state that the
  * replay simply rewrites. Ordered appends cannot give this: whichever
  * table were written first could double-append (or a later one never
  * land) under a crash inside the write sequence.
  *
  * 100 TB shape per batch: signature build is batch-sized (linear scan);
  * the candidate join probes the band store on (band, band_key) — an
  * equi-join Spark shuffles on the band key, skew-capped by the bucket
  * guard — and every probe of an accumulated store is BUCKET-PRUNED AT
  * THE SCAN (r13: [[BucketedState.readBuckets]] lists and scans only
  * the touched bucket directories, so per-batch input bytes scale with
  * the batch's key neighborhood, not the corpus — BucketedStateSpec
  * measures it); verification joins are candidate-sized. Nothing
  * iterates; driver state is the store paths plus ≤256-int bucket
  * lists per read.
  */
object LshStream {

  // store layout + replay-safe reads live in ONE home: BucketedState
  import BucketedState.{tablePath => path, overwriteBatch, readBefore}

  /** Each bucketed store's `empty` frame for [[BucketedState.readBuckets]]:
    * the columns its readers take, which every file of the store must
    * carry (BucketedStateSpec pins them against the written files). */
  private[graft] def bucketedStores(spark: SparkSession): Map[String, DataFrame] = {
    import spark.implicits._
    Map(
      "corpus" -> Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "bands" -> Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "band_key"),
      "sigs" -> Seq.empty[(Long, Long)].toDF("doc_id", "set_n"))
  }

  /** One micro-batch: detect pairs against everything seen, then admit
    * the batch into the stores. Batch-static, callable directly (the
    * spec's equivalence harness) or from [[minhashLshStream]]; `batchId`
    * must be the stream's monotone micro-batch id (or the caller's own
    * monotone counter) — it is both the replay key and the state
    * partition. */
  def processBatch(spark: SparkSession, newDocsRaw: DataFrame, stateDir: String,
                   batchId: Long, maxBucket: Int = 50): Unit = {
    import BucketedState._
    val sigsP = path(stateDir, "sigs"); val bandsP = path(stateDir, "bands")
    val corpusP = path(stateDir, "corpus"); val pairsP = path(stateDir, "pairs")
    val empty = bucketedStores(spark)

    // seen-ness probe: only the doc buckets this batch carries
    val batchDocBuckets = bucketsOf(newDocsRaw, col("doc_id"))
    val oldCorpusSeen = readBuckets(spark, corpusP, batchId, "db",
      batchDocBuckets, empty("corpus"))

    // cross-batch doc dedup + in-batch doc dedup: one row per UNSEEN
    // doc_id. Seen-ness keys on the CORPUS store, not sigs — a <3-token
    // doc has no shingles and so no signature row, but it IS admitted to
    // the corpus, and keying on sigs would re-admit it forever.
    // min_by(text, md5(text)), not first(text): first without ordering is
    // partition-order-dependent, so a batch carrying two texts under one
    // doc_id would admit a NONDETERMINISTIC one — md5 gives a content
    // total order, deterministic under any parallelism (spec'd).
    // Null-text note (ADVICE r12): min_by skips rows whose md5 ordering
    // value is NULL, so a doc_id mixing null and non-null texts admits a
    // NON-NULL text (nulls silently lose); all-null stays null, as
    // first() did. Text is non-nullable on every ingest path here — this
    // records the contract for a future null-tolerant caller.
    val newDocs = newDocsRaw.select(col("doc_id"), col("text"))
      .groupBy(col("doc_id")).agg(min_by(col("text"), md5(col("text"))).as("text"))
      .join(oldCorpusSeen.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // read repeatedly below; lineage is batch-local
    if (newDocs.isEmpty) return

    val newSh = Dedup.shinglesOf(newDocs).persist()
    val newSigs = Dedup.minhashSignatures(newSh).localCheckpoint(true)
    val newBands = Dedup.bandsOf(newSigs).localCheckpoint(true)

    // candidate pairs: ≥1 new member, keyed (band, band_key); accumulated
    // bucket size (old+new) caps the bucket exactly once, PREFIX
    // semantics. The band-store read prunes to the batch's band-key
    // buckets — complete, because every old row that can share a
    // (band, band_key) with a new row hashes to the same kb bucket, and
    // buckets with no new member can produce no candidate (every pair
    // needs ≥1 new side).
    val kbBuckets = bucketsOf(newBands, xxhash64(col("band_key")))
    val oldBands = readBuckets(spark, bandsP, batchId, "kb", kbBuckets,
      empty("bands"))
    val allBands = oldBands.unionByName(newBands)
    val smallBuckets = allBands.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("band"), col("band_key"))
    val nb = newBands.join(smallBuckets, Seq("band", "band_key"))
    val ab = allBands.join(smallBuckets, Seq("band", "band_key"))
    val cand = nb.as("a")
      .join(ab.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .distinct()

    // exact verification: shingles for the candidate docs only — new docs
    // from the batch, old docs re-shingled from the corpus store (read
    // pruned to the candidates' doc buckets; sizes likewise)
    val candIds = cand.select(col("d1").as("doc_id"))
      .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
      .localCheckpoint(true)
    val candBuckets = bucketsOf(candIds, col("doc_id"))
    val oldCandDocs = readBuckets(spark, corpusP, batchId, "db", candBuckets,
      empty("corpus")).join(candIds, Seq("doc_id"), "left_semi")
    val candSh = newSh.join(candIds, Seq("doc_id"), "left_semi")
      .unionByName(Dedup.shinglesOf(oldCandDocs))
    val oldSigsCand = readBuckets(spark, sigsP, batchId, "db", candBuckets,
      empty("sigs"))
    val sizes = oldSigsCand.select(col("doc_id"), col("set_n"))
      .unionByName(newSigs.select(col("doc_id"), col("set_n")))
    val inter = cand
      .join(candSh.select(col("doc_id").as("d1"), col("shingle")), "d1")
      .join(candSh.select(col("doc_id").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sizes.select(col("doc_id").as("d1"), col("set_n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("set_n").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") / (col("n1") + col("n2") - col("inter")).cast("double"))
          .as("jaccard"))

    // per-batch partition OVERWRITES (order-free: see the exactly-once
    // note in the object doc — a replay rewrites whatever subset landed)
    overwriteBatch(pairs, pairsP, batchId)
    overwriteBatchBucketed(newSigs, sigsP, batchId, "db", col("doc_id"))
    overwriteBatchBucketed(newBands, bandsP, batchId, "kb",
      xxhash64(col("band_key")))
    overwriteBatchBucketed(newDocs, corpusP, batchId, "db", col("doc_id"))
    newSh.unpersist()
    ()
  }

  /** The streaming query: `foreachBatch` over a documents stream
    * (doc_id, text), near-dup pairs accumulating under
    * `stateDir/pairs`. */
  def minhashLshStream(docsStream: DataFrame, stateDir: String, checkpointDir: String,
                       maxBucket: Int = 50,
                       trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, stateDir, batchId, maxBucket)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Accumulated verified pairs, the batch result's shape.
    *
    * Visibility contract: reads every batch partition, so pairs from a
    * crashed batch whose other table writes never landed ARE visible
    * until the stream's restart replays (and rewrites) that batch — the
    * pairs themselves are correctly verified against real documents, so
    * the window shows true pairs early, never wrong ones; it only
    * persists if the stream is decommissioned mid-crash without a final
    * restart. Reading concurrently with a replay's partition overwrite
    * is the same swap-window caveat as every store here (docs/SCALE.md
    * §Writers: one writer per table, readers between swaps). */
  def pairs(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    readBefore(spark, path(stateDir, "pairs"), Long.MaxValue,
      Seq.empty[(Long, Long, Double)].toDF("d1", "d2", "jaccard"))
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
  }
}
