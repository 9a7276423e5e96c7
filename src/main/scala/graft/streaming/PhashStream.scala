package graft.streaming

import graft.operators.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming perceptual image near-dup: the incremental form of
  * [[Multimodal.mmPhashNeardup]] — images arrive in micro-batches as
  * (doc_id, payload) binary rows, and each batch's near-dup pairs
  * (batch×batch AND batch×everything-seen) are detected AT ARRIVAL via
  * the SAME aHash + 4×15-bit banding machinery as the one-shot query
  * ([[Multimodal.ahashChunks]]/[[Multimodal.phashPairs]] are shared, so
  * online and offline candidates are provably the same banding).
  *
  * The [[LshStream]] architecture applied to images:
  *   - exactly-once from LAYOUT: every store partitioned by micro-batch
  *     id, a batch reads strictly-before and overwrites its own
  *     partitions, so a crash between writes converges on replay;
  *   - [[BucketedState]] inner bucket partitions: `chunks` by
  *     `ck % 256` (the candidate probe reads only the batch's band-value
  *     buckets), `docs` by `doc_id % 256` (seen-ness probes only the
  *     batch's doc buckets) — per-batch input bytes scale with the
  *     batch, not the accumulated corpus;
  *   - seen-ness keys on `docs`, which admits EVERY deduped incoming
  *     doc_id including malformed payloads (parse yields no fingerprint
  *     row, but the doc must still replay/arrive-again as a no-op — the
  *     LshStream short-doc lesson applied to undecodable images);
  *   - incremental completeness: every candidate pair has ≥1 new
  *     member and a doc is new exactly once, so each pair lands exactly
  *     once and the accumulated `pairs` table equals the one-shot run
  *     over the union corpus (spec: equality after EVERY micro-batch,
  *     including a cross-batch near-dup pair and a malformed re-arrival).
  *
  * State tables under `stateDir`:
  *   - `chunks` — (doc_id, ahash, chunk, ck) band rows, bucketed by ck
  *   - `docs`   — admitted doc_ids, bucketed by doc_id
  *   - `pairs`  — verified (d1, d2, hamming), appended per batch
  */
object PhashStream {

  // store layout + replay-safe reads live in ONE home: BucketedState
  import BucketedState.{tablePath => path, overwriteBatch, readStore}

  /** Each bucketed store's `empty` frame for [[BucketedState.readBuckets]]:
    * the columns its readers take, which every file of the store must
    * carry (BucketedStateSpec pins them against the written files). */
  private[graft] def bucketedStores(spark: SparkSession): Map[String, DataFrame] = {
    import spark.implicits._
    Map(
      "docs" -> Seq.empty[Long].toDF("doc_id"),
      "chunks" -> Seq.empty[(Long, Long, Int, Long)].toDF("doc_id", "ahash", "chunk", "ck"))
  }

  /** One micro-batch: detect pairs against everything seen, then admit
    * the batch. `batchId` must be the stream's monotone micro-batch id
    * (replay key AND state partition). `fingerprint` is the
    * payload→(doc_id, ahash) kernel — the image aHash by default; pass
    * [[Multimodal.wavEnergyHash]] (via [[processAudioBatch]]) for the
    * audio form. Everything downstream of the fingerprint is
    * modality-blind: one banding pipeline, one state layout, any
    * 60-bit perceptual hash. */
  def processBatch(spark: SparkSession, newDocsRaw: DataFrame, stateDir: String,
                   batchId: Long,
                   fingerprint: DataFrame => DataFrame = Multimodal.bmpAHash): Unit = {
    import BucketedState._
    val chunksP = path(stateDir, "chunks")
    val docsP = path(stateDir, "docs")
    val pairsP = path(stateDir, "pairs")
    val empty = bucketedStores(spark)

    // seen-ness probe: only the doc buckets this batch carries
    val batchDocBuckets = bucketsOf(newDocsRaw, col("doc_id"))
    val oldDocs = readBuckets(spark, docsP, batchId, "db", batchDocBuckets,
      empty("docs"))

    // in-batch + cross-batch doc dedup; min_by(payload, md5(payload))
    // gives the content total order (the LshStream determinism rule,
    // md5 over binary)
    val newDocs = newDocsRaw.select(col("doc_id"), col("payload"))
      .groupBy(col("doc_id"))
      .agg(min_by(col("payload"), md5(col("payload"))).as("payload"))
      .join(oldDocs, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    if (newDocs.isEmpty) return

    // malformed payloads drop HERE (no fingerprint row) but their
    // doc_ids still land in `docs` below — a corrupt payload is seen,
    // not retried forever
    val newChunks = Multimodal.ahashChunks(fingerprint(newDocs))
      .localCheckpoint(true)

    val ckBuckets = bucketsOf(newChunks, col("ck"))
    val oldChunks = readBuckets(spark, chunksP, batchId, "kb", ckBuckets,
      empty("chunks"))
    val pairs = Multimodal.phashPairs(newChunks, oldChunks.unionByName(newChunks))

    overwriteBatch(pairs, pairsP, batchId)
    overwriteBatchBucketed(newChunks, chunksP, batchId, "kb", col("ck"))
    overwriteBatchBucketed(newDocs.select(col("doc_id")), docsP, batchId,
      "db", col("doc_id"))
  }

  /** The audio form of [[processBatch]]: WAV energy fingerprints
    * through the SAME state layout and banding — streaming perceptual
    * near-dup is one pipeline across modalities, like its batch twin
    * (`mm_phash_neardup`/`mm_audio_neardup` share
    * [[Multimodal.ahashChunks]]/[[Multimodal.phashPairs]]). */
  def processAudioBatch(spark: SparkSession, newDocsRaw: DataFrame,
                        stateDir: String, batchId: Long): Unit =
    processBatch(spark, newDocsRaw, stateDir, batchId, Multimodal.wavEnergyHash)

  /** The JPEG form of [[processBatch]]: real baseline-JPEG entropy
    * decode ([[Multimodal.jpegAHash]] — Huffman + dequant + IDCT, then
    * the 64×64 → 8×8 block-mean downsample) through the SAME state
    * layout and banding, so the compressed-corpus stream provably bands
    * like its batch twin (`mm_phash_jpeg`). A payload the decoder
    * refuses — truncated scan, progressive frame, trailer garbage — is
    * admitted as seen with no fingerprint row: the malformed-image
    * no-op rule, applied to a lossy entropy-coded format. */
  def processJpegBatch(spark: SparkSession, newDocsRaw: DataFrame,
                       stateDir: String, batchId: Long): Unit =
    processBatch(spark, newDocsRaw, stateDir, batchId, Multimodal.jpegAHash)

  /** The COLOR-JPEG form: 3-component YCbCr luma decode
    * ([[Multimodal.jpegColorAHash]] — interleaved MCUs, subsampled
    * chroma, restart markers) through the same state layout, twinning
    * `mm_phash_jpeg_color`. Refused payloads are seen no-ops, as ever. */
  def processJpegColorBatch(spark: SparkSession, newDocsRaw: DataFrame,
                            stateDir: String, batchId: Long): Unit =
    processBatch(spark, newDocsRaw, stateDir, batchId, Multimodal.jpegColorAHash)

  /** The streaming query: `foreachBatch` over a (doc_id, payload)
    * binary stream. */
  def phashStream(docsStream: DataFrame, stateDir: String, checkpointDir: String,
                  trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, stateDir, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** The audio streaming query — [[processAudioBatch]] per micro-batch,
    * state layout identical to the image form (separate `stateDir`s;
    * the fingerprint spaces are incompatible by construction). */
  def audioNeardupStream(docsStream: DataFrame, stateDir: String,
                         checkpointDir: String,
                         trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processAudioBatch(batch.sparkSession, batch, stateDir, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** The JPEG streaming query — [[processJpegBatch]] per micro-batch
    * (own `stateDir`, like the audio form). */
  def jpegNeardupStream(docsStream: DataFrame, stateDir: String,
                        checkpointDir: String,
                        trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processJpegBatch(batch.sparkSession, batch, stateDir, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** The color-JPEG streaming query — [[processJpegColorBatch]] per
    * micro-batch (own `stateDir`, like the audio and gray-JPEG forms). */
  def jpegColorNeardupStream(docsStream: DataFrame, stateDir: String,
                             checkpointDir: String,
                             trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processJpegColorBatch(batch.sparkSession, batch, stateDir, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Accumulated verified pairs, the one-shot result's shape (same
    * crash-window visibility contract as [[LshStream.pairs]]). */
  def pairs(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    val p = path(stateDir, "pairs")
    readStore(spark, p)
      .fold(Seq.empty[(Long, Long, Int)].toDF("d1", "d2", "hamming"))(
        _.drop("batch"))
      .orderBy(col("hamming"), col("d1"), col("d2"))
  }
}
