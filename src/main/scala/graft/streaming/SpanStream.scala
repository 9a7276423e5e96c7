package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming substring-span dedup: the incremental form of
  * [[Dedup.dupSpanRows]] — documents arrive in micro-batches, and every
  * document whose duplicated-span set CHANGES (a new doc duplicating an
  * old one changes BOTH docs' spans) has its full span set recomputed
  * and re-emitted at that batch. Unlike the near-dup pair stream (a pair
  * is discovered exactly once), a document's spans GROW as more
  * duplicates of its text arrive, so the output is an UPSERT table:
  * per document, the latest-batch version is current — and, because a
  * document is re-emitted in exactly the batches where its span set
  * changes, the current version always equals the one-shot batch run
  * over everything seen (full equality, no prefix caveat — the spec
  * pins it after every single micro-batch).
  *
  * State (all batch-partitioned, the [[LshStream]] exactly-once layout:
  * read strictly-before-my-batch, overwrite my own partitions, so a
  * crash between table writes converges on replay; r13 adds the
  * [[BucketedState]] inner bucket partition so per-batch reads are
  * bucket-pruned, not corpus-sized — VERDICT r12 ask #4):
  *   - `wins_hb` — one (doc_id, pos, h) row per window of every admitted
  *     doc (the [[Dedup.slidingWindowRows]] fingerprints), bucketed by
  *     `hb = h % 256`: shared-status probes read only the buckets the
  *     batch's hashes touch. Kept instead of text so an old document's
  *     spans recompute WITHOUT re-reading or re-hashing its text.
  *   - `wins_db` — the SAME rows bucketed by `db = doc_id % 256`: the
  *     affected-doc window fetch reads only the affected docs' buckets.
  *     Two layouts of one table — double the (batch-sized) write, and in
  *     exchange every read of the accumulated store is bucket-pruned;
  *     at corpus scale the read saving dominates the write duplication
  *     every batch after the first few.
  *   - `docs` — admitted doc_ids, bucketed by `db`. Seen-ness keys here,
  *     not on wins: a document shorter than the window has no
  *     fingerprint rows but must still replay/arrive-again as a no-op
  *     (the LshStream short-doc lesson).
  *   - `spans` — per batch, the recomputed span sets of that batch's
  *     AFFECTED documents (output table, read whole by [[spans]]).
  *
  * Per-batch work: new docs' windows build batch-sized; every probe of
  * the accumulated `wins` store is now BUCKET-PRUNED AT THE SCAN (the
  * r12 layout semi-join-pruned the shuffle but still read the whole
  * store per batch), and span merging runs only over affected
  * documents. A hash's shared-status is monotone (documents are only
  * ever added), so no un-flagging path exists. */
object SpanStream {

  // store layout + replay-safe reads live in ONE home: BucketedState
  import BucketedState.{tablePath => path, overwriteBatch, readStore}

  /** Each bucketed store's `empty` frame for [[BucketedState.readBuckets]]:
    * the columns its readers take, which every file of the store must
    * carry (BucketedStateSpec pins them against the written files). */
  private[graft] def bucketedStores(spark: SparkSession): Map[String, DataFrame] = {
    import spark.implicits._
    val wins = Seq.empty[(Long, Long, Long)].toDF("doc_id", "pos", "h")
    Map("wins_hb" -> wins, "wins_db" -> wins, "docs" -> Seq.empty[Long].toDF("doc_id"))
  }

  /** One micro-batch. `batchId` must be the stream's monotone
    * micro-batch id (replay key AND state partition, as in
    * [[LshStream.processBatch]]). */
  def processBatch(spark: SparkSession, newDocsRaw: DataFrame, stateDir: String,
                   batchId: Long): Unit = {
    import BucketedState._
    val winsHbP = path(stateDir, "wins_hb")
    val winsDbP = path(stateDir, "wins_db")
    val docsP = path(stateDir, "docs")
    val spansP = path(stateDir, "spans")
    val empty = bucketedStores(spark)

    // seen-ness probe reads only the doc buckets this batch carries
    val batchDocBuckets = bucketsOf(newDocsRaw, col("doc_id"))
    val oldDocsPruned = readBuckets(spark, docsP, batchId, "db", batchDocBuckets,
      empty("docs"))

    // min_by(text, md5(text)): deterministic in-batch doc dedup (the
    // LshStream.processBatch note — first() is partition-order-dependent)
    val newDocs = newDocsRaw.select(col("doc_id"), col("text"))
      .groupBy(col("doc_id")).agg(min_by(col("text"), md5(col("text"))).as("text"))
      .join(oldDocsPruned, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    if (newDocs.isEmpty) return

    val newWins = Dedup.slidingWindowRows(newDocs).localCheckpoint(true)

    // hashes this batch TOUCHES — only they can change shared-status
    // (monotone: a hash never un-shares). The store read prunes to the
    // touched hashes' BUCKETS; the semi below then narrows bucket
    // cohabitants to the touched hashes themselves.
    val touchedBuckets = bucketsOf(newWins, col("h"))
    val winsTouched = readBuckets(spark, winsHbP, batchId, "hb", touchedBuckets,
      empty("wins_hb")).unionByName(newWins)
    val touched = newWins.select(col("h")).distinct()
    // shared-status of touched hashes over the WHOLE accumulated corpus
    // (complete despite pruning: every row carrying a touched hash lives
    // in a touched bucket by construction)
    val sharedTouched = winsTouched.join(touched, Seq("h"), "left_semi")
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))
      .filter(col("dmin") =!= col("dmax")).select(col("h"))
    // a doc is AFFECTED iff it holds a touched hash that is (now) shared
    val affectedDocs = winsTouched.join(sharedTouched, Seq("h"), "left_semi")
      .select(col("doc_id")).distinct().localCheckpoint(true)

    // full span recompute for affected docs: ALL their windows (fetched
    // from the doc-bucketed layout, pruned to the affected docs' buckets,
    // plus this batch's in-flight rows), flagged by shared-status over
    // the whole corpus (not only touched hashes — an affected doc's
    // OTHER spans must survive the rewrite)
    val affDocBuckets = bucketsOf(affectedDocs, col("doc_id"))
    val affWins = readBuckets(spark, winsDbP, batchId, "db", affDocBuckets,
      empty("wins_db")).unionByName(newWins)
      .join(affectedDocs, Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val themBuckets = bucketsOf(affWins, col("h"))
    val winsForThem = readBuckets(spark, winsHbP, batchId, "hb", themBuckets,
      empty("wins_hb")).unionByName(newWins)
    val sharedForThem = winsForThem
      .join(affWins.select(col("h")).distinct(), Seq("h"), "left_semi")
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))
      .filter(col("dmin") =!= col("dmax")).select(col("h"))
    val flagged = affWins.join(sharedForThem, "h").select(col("doc_id"), col("pos"))
    val spans = Dedup.mergeSpans(flagged)

    overwriteBatch(spans, spansP, batchId)
    overwriteBatchBucketed(newWins, winsHbP, batchId, "hb", col("h"))
    overwriteBatchBucketed(newWins, winsDbP, batchId, "db", col("doc_id"))
    overwriteBatchBucketed(newDocs.select(col("doc_id")), docsP, batchId,
      "db", col("doc_id"))
  }

  /** The streaming query: `foreachBatch` over a (doc_id, text) stream. */
  def spanStream(docsStream: DataFrame, stateDir: String, checkpointDir: String,
                 trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, stateDir, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Current span sets: per document, the LATEST batch's version wins
    * (a doc re-emits exactly when its spans change). Same crash-window
    * visibility contract as [[LshStream.pairs]]. */
  def spans(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val p = path(stateDir, "spans")
    val raw = readStore(spark, p)
      .getOrElse(Seq.empty[(Long, Long, Long, Long, Int)]
        .toDF("doc_id", "span_start", "span_end", "n_windows", "batch"))
    val latest = raw.withColumn("maxb",
      max(col("batch")).over(Window.partitionBy("doc_id")))
      .filter(col("batch") === col("maxb"))
      .drop("batch", "maxb")
    latest.orderBy(col("doc_id"), col("span_start"))
  }
}
