package graft

import graft.operators.{Dedup, Multimodal}
import graft.streaming.{BucketedState, LshStream, PhashStream, SemDedupStream, SpanStream, WinnowStream}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The VERDICT r12 ask-#4 contract: a micro-batch's reads of the
  * accumulated streaming state scale with the buckets its keys touch,
  * not with the corpus. Measured, not asserted structurally — the task
  * input-bytes metric counts what the scans actually read, so a
  * regression to full-store scans (or a filter that stops pruning at
  * the listing) fails these tests even if results stay correct. */
class BucketedStateSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Total task input bytes during `f`, drained from the async listener
    * bus by polling until the counter is stable (no fixed sleep). */
  private def bytesReadDuring[T](f: => T): (T, Long) = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          acc.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      (r, settled(acc))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Total parquet FILES scanned during `f` — the DETERMINISTIC pruning
    * measure (advice r13): input-bytes ratios include footer/metadata
    * reads that vary with Spark version, codec, and file sizing, but the
    * file count a scan selects after partition pruning is a pure function
    * of the store layout and the pushed filters. Summed from every
    * FileSourceScanExec's numFiles metric across the executions `f`
    * triggers (AQE stages and Spark 4's WriteFilesExec subtrees
    * included), drained from the async listener by polling-to-stable. */
  private def filesScannedDuring[T](f: => T): (T, Long) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case s: FileSourceScanExec    =>
          s.metrics.get("numFiles").foreach(m => acc.addAndGet(m.value))
        case other                    => other.children.foreach(walk)
      }
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        walk(qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = f
      (r, settled(acc))
    } finally spark.listenerManager.unregister(listener)
  }

  test("readBuckets reads only the requested buckets' bytes") {
    import spark.implicits._
    val root = tmp("bucketed") + "/t"
    (0L to 2L).foreach { b =>
      val df = (0 until 4096)
        .map(i => (b * 10000L + i, i.toLong)).toDF("doc_id", "h")
      BucketedState.overwriteBatchBucketed(df, root, b, "hb", col("h"))
    }
    def empty = Seq.empty[(Long, Long)].toDF("doc_id", "h")
    val ((rows, prunedBytes), prunedFiles) = filesScannedDuring {
      bytesReadDuring {
        BucketedState.readBuckets(spark, root, 3L, "hb", Seq(3, 7), empty).collect()
      }
    }
    // 4096 rows over 256 buckets = 16/bucket/batch; 2 buckets x 3 batches
    assert(rows.length == 2 * 3 * 16, s"got ${rows.length} rows")
    assert(rows.forall(r => Seq(3L, 7L).contains(((r.getLong(1) % 256) + 256) % 256)))
    val ((allRows, fullBytes), fullFiles) = filesScannedDuring {
      bytesReadDuring {
        spark.read.parquet(root).collect()
      }
    }
    assert(allRows.length == 3 * 4096)
    // DETERMINISTIC pruning proof (advice r13): the pruned scan selects
    // EXACTLY the on-disk part-files under the two requested buckets'
    // directories — a pure function of layout + pushed filters, immune
    // to the footer/metadata byte noise the ratio bounds below absorb.
    def partFiles(pred: java.nio.file.Path => Boolean): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.filter(p => p.toString.endsWith(".parquet") && pred(p)).count()
      finally s.close()
    }
    val onDiskPruned = partFiles(p =>
      p.toString.contains("hb=3/") || p.toString.contains("hb=7/"))
    val onDiskAll = partFiles(_ => true)
    assert(prunedFiles == onDiskPruned,
      s"pruned scan touched $prunedFiles files, expected the $onDiskPruned under hb=3/hb=7")
    assert(fullFiles == onDiskAll && onDiskPruned < onDiskAll)
    // byte ratio stays as a LOOSE sanity bound only
    assert(prunedBytes > 0 && fullBytes > 0)
    assert(prunedBytes < fullBytes / 2,
      s"2-of-256-bucket read cost $prunedBytes bytes vs full $fullBytes — not pruned at the listing")
  }

  // a seeded corpus whose window/shingle hashes spread over ~all 256
  // buckets, plus one short doc whose duplicate will arrive later
  private def seedDocs(n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { i =>
      val len = if (i == 0) 20 else 40
      (i.toLong, Seq.fill(len)("w" + rnd.nextInt(5000)).mkString(" "))
    }
  }

  test("SpanStream micro-batch input bytes scale with touched buckets, not the store") {
    import spark.implicits._
    val st = tmp("spanbuck")
    val seed = seedDocs(400)
    SpanStream.processBatch(spark, seed.toDF("doc_id", "text"), st, 0L)
    // full accumulated wins store, one scan each layout — the corpus bar
    val (_, fullBytes) = bytesReadDuring {
      spark.read.parquet(s"$st/wins_hb").collect()
      spark.read.parquet(s"$st/wins_db").collect()
      spark.read.parquet(s"$st/docs").collect()
    }
    val (_, fullFiles) = filesScannedDuring {
      spark.read.parquet(s"$st/wins_hb").collect()
      spark.read.parquet(s"$st/wins_db").collect()
      spark.read.parquet(s"$st/docs").collect()
    }
    // batch 1: ONE doc duplicating the short seed doc — touches ~11
    // window-hash buckets of 256
    val dup = Seq(10000L -> seed.head._2).toDF("doc_id", "text")
    val ((_, batchBytes), batchFiles) = filesScannedDuring {
      bytesReadDuring {
        SpanStream.processBatch(spark, dup, st, 1L)
      }
    }
    // deterministic measure (advice r13): files selected after pruning
    assert(batchFiles > 0 && fullFiles > 0)
    assert(batchFiles < fullFiles / 2,
      s"batch scanned $batchFiles files vs full-store $fullFiles — " +
        "reads no longer prune at the file listing")
    // byte ratio kept only as a loose sanity bound (footer/metadata noise)
    assert(batchBytes > 0 && batchBytes < fullBytes,
      s"batch read $batchBytes bytes vs one full-store scan $fullBytes — " +
        "per-batch I/O is corpus-sized again")
    // and the result is still right: the dup pair's spans exist for both
    val spans = SpanStream.spans(spark, st)
      .filter(col("doc_id").isin(0L, 10000L)).collect()
    assert(spans.nonEmpty, "duplicate doc produced no spans")
  }

  test("LshStream micro-batch input bytes scale with touched buckets, not the store") {
    import spark.implicits._
    val st = tmp("lshbuck")
    val seed = seedDocs(400)
    LshStream.processBatch(spark, seed.toDF("doc_id", "text"), st, 0L)
    val (_, fullBytes) = bytesReadDuring {
      spark.read.parquet(s"$st/corpus").collect()
      spark.read.parquet(s"$st/bands").collect()
      spark.read.parquet(s"$st/sigs").collect()
    }
    val (_, fullFiles) = filesScannedDuring {
      spark.read.parquet(s"$st/corpus").collect()
      spark.read.parquet(s"$st/bands").collect()
      spark.read.parquet(s"$st/sigs").collect()
    }
    val dup = Seq(10000L -> seed.head._2).toDF("doc_id", "text")
    val ((_, batchBytes), batchFiles) = filesScannedDuring {
      bytesReadDuring {
        LshStream.processBatch(spark, dup, st, 1L)
      }
    }
    assert(batchFiles > 0 && fullFiles > 0)
    assert(batchFiles < fullFiles / 2,
      s"batch scanned $batchFiles files vs full-store $fullFiles — " +
        "reads no longer prune at the file listing")
    assert(batchBytes > 0 && batchBytes < fullBytes,
      s"batch read $batchBytes bytes vs one full-store scan $fullBytes — " +
        "per-batch I/O is corpus-sized again")
    // the cross-batch near-dup pair was still found
    val pairs = LshStream.pairs(spark, st)
      .filter(col("d1") === 0L && col("d2") === 10000L).count()
    assert(pairs == 1L, "cross-batch duplicate pair not detected under pruned reads")
  }

  // 40 batches x 40 bucket directories, one file each: the shape in
  // which a whole-store listing (`spark.read.parquet(<root>)`) started a
  // parallel-listing job for every batch directory (> 32 children)
  private lazy val wideStore: String = {
    import spark.implicits._
    val root = tmp("widestore") + "/t"
    (0 until 40 * 40 * 4).map(i => (i.toLong, (i / 160).toLong, (i % 40).toLong))
      .toDF("doc_id", "batch", "h")
      .withColumn("hb", BucketedState.bucketOf(col("h")))
      .repartition(col("batch"), col("hb"))
      .write.partitionBy("batch", "hb").parquet(root)
    root
  }
  private def wideEmpty = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("doc_id", "h")
  }

  test("readBuckets builds and plans its frame with zero Spark jobs over a 40x40 store") {
    val root = wideStore
    val ((df, _), jobs) = jobsDuring {
      val df = BucketedState.readBuckets(spark, root, 40L, "hb", 0 until 40, wideEmpty)
      (df, df.queryExecution.executedPlan)
    }
    assert(jobs == 0, s"building the read ran $jobs Spark jobs")
    // the frame is the whole requested state, so nothing was skipped
    assert(df.count() == 40 * 40 * 4)
  }

  test("readBuckets scans exactly the files of the requested buckets of earlier batches") {
    val want = Seq(3, 17, 39)
    val root = wideStore
    val (rows, files) = filesScannedDuring {
      BucketedState.readBuckets(spark, root, 25L, "hb", want, wideEmpty).collect()
    }
    val onDisk = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.filter { p =>
        val batch = p.getParent.getParent.getFileName.toString
        val bucket = p.getParent.getFileName.toString
        p.toString.endsWith(".parquet") &&
          batch.stripPrefix("batch=").toLong < 25L &&
          want.contains(bucket.stripPrefix("hb=").toInt)
      }.count()
      finally s.close()
    }
    assert(onDisk == 25 * want.size)
    assert(files == onDisk, s"scan selected $files files, expected the $onDisk on disk")
    val expect = spark.read.parquet(root)
      .filter(col("batch") < 25L && col("hb").isin(want: _*))
      .select("doc_id", "h").collect()
    assert(rows.sortBy(_.getLong(0)).toSeq == expect.sortBy(_.getLong(0)).toSeq)
  }

  /** Row multiset, for frames whose rows carry arrays. */
  private def bag(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).view.mapValues(_.length).toMap

  test("every streaming operator's store reads back equal to a plain parquet read of its files") {
    import spark.implicits._
    val docs = seedDocs(60)
    val textBatches = Seq(docs.take(30), docs.drop(30) :+ (10000L -> docs.head._2))
      .map(_.toDF("doc_id", "text"))
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val imgs = Multimodal.bmpPayloads(spark, sf).localCheckpoint(true)
    val operators: Seq[(String, Map[String, DataFrame], String => Unit)] = Seq(
      ("LshStream", LshStream.bucketedStores(spark), st => textBatches.zipWithIndex
        .foreach { case (b, i) => LshStream.processBatch(spark, b, st, i.toLong) }),
      ("SpanStream", SpanStream.bucketedStores(spark), st => textBatches.zipWithIndex
        .foreach { case (b, i) => SpanStream.processBatch(spark, b, st, i.toLong) }),
      ("WinnowStream", WinnowStream.bucketedStores(spark), st => textBatches.zipWithIndex
        .foreach { case (b, i) => WinnowStream.processBatch(spark, b, st, i.toLong) }),
      ("PhashStream", PhashStream.bucketedStores(spark), st => (0 until 2).foreach { i =>
        PhashStream.processBatch(spark, imgs.filter(col("doc_id") % 2 === i), st, i.toLong) }),
      ("SemDedupStream", SemDedupStream.bucketedStores(spark), st => (0 until 2).foreach { i =>
        SemDedupStream.processBatch(spark, embs.filter(col("vec_id") % 2 === i), sf, st,
          i.toLong) }))
    operators.foreach { case (name, stores, run) =>
      val st = tmp(name)
      run(st)
      assert(stores.nonEmpty)
      stores.foreach { case (table, empty) =>
        val p = BucketedState.tablePath(st, table)
        // the bucket column is the store's inner partition directory name
        val bucketCol = new java.io.File(p, "batch=0").listFiles().filter(_.isDirectory)
          .head.getName.takeWhile(_ != '=')
        val plain = spark.read.parquet(p).drop("batch", bucketCol)
        assert(empty.columns.toSet.subsetOf(plain.columns.toSet),
          s"$name/$table: empty frame ${empty.schema.simpleString} names columns " +
            s"the files lack (${plain.schema.simpleString})")
        val read = BucketedState.readBuckets(spark, p, Long.MaxValue, bucketCol,
          0 until BucketedState.NumBuckets, empty)
        val expect = plain.select(empty.columns.map(col).toSeq: _*)
        // both reads are nullable file-source schemas: equal iff the types match
        assert(read.schema == expect.schema,
          s"$name/$table: read as ${read.schema.simpleString}, stored as ${expect.schema.simpleString}")
        val got = bag(read)
        assert(got.nonEmpty, s"$name/$table read back no rows")
        assert(got == bag(expect), s"$name/$table rows differ from a plain read of its files")
      }
    }
  }
}
