package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListedParquet

/** Bucketed, batch-partitioned parquet state for the streaming dedup
  * stores (VERDICT r12 ask #4: the accumulated `wins`/`bands`/`corpus`
  * stores were read IN FULL every micro-batch — semi-joins pruned the
  * shuffle, not the scan, so per-batch input I/O was corpus-sized).
  *
  * Layout: `<table>/batch=<id>/<bucketCol>=<k>` — the OUTER batch
  * partition keeps the exactly-once replay contract (read strictly
  * before my batch id, overwrite my own batch directory: static
  * partition-overwrite deletes the whole `batch=<id>` subtree, so a
  * crashed attempt's partial buckets are rewritten wholesale on
  * replay); the INNER bucket partition (`pmod(key, 256)`) lets a
  * micro-batch read ONLY the buckets its keys touch, so per-batch input
  * bytes scale with the batch's key neighborhood, not the accumulated
  * corpus (BucketedStateSpec measures exactly this).
  *
  * Reads ([[readBuckets]]) never list the store through Spark: the
  * driver lists the root, then each `batch=<b>` directory with
  * `b < batchId`, then only the requested `<bucketCol>=<k>` directories,
  * and hands that listing to a file index seeded with it
  * ([[ListedParquet]]) under the schema of the caller's `empty` frame,
  * so building a read's frame runs no Spark job. A Spark listing of the
  * root (`spark.read.parquet(<root>)`) would list every bucket directory
  * of every batch in Spark parallel-listing jobs (one per `batch=`
  * directory holding more than 32 buckets), so each trigger would be
  * slower than the last, and infer the schema with one more job.
  *
  * The bucket list itself is a driver-side `collect()` of at most
  * [[NumBuckets]] ints per read — the sanctioned tiny-collect shape (it
  * chooses the directories to list; a join could not prune the
  * listing). Writes repartition by bucket first so each bucket lands as
  * one file, not one-per-task (the small-files guard at 256 buckets).
  */
object BucketedState {

  /** 256 buckets — enough that a batch touching a bounded key
    * neighborhood reads a small fraction of the store, few enough that
    * directory listing stays trivial at any corpus size. */
  val NumBuckets: Int = 256

  // -- shared store layout (one home for the exactly-once conventions;
  // -- LshStream/SpanStream/PhashStream/AssignStream all ride these) --

  /** `<stateDir>/<table>` — the state-store path convention. */
  def tablePath(stateDir: String, t: String): String = s"$stateDir/$t"

  /** Overwrite this batch's (unbucketed) partition of a store —
    * `SaveMode.Overwrite` on `<p>/batch=<id>` deletes a crashed
    * attempt's partial output wholesale, so replay converges. */
  def overwriteBatch(df: DataFrame, p: String, batchId: Long): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$p/batch=$batchId")

  /** The accumulated store, or None if it was never written. ONLY
    * AnalysisException (path missing) maps to None: any other failure —
    * transient IO, corrupt footer — must propagate and fail the batch,
    * because treating it as "no state yet" would silently re-admit
    * every seen key. Keeps the `batch` column (latest-wins readers
    * need it). */
  def readStore(spark: SparkSession, p: String): Option[DataFrame] =
    try Some(spark.read.parquet(p))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Unbucketed replay-safe read: state from batches STRICTLY BEFORE
    * `batchId` (a replayed batch must see exactly what its first
    * attempt saw, including none of its own partial writes), or
    * `empty` for a store that was never written. */
  def readBefore(spark: SparkSession, p: String, batchId: Long,
                 empty: => DataFrame): DataFrame =
    readStore(spark, p)
      .fold(empty)(df => df.filter(col("batch") < batchId).drop("batch"))

  /** The bucket of a (long-valued) key column. For string keys pass
    * `xxhash64(c)` — pmod keeps negatives positive. */
  def bucketOf(c: Column): Column =
    pmod(c, lit(NumBuckets.toLong)).cast("int")

  /** Driver-side bucket list of a batch-sized key column: ≤ [[NumBuckets]]
    * rows collected, the bucket directories [[readBuckets]] lists. */
  def bucketsOf(df: DataFrame, key: Column): Seq[Int] =
    df.select(bucketOf(key).as("_b")).distinct()
      .collect().map(_.getInt(0)).toSeq

  /** State from batches STRICTLY BEFORE `batchId`, restricted to
    * `buckets` of the bucket partition column, read with `empty`'s
    * columns — every column of `empty` must be stored in the files (a
    * column they lack reads as NULL; BucketedStateSpec pins each
    * operator's `empty` against what it writes). Only the selected
    * directories are listed (see the object doc); no Spark job runs
    * until the frame is used. Only a missing store (first batch) maps to
    * the empty frame; any other failure propagates (the
    * LshStream.readBefore contract: treating transient IO as "no state"
    * would re-admit every seen doc). */
  def readBuckets(spark: SparkSession, p: String, batchId: Long,
                  bucketCol: String, buckets: Seq[Int],
                  empty: => DataFrame): DataFrame =
    if (buckets.isEmpty) empty
    else {
      val dirs = bucketDirs(spark, p, batchId, bucketCol, buckets.toSet)
      if (dirs.isEmpty) empty else ListedParquet.frame(spark, dirs, empty.schema)
    }

  /** The `batch=<b>/<bucketCol>=<k>` directories of store `p` with
    * `b < batchId` and `k` in `buckets`, each with its data files (names
    * starting `_` or `.` — `_SUCCESS`, checksums — skipped, as Spark's own
    * listing does). A missing store lists as no directories. */
  private def bucketDirs(spark: SparkSession, p: String, batchId: Long,
                         bucketCol: String,
                         buckets: Set[Int]): Seq[(Path, Array[FileStatus])] = {
    val root = new Path(p)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def subdirs(dir: Path, partCol: String)(keep: Long => Boolean): Seq[Path] =
      fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
        .filter { d =>
          val n = d.getName
          n.startsWith(partCol + "=") &&
            n.substring(partCol.length + 1).toLongOption.exists(keep)
        }
        .sortBy(_.getName)
    val batches =
      try subdirs(root, "batch")(_ < batchId)
      catch { case _: java.io.FileNotFoundException => Nil }
    for {
      b <- batches
      k <- subdirs(b, bucketCol)(v => buckets(v.toInt))
      files = fs.listStatus(k).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      if files.nonEmpty
    } yield k -> files
  }

  /** Overwrite this batch's partition of a bucketed store: bucket the
    * key, one file per bucket, static overwrite of the whole
    * `batch=<id>` subtree (replay-convergent). The bucket shuffle's
    * width is pinned at `min(defaultParallelism, NumBuckets)`: left to
    * AQE, a small batch's shuffle coalesces onto 1-2 writer tasks that
    * write its ~40 one-bucket files one after another. Hash partitioning
    * on the bucket column still puts each bucket in exactly one task,
    * hence one file. */
  def overwriteBatchBucketed(df: DataFrame, p: String, batchId: Long,
                             bucketCol: String, key: Column): Unit =
    df.withColumn(bucketCol, bucketOf(key))
      .repartition(math.min(df.sparkSession.sparkContext.defaultParallelism, NumBuckets),
        col(bucketCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(bucketCol)
      .parquet(s"$p/batch=$batchId")
}
