package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A parquet scan over directories the caller has ALREADY listed (same
  * hosting rationale as [[SessionUtils]]: `StructType.asNullable` is
  * `private[spark]`). `spark.read.parquet(root)` lists the whole tree —
  * one parallel-listing Spark job per directory holding more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` children —
  * and infers the schema with another job. Here the file index is seeded
  * from a private [[FileStatusCache]] holding exactly the caller's
  * listing, so building the frame lists nothing and runs no job; the
  * schema is the caller's (made nullable, as every file-source read's
  * is). The listing is a snapshot: the frame never sees files written
  * after it was taken. */
object ListedParquet {

  /** `dirs`: leaf directories with their data files. Each directory is
    * a root path of the index, so its path contributes no partition
    * columns — `schema` must name only columns stored in the files. */
  def frame(spark: SparkSession, dirs: Seq[(Path, Array[FileStatus])],
            schema: StructType): DataFrame = {
    val listed = dirs.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = listed.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, dirs.map(_._1), Map.empty, None, cache)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      schema.asNullable, None, new ParquetFileFormat, Map.empty)(spark))
  }
}
