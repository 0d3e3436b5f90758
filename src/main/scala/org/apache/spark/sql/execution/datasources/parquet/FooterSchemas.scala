package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Parquet footer schemas read on the driver, with no Spark job — the
  * same footer reader and footer → Spark schema conversion that
  * `mergeSchema=true` runs inside a job, reached from this package
  * because Spark keeps them `private[parquet]`. */
object FooterSchemas {

  /** The Spark schema of each file, in input order. */
  def read(spark: SparkSession, files: Seq[FileStatus]): Seq[StructType] = {
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      spark.sessionState.newHadoopConf(), files, ignoreCorruptFiles = false)
    footers.map(f => ParquetFileFormat.readSchema(Seq(f), spark).get)
  }

  /** Left-to-right `StructType.merge`, with the session's case
    * sensitivity, as Spark merges part-file schemas. */
  def merge(spark: SparkSession, schemas: Seq[StructType]): StructType = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    schemas.reduce(_.merge(_, caseSensitive))
  }
}
