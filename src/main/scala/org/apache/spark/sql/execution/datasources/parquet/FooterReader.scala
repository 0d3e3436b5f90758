package org.apache.spark.sql.execution.datasources.parquet

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils,
  FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PathFilterWrapper}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.HadoopFSUtils

/** The engine's one parquet reader: the DataFrame `spark.read.parquet`
  * builds, with the schema Spark would infer, but with no Spark job.
  *
  * A plain `spark.read.parquet` reads the footers it infers from inside a
  * Spark job, and lists more than 32 paths in another. Here both run on
  * the driver: the listing serially, with Spark's own name filter (no
  * `_*` or `.*` files), and the footers through one process-wide cache,
  * so a file's footer is read once while its path, length and mtime stay
  * the same. Each read prunes the cache to the files its scope (the path
  * it was given, or the caller's root) still has, so the cache holds
  * about one footer per live file. Footers, not schemas, are cached: the
  * footer → Spark schema conversion depends on session confs
  * (`nanosAsLong`, `binaryAsString`, …) and runs on every read, as
  * inference does.
  *
  * The schema is the one inference picks: without `mergeSchema`, the first
  * file's in path order; with it, every file's, merged left to right in
  * path order. (Inference would also prefer a `_metadata` summary file;
  * Spark writes none unless `parquet.summary.metadata.level` asks it to,
  * and nothing here does.) The relation is the one `DataSource` builds: an
  * `InMemoryFileIndex` over the same root paths, served from the listing
  * already made, so the plan text does not change. Spark keeps the footer
  * reader and the schema converter `private[parquet]`, hence this package.
  */
object FooterReader {

  /** `spark.read.parquet(path)`. */
  def read(spark: SparkSession, path: String): DataFrame =
    fromPath(spark, path, merge = false)

  /** `spark.read.option("mergeSchema", "true").parquet(path)`. */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    fromPath(spark, path, merge = true)

  /** [[readMerged]] over `files` themselves, with no listing: for a
    * caller that already holds their statuses. `scope` names the set the
    * files belong to (e.g. a destination root) for the cache's pruning. */
  def readMergedFiles(spark: SparkSession, scope: String,
                      files: Seq[FileStatus]): DataFrame =
    relation(spark, scope, files.map(f => f.getPath -> Seq(f)), merge = true)

  private def fromPath(spark: SparkSession, path: String,
                       merge: Boolean): DataFrame = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val conf = spark.sessionState.conf
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val filter = org.apache.hadoop.mapred.FileInputFormat.getInputPathFilter(
      new org.apache.hadoop.mapred.JobConf(hadoopConf, getClass))
    // InMemoryFileIndex's listing, with no threshold for a listing job
    val leaves = HadoopFSUtils.parallelListLeafFiles(spark.sparkContext, roots,
      hadoopConf, new PathFilterWrapper(filter), conf.ignoreMissingFiles,
      conf.ignoreDataLocality, Int.MaxValue, conf.parallelPartitionDiscoveryParallelism)
    relation(spark, roots.mkString(","), leaves, merge)
  }

  private def relation(spark: SparkSession, scope: String,
                       leaves: Seq[(Path, Seq[FileStatus])],
                       merge: Boolean): DataFrame = {
    val index = new InMemoryFileIndex(spark, leaves.map(_._1), Map.empty, None,
      new ListedFiles(leaves))
    val dataSchema = schema(spark, scope, leaves.flatMap(_._2), merge)
    val format = new ParquetFileFormat
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    Seq(dataSchema, index.partitionSchema).foreach(
      SchemaUtils.checkSchemaColumnNameDuplication(_, caseSensitive))
    DataSourceUtils.verifySchema(format, dataSchema, readOnly = true)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      dataSchema.asNullable, None, format, Map.empty)(spark))
  }

  /** A listing already made, served to an `InMemoryFileIndex` by root. */
  private class ListedFiles(leaves: Seq[(Path, Seq[FileStatus])]) extends FileStatusCache {
    private val byRoot = new ConcurrentHashMap[Path, Array[FileStatus]](
      leaves.map { case (p, fs) => p -> fs.toArray }.toMap.asJava)
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      Option(byRoot.get(path))
    override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit =
      byRoot.put(path, files)
    override def invalidateAll(): Unit = byRoot.clear()
  }

  private def schema(spark: SparkSession, scope: String, files: Seq[FileStatus],
                     merge: Boolean): StructType = {
    val sorted = files.sortBy(_.getPath.toString)
    val touched = if (merge) sorted else sorted.take(1)
    if (touched.isEmpty) throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet")
    val conf = spark.sessionState.conf
    // the converter parquet schema inference builds
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    footers(spark, scope, touched)
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .reduce(_.merge(_, conf.caseSensitiveAnalysis))
  }

  private val footerCache =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, Footer]]()

  /** The footers of `files`, in order, read on the driver for the files
    * the cache does not hold, after pruning `scope`'s entries to `files`. */
  private def footers(spark: SparkSession, scope: String,
                      files: Seq[FileStatus]): Seq[Footer] = {
    val cache = footerCache.computeIfAbsent(scope, _ => new ConcurrentHashMap())
    val keys = files.map(f => s"${f.getPath}#${f.getLen}#${f.getModificationTime}")
    cache.keySet().retainAll(keys.asJava)
    val known = keys.flatMap(k => Option(cache.get(k)).map(k -> _)).toMap
    val missing = files.zip(keys).filterNot { case (_, k) => known.contains(k) }
    val read = missing.map(_._2).zip(ParquetFileFormat.readParquetFootersInParallel(
      spark.sessionState.newHadoopConf(), missing.map(_._1), ignoreCorruptFiles = false)).toMap
    read.foreach { case (k, footer) => cache.put(k, footer) }
    keys.map(k => known.getOrElse(k, read(k)))
  }
}
