package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.LongType

/** Loaders for the harness parquet tables (TESTDATA.md).
  *
  * All engine operators take DataFrames; this is the only place that knows
  * the on-disk layout. At cluster scale the same API fronts partitioned
  * parquet/Delta paths — filters and projections applied by callers are
  * pushed into the scan by Catalyst, so these loaders stay cheap.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  /** The events table's `ts` physical type has drifted across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
    * read nanos as long via the legacy conf [[Sessions.local]] sets and
    * truncate with integer division; plain `/` would go through double and
    * lose precision above 2^53 ns) and plain TIMESTAMP(MICROS) without the
    * UTC-adjusted flag (which Spark reads as TIMESTAMP_NTZ). Either way,
    * normalize to the session-zone TimestampType every downstream operator
    * expects (watermarks, unix_micros, window()); under the UTC session the
    * NTZ cast is a pure reinterpretation, matching DuckDB's naive reading. */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }

  def events(spark: SparkSession, d: String): DataFrame =
    normalizeEventTs(load(spark, d, "events"))

  /** Raw on-disk schema of the events parquet (ts as nanos long under the
    * [[Sessions.local]] conf). */
  def rawEventSchema(spark: SparkSession, d: String): org.apache.spark.sql.types.StructType =
    load(spark, d, "events").schema
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
