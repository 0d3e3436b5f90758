package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the mains and the tests, so every tool
  * times, verifies and plans the same engine: `local[cpus]` with `cpus`
  * shuffle partitions, UTC session zone, no UI, nanosecond parquet
  * timestamps read as longs, WARN logging and the [[GraftExtensions]]
  * installed. */
object Sessions {

  /** `SPARK_GRAFT_CPUS` when set, else the JVM's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet stores TIMESTAMP(NANOS), which the vectorized
      // reader rejects; read it as a long (Tables.normalizeEventTs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    spark
  }
}
