package graft

import graft.operators.Sizing
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one input-size measurement: a parquet scan reports its file
  * bytes; a leaf without statistics is unknown. */
class SizingSpec extends SparkSuite {

  test("leafBytes of a parquet scan is the file's byte count") {
    val file = new java.io.File(s"$sf/region.parquet")
    assert(Sizing.leafBytes(Tables.region(spark, sf)) === Some(file.length))
  }

  test("leafBytes is None for a leaf without statistics, also once checkpointed") {
    val rdd = spark.sparkContext.parallelize(Seq(Row(1L), Row(2L)))
    val statless = spark.createDataFrame(rdd, StructType(Seq(StructField("x", LongType))))
    assert(Sizing.leafBytes(statless) === None)
    assert(Sizing.leafBytes(statless.localCheckpoint()) === None)
  }

  test("a localCheckpoint leaf keeps the estimate of the plan it replaced") {
    val region = Tables.region(spark, sf)
    assert(Sizing.leafBytes(region.localCheckpoint()) ===
      Some(region.queryExecution.optimizedPlan.stats.sizeInBytes.toLong))
  }
}
