package graft

import java.nio.file.{Files, Path, StandardCopyOption}

/** `Tables.load` builds its DataFrame with no Spark job, and its schema is
  * the one `spark.read.parquet` infers. */
class TablesSpec extends SparkSuite {
  import spark.implicits._

  /** The one part-file a one-partition write of `df` leaves. */
  private def partFile(df: org.apache.spark.sql.DataFrame): Path = {
    val dir = Files.createTempDirectory("graft-tables-").resolve("w")
    df.coalesce(1).write.parquet(dir.toString)
    Files.list(dir).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
  }

  test("Tables.load: every harness table with no Spark job and the inferred schema") {
    assert(Tables.all.size === 10)
    Tables.all.foreach { t =>
      val (schema, jobs) = jobsDuring(Tables.load(spark, sf, t).schema)
      assert(jobs === 0, s"$t: Tables.load started $jobs Spark jobs")
      assert(schema === spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
  }

  test("Tables.load: of files with different schemas, the first in path order wins") {
    val sfDir = Files.createTempDirectory("graft-tables-")
    val table = Files.createDirectory(sfDir.resolve("t.parquet"))
    Files.copy(partFile(Seq((1L, "a")).toDF("id", "v")), table.resolve("part-b.parquet"))
    Files.copy(partFile(Seq(2.5).toDF("score")), table.resolve("part-a.parquet"))
    val schema = Tables.load(spark, sfDir.toString, "t").schema
    assert(schema === spark.read.parquet(table.toString).schema)
    assert(schema.fieldNames.toSeq === Seq("score"))
  }

  test("Tables.load: a table rewritten in place serves its new schema") {
    val sfDir = Files.createTempDirectory("graft-tables-")
    val table = sfDir.resolve("t.parquet")
    Files.copy(partFile(Seq((1L, "a")).toDF("id", "v")), table)
    assert(Tables.load(spark, sfDir.toString, "t").schema.fieldNames.toSeq === Seq("id", "v"))
    Files.copy(partFile(Seq((2.5, true, "x")).toDF("score", "ok", "label")), table,
      StandardCopyOption.REPLACE_EXISTING)
    val again = Tables.load(spark, sfDir.toString, "t")
    assert(again.schema.fieldNames.toSeq === Seq("score", "ok", "label"))
    assert(again.as[(Double, Boolean, String)].collect().toSeq === Seq((2.5, true, "x")))
  }
}
