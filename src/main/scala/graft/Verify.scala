package graft
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils

/** Driver-run correctness dump: each SparkEntry.registry result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (dev loop; the driver
    // always runs the full registry)
    val qs = if (args.length > 2) SparkEntry.named(args(2).split(",").toSeq)
      else SparkEntry.registry
    // The session carries the full extension set (functions, GroupTopK
    // strategy, row_number→heap rewrite) for EVERY query: the oracle gate
    // doubles as the standing equivalence proof for the optimizer rule.
    val spark = Sessions.local(Sessions.cpus)
    // AQE (+ skew-join handling + partition coalescing) is ON by default
    // in Spark 4 — the suite's standard profile IS adaptive. This knob
    // runs the inverse profile: results must be plan-invariant, so a
    // sweep with AQE off proves no query leans on a runtime re-plan
    // (BASELINE.md records both profiles hash-green).
    if (sys.env.get("SPARK_GRAFT_AQE_OFF").contains("1"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    new java.io.File(outDir).mkdirs()
    qs.foreach { q =>
      // A build that throws never starts the write, so a previous run's
      // dump would survive and hash as OK: clear it first, and again on
      // failure, so the oracle check reports the query as missing.
      val out = new java.io.File(outDir, q.name)
      FileUtils.deleteQuietly(out)
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(out.getPath)
      catch { case e: Throwable =>
        FileUtils.deleteQuietly(out)
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
