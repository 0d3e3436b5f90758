package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (dev loop; the driver
    // always runs the full map)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
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
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
