package graft

/** Benchmark main (driver contract): times every SparkEntry query at the
  * scale-factor dir in SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Protocol notes:
  *  - Materialization is a `noop`-sink write, not `count()`: count() lets
  *    Catalyst prune the projected expressions (an iso-format or cosine
  *    column would never be evaluated), while the noop sink computes every
  *    output column and discards the rows — honest per-operator cost.
  *  - Each query runs SPARK_GRAFT_REPS (default 3) consecutive reps and
  *    reports the MEDIAN: rep 1 absorbs plan compilation, whole-stage
  *    codegen and JVM JIT (the fixed costs behind the q_pq_topk
  *    2.7↔9.3 s round-to-round swings), and the median discards that
  *    outlier — per-query numbers are steady-state, not
  *    warmup-lottery. `"reps"` is recorded in the JSON so trend readers
  *    know which protocol produced the line (earlier rounds: one timed
  *    pass after a full untimed warmup sweep).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val spark = Sessions.local(Sessions.cpus)

    // Dev-only subset filter (driver sets no SPARK_GRAFT_ONLY → full suite).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // A failed query must be VISIBLE in the output — swallowing it would
    // record a near-zero time and read as a perf win in the trend line.
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    val repTimes = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val results = names.map { name =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try run(name)
        catch { case _: Throwable => if (!errors.contains(name)) errors += name }
        (System.nanoTime() - t0) / 1e9
      }
      // r16 (burst auditability, per the r15 verdict): keep the raw
      // per-rep times in CHRONOLOGICAL order next to the median — a
      // co-tenant burst landing on 2 of 3 reps silently poisons the
      // recorded median, and without the array nothing in the artifact
      // lets a reader prove it per query after the fact.
      repTimes(name) = times
      // r16 protocol note (recorded in BASELINE.md): drop cached
      // fragments between queries — operator-internal .cache() calls
      // otherwise accumulate across 413 queries × reps in the shared
      // session, and a fragment that canonically matches a LATER query's
      // subtree gets cache-substituted into its plan (the PlanAuditSpec
      // r13 race), making that query's timing depend on suite position.
      // Outside the timed region; localCheckpoints are unaffected.
      spark.catalog.clearCache()
      val sorted = times.sorted
      name -> sorted(sorted.length / 2)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val reparr = repTimes.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":$qs,"queries_reps":$reparr,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // The driver's BENCH_rN.json keeps only a ~2 KB tail of stdout, and
    // the full per-query line above is ~20 KB — so the round record used
    // to carry a fragment. Print a compact total/errors summary as the
    // LAST stdout line so the tail always carries the headline numbers;
    // bench_summary.json (below) stays the full per-query record.
    println(s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries_n":${results.length},"errors":$errs,"sf":"$sfDir","full_record":"bench_summary.json"}""")
    // Also persist the line verbatim: the driver's BENCH_r*.json records
    // only a truncated stdout tail ("parsed": null), so without this the
    // round record carries fragments instead of exact totals. Path
    // override for side-by-side runs (e.g. the sf1/sf10 scale soaks).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_summary.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
