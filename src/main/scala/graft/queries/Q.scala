package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query, declared as `Q(name, oracle) { (s, d) => ... }`:
  * its name, the DuckDB SQL that must return the same rows over the same
  * parquet tables, and the Spark build over a scale-factor directory.
  * Every oracle is hash-checked: the three sketch-boundary queries
  * (q_approx_distinct, q_hll_state_merge, q_quality_filter_approx) emit
  * exact-side columns plus deterministic acceptance booleans, so their
  * oracles pin the verdicts to TRUE. */
final case class Q(name: String, oracle: String)(
    val build: (SparkSession, String) => DataFrame)
