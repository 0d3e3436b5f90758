package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: the query registry, one [[Q]] per implemented operator
  * from SURVEY.md §2 (+ §2b extensions), each with its DuckDB oracle SQL.
  *
  * Implementation lives in graft.operators / graft.functions; the family
  * objects in graft.queries only bind operators to the harness test tables.
  * Constants are chosen so every query is deterministic (ties broken by
  * keys, doubles rounded after deterministic arithmetic) and
  * scale-invariant (absolute bounds on the intentionally-quadratic pair
  * oracles).
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (reference/main.py:146-150 transplanted):
    * distinct open tickets. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.openTickets.build(spark, "/root/testdata/sf0.001")

  /** `qs`, after checking that no name is declared twice. */
  private[graft] def unique(qs: Seq[Q]): Seq[Q] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Every query, family by family. */
  val registry: Seq[Q] = unique(Seq(
    RelationalQueries.all, TimeSeriesQueries.all, EventQueries.all,
    TextQueries.all, DedupQueries.all, CorpusQueries.all,
    SimilarityQueries.all, GraphQueries.all, StatsQueries.all,
    HypothesisTestQueries.all, AgreementQueries.all).flatten)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** The registry entries for `names` (trimmed, blanks dropped), in order.
    * Throws, listing every unknown name, rather than running a subset. */
  def named(names: Seq[String]): Seq[Q] = {
    val byName = registry.map(q => q.name -> q).toMap
    val wanted = names.map(_.trim).filter(_.nonEmpty)
    val unknown = wanted.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    wanted.map(byName)
  }
}
