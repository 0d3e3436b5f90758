package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Synthetic harness tables with the registry's schema (region, nation,
  * customer, supplier, part, orders, lineitem, events, documents,
  * embeddings) at the row counts of scale factor 0.1. Every value is a
  * hash of (row id, column salt, data seed), so the tables are the same
  * whatever the partitioning. One parquet file per table, as the
  * registry's own fixtures are laid out. */
object HarnessTables {
  /** The data seed is fixed: the recorded per-query result hashes in
    * query_mix.tsv were taken on exactly these tables. */
  val DataSeed = 42L

  private def u(salt: Int): Column =
    pmod(xxhash64(col("id"), lit(DataSeed * 1000 + salt)), lit(1000000007L))
      .cast("double") / 1000000007.0
  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(salt) * values.size).cast("int") + 1)
  private def intBelow(salt: Int, n: Int): Column = (u(salt) * n).cast("int")
  private def dayFrom(salt: Int, start: String, days: Int): Column =
    date_add(lit(start).cast("date"), intBelow(salt, days)).cast("timestamp")

  /** Writes every table; the single-file writes run concurrently. */
  def write(spark: SparkSession, dir: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(tables(spark).toSeq) { case (name, df) =>
      Future(df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    }, scala.concurrent.duration.Duration.Inf)
  }

  private def tables(spark: SparkSession): Map[String, DataFrame] = {
    import spark.implicits._
    val out = Map.newBuilder[String, DataFrame]
    def save(name: String, df: DataFrame): Unit = out += name -> df
    def rows(n: Long): DataFrame = spark.range(n).toDF()

    save("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"))
    save("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    save("customer", rows(15000).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      intBelow(1, 25).as("c_nationkey"),
      round(lit(-999.99) + u(2) * 10999.98, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    save("supplier", rows(1000).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      intBelow(4, 25).as("s_nationkey"),
      round(lit(-999.99) + u(5) * 10999.98, 2).as("s_acctbal")))
    save("part", rows(20000).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick(6, Seq("blue", "old", "small", "new", "large", "hot", "cold", "red")),
        pick(7, Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")))
        .as("p_name"),
      concat(lit("Brand#"), (intBelow(8, 25) + 1).cast("string")).as("p_brand"),
      pick(9, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (intBelow(10, 50) + 1).as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000L)) * 0.1, 1).as("p_retailprice")))
    save("orders", rows(150000).select(col("id").as("o_orderkey"),
      intBelow(11, 15000).cast("long").as("o_custkey"),
      pick(12, Seq("O", "F", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(13) * 499000.0, 2).as("o_totalprice"),
      dayFrom(14, "1995-01-01", 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    save("lineitem", rows(600000).select(
      intBelow(16, 150000).cast("long").as("l_orderkey"),
      intBelow(17, 20000).cast("long").as("l_partkey"),
      intBelow(18, 1000).cast("long").as("l_suppkey"),
      (intBelow(19, 7) + 1).as("l_linenumber"),
      (intBelow(20, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(21) * 104100.0, 2).as("l_extendedprice"),
      round(intBelow(22, 11) / 100.0, 2).as("l_discount"),
      round(intBelow(23, 9) / 100.0, 2).as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, Seq("O", "F")).as("l_linestatus"),
      dayFrom(26, "1995-01-02", 2498).as("l_shipdate")))
    // one event every ~26 s across January 2024, with sub-step jitter
    val anchorUs = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    save("events", rows(100000).select(col("id").as("event_id"),
      timestamp_micros(lit(anchorUs) + col("id") * 25920000L +
        (u(27) * 25000000L).cast("long")).as("ts"),
      intBelow(28, 1500).cast("long").as("user_id"),
      pick(29, Seq("view", "click", "signup", "purchase", "error")).as("event_type"),
      round(least(-log(lit(1.0) - u(30)) * 50.0, lit(560.21)), 2).as("value"),
      concat(lit("{\"k\": "), intBelow(31, 100).cast("string"), lit("}")).as("props")))
    val vocab = Seq("batch", "sort", "value", "hash", "filter", "big", "data", "dup",
      "query", "row", "stream", "the", "spark", "line", "small", "fast", "group",
      "customer", "part", "column", "order", "scan", "a", "slow", "agg", "key",
      "window", "table", "merge", "vector", "join")
    val vocabArr = array(vocab.map(lit): _*)
    save("documents", rows(5000)
      .withColumn("__n", intBelow(32, 91) + 10)
      .withColumn("text", concat_ws(" ", transform(sequence(lit(1), col("__n")), i =>
        element_at(vocabArr, (pmod(xxhash64(col("id"), i, lit(DataSeed)),
          lit(vocab.size.toLong)) + 1).cast("int")))))
      .select(col("id").as("doc_id"), col("text"),
        pick(33, Seq("en", "en", "en", "en", "es", "fr", "de", "zh")).as("lang"),
        concat(lit("src"), intBelow(34, 20).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars")))
    // random directions on the unit sphere (Box-Muller normals, normalized)
    def normal(i: Column): Column = {
      def h(k: Int) = (pmod(xxhash64(col("id"), i, lit(DataSeed + k)), lit(1000000007L))
        .cast("double") + 1.0) / 1000000008.0
      sqrt(lit(-2.0) * log(h(1))) * cos(lit(2 * math.Pi) * h(2))
    }
    save("embeddings", rows(2000)
      .withColumn("__v", transform(sequence(lit(0), lit(63)), i => normal(i)))
      .withColumn("__norm", sqrt(aggregate(col("__v"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("__v"), x => (x / col("__norm")).cast("float")).as("embedding"),
        intBelow(35, 10).as("label")))
    out.result()
  }
}

/** Order-insensitive content hash of a query result: the row count and
  * the sum of per-row xxhash64 values. Map columns are hashed through
  * their JSON text, since Spark refuses to hash maps. */
object ResultHash {
  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }
}

/** `query_mix`: one query at a time from a fixed, module-stratified
  * sample of the registry, each a build followed by a noop-sink write.
  * The seed sets the query order of every pass. Result hashes are
  * checked against query_mix.tsv in the untimed warm-up pass; the timed
  * passes keep the noop sink. */
final class QueryMix(spark: SparkSession, seed: Long, benchDir: String) extends Workload {
  import QueryMix.Entry

  private val entries: Seq[Entry] = {
    val src = scala.io.Source.fromFile(s"$benchDir/query_mix.tsv", "UTF-8")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(n, m, h) = l.split("\t")
      Entry(n, m, h)
    }.toList
    finally src.close()
  }
  private val order: Seq[Entry] = new scala.util.Random(seed).shuffle(entries)
  private var dir: String = _

  def generate(d: String): Unit = { HarnessTables.write(spark, d); dir = d }
  /** The tables do not depend on the seed, so they are written once. */
  override def generations: Int = 1

  private def build(e: Entry): DataFrame =
    Trace.span("entry.build") { SparkEntry.queries(e.name)(spark, dir) }

  def warmUp(ops: OpTimer, log: String => Unit): Int = order.count { e =>
    var got: String = null
    ops.op(e.name, 1) { got = ResultHash.of(build(e)) }
    spark.catalog.clearCache()
    val wrong = got != null && got != e.hash
    if (wrong) log(s"query_mix: ${e.name} hash $got, expected ${e.hash}")
    wrong
  }

  def pass(p: Int, ops: OpTimer, log: String => Unit): Int = {
    byModule = order.map { e =>
      val t0 = System.nanoTime()
      ops.op(e.name, 1) {
        val df = build(e)
        Trace.span("entry.exec") { df.write.format("noop").mode("overwrite").save() }
      }
      spark.catalog.clearCache()
      s"module.${e.module}_s" -> (System.nanoTime() - t0) / 1e9
    }.toMap
    0
  }

  /** Latest pass: each module's query latency, so the modules the sample
    * stands for show up as layers of their own. */
  private var byModule = Map.empty[String, Double]

  def layerCounts: Map[String, Double] = byModule + ("entry.queries" -> entries.size.toDouble)
}

object QueryMix {
  final case class Entry(name: String, module: String, hash: String)
}
