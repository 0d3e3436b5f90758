package graft

import graft.sources.TicketApi
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Seam-test transport: proves the `transport` option binds a caller
  * class (instantiated by name, configured with the reader's options)
  * and that the reader's retry/backoff runs against ANY binding — it
  * serves a configurable number of synthetic tickets and fails the
  * first-ever page fetch with a 500. */
class CountingTestTransport extends graft.sources.TicketTransport {
  private var n: Long = 0L
  private var geAnchor: Long = 0L
  override def configure(options: Map[String, String]): Unit = {
    // CaseInsensitiveStringMap hands keys through lower-cased
    n = options.getOrElse("testtickets", "0").toLong
    CountingTestTransport.sawOptions.set(options.contains("testtickets"))
  }
  override def fetchPage(geUs: Long, leUs: Long, page: Int,
                         limit: Int): Seq[TicketApi.Ticket] = {
    CountingTestTransport.calls.incrementAndGet()
    if (CountingTestTransport.failNext.compareAndSet(true, false))
      throw TicketApi.ApiError(500)
    geAnchor = geUs
    val lo = (page - 1).toLong * limit
    if (lo >= n) Nil
    else (lo until math.min(n, lo + limit)).map { k =>
      TicketApi.Ticket(s"seam-$k", k, geUs + k, "open", s"seam$k@example.com")
    }
  }
  override def statsIn(geUs: Long, leUs: Long): (Long, Long, Long) = {
    CountingTestTransport.statsCalls.incrementAndGet()
    (n, geUs, geUs + math.max(0L, n - 1))
  }
}

object CountingTestTransport {
  val calls = new java.util.concurrent.atomic.AtomicLong(0L)
  val statsCalls = new java.util.concurrent.atomic.AtomicLong(0L)
  val failNext = new java.util.concurrent.atomic.AtomicBoolean(false)
  val sawOptions = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** Bisection-test transport: a deterministic dataset (ticket k at
  * anchor + k·step) served page-by-page, with an injectable failure
  * policy keyed on the REQUESTED span — `maxspanminutes` makes any
  * wider window 500 (mode "whole": every page; mode "page2": page 1
  * serves, later pages 500, exercising the mid-pagination resume
  * bound). Stateless per request, so recursive halves replay cleanly. */
class BisectTestTransport extends graft.sources.TicketTransport {
  private var n = 0L
  private var stepUs = 0L
  private var anchorUs = 0L
  private var maxSpanUs = Long.MaxValue
  private var failMode = "whole"
  private var tieSize = 1L
  override def configure(options: Map[String, String]): Unit = {
    n = options.getOrElse("testtickets", "0").toLong
    stepUs = options.getOrElse("stepminutes", "30").toLong * 60L * 1000000L
    anchorUs = TicketApi.parseIso(
      options.getOrElse("anchoriso", "2024-01-01T00:00:00Z"))
    maxSpanUs = options.get("maxspanminutes")
      .map(_.toLong * 60L * 1000000L).getOrElse(Long.MaxValue)
    failMode = options.getOrElse("failmode", "whole")
    // tiesize > 1: tickets arrive in runs of `tiesize` sharing ONE
    // created_at — the equal-timestamp regime the inclusive resume
    // bound exists for
    tieSize = options.getOrElse("tiesize", "1").toLong
  }
  private def inRange(geUs: Long, leUs: Long): Seq[TicketApi.Ticket] =
    (0L until n).map(k => TicketApi.Ticket(s"bsct-$k", k,
        anchorUs + (k / tieSize) * stepUs, "open", s"b$k@example.com"))
      .filter(t => t.createdUs >= geUs && t.createdUs <= leUs)
  override def fetchPage(geUs: Long, leUs: Long, page: Int,
                         limit: Int): Seq[TicketApi.Ticket] = {
    BisectTestTransport.calls.incrementAndGet()
    val wide = (leUs - geUs) > maxSpanUs
    if (wide && (failMode == "whole" || page >= 2)) throw TicketApi.ApiError(500)
    val lo = (page - 1) * limit
    inRange(geUs, leUs).slice(lo, lo + limit)
  }
  override def statsIn(geUs: Long, leUs: Long): (Long, Long, Long) = {
    val rows = inRange(geUs, leUs)
    if (rows.isEmpty) (0L, 0L, 0L)
    else (rows.size.toLong, rows.head.createdUs, rows.last.createdUs)
  }
}

object BisectTestTransport {
  val calls = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** The DSv2 ticket source: pushdowns, window partitioning, retry path. */
class TicketSourceSpec extends SparkSuite {

  private def read(start: String, end: String, extra: (String, String)*) = {
    val base = spark.read.format("graft.sources.TicketDataSource")
      .option("start", start).option("end", end)
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  test("range filters are pushed to the API and prune scan partitions") {
    TicketApi.attempts.clear()
    val df = read("2024-01-01T00:00:00Z", "2024-03-01T00:00:00Z", "windowDays" -> "7")
      .filter(col("created_at") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("created_at") <= lit("2024-01-20 00:00:00").cast("timestamp"))

    val expected = TicketApi.countIn(
      TicketApi.parseIso("2024-01-05T00:00:00Z"),
      TicketApi.parseIso("2024-01-20T00:00:00Z"))
    assert(df.count() === expected)
    assert(expected > 0)

    val desc = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.description()
    }.get
    assert(desc.contains("PushedFilters"))
    assert(desc.contains("created_at")) // the range reached the source
    // 15-day filtered range / 7-day windows → 3 scan partitions, not 9
    assert(df.rdd.getNumPartitions === 3)
  }

  test("reader retries transient 500s with backoff and loses no rows") {
    TicketApi.attempts.clear()
    val df = read("2024-01-01T00:00:00Z", "2024-01-15T00:00:00Z")
    // collect, not count(): count() now pushes to the source's index and
    // would never page (see the aggregate-pushdown test) — the retry
    // path under test only runs when rows are actually fetched
    val n = df.collect().length.toLong
    assert(n === TicketApi.countIn(
      TicketApi.parseIso("2024-01-01T00:00:00Z"),
      TicketApi.parseIso("2024-01-15T00:00:00Z")))
    // the deterministic fault injection fired and was retried through
    val counts = TicketApi.attempts.values()
    assert(counts.stream().anyMatch(_ >= 2), "expected at least one retried page")
  }

  test("transport seam: option-bound class serves pages, retry runs against it") {
    CountingTestTransport.calls.set(0L)
    CountingTestTransport.failNext.set(true)
    CountingTestTransport.sawOptions.set(false)
    // 1-day range → one window partition; 250 tickets at pageSize 100 →
    // 3 pages (the last short) + 1 failed first attempt = 5 calls
    val df = read("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z",
      "transport" -> classOf[CountingTestTransport].getName,
      "testtickets" -> "250")
    val rows = df.collect()
    assert(rows.length === 250, "the bound transport's rows, not TicketApi's")
    assert(rows.forall(_.getString(0).startsWith("seam-")))
    assert(CountingTestTransport.sawOptions.get(),
      "configure must receive the reader's option map")
    assert(!CountingTestTransport.failNext.get(), "the injected 500 fired")
    assert(CountingTestTransport.calls.get() === 4L,
      "retry replays exactly the failed page: 1 failed attempt + 3 served " +
        s"pages, short page terminates (got ${CountingTestTransport.calls.get()})")
    // aggregate pushdown answers from the SEAM's stats endpoint too
    CountingTestTransport.calls.set(0L)
    val n = read("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z",
      "transport" -> classOf[CountingTestTransport].getName,
      "testtickets" -> "250").count()
    assert(n === 250L)
    assert(CountingTestTransport.calls.get() === 0L,
      "pushed COUNT must answer from statsIn with zero page fetches")
  }

  test("splitOnError: whole-window 5xx bisects down to served halves, rows ≡ clean run") {
    // 40 tickets every 30 min over one 24 h window partition
    val base = Seq(
      "transport" -> classOf[BisectTestTransport].getName,
      "testtickets" -> "40", "stepminutes" -> "30")
    val clean = read("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z", base: _*)
      .collect().map(_.getLong(1)).toSeq
    assert(clean === (0L until 40L), "clean-run sanity")

    // any window wider than 6 h 500s EVERY page → the 24 h partition
    // fails, splitOnError bisects 24→12→6 h and the 6 h quarters serve
    BisectTestTransport.calls.set(0L)
    val healed = read("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z",
      (base ++ Seq("maxspanminutes" -> "360", "splitOnError" -> "true")): _*)
      .collect()
    assert(healed.map(_.getLong(1)).toSeq === clean,
      "bisected read must yield exactly the clean run's rows, in order")
    assert(healed.map(_.getString(0)).distinct.length === 40, "no duplicates")
    assert(BisectTestTransport.calls.get() > 4L,
      "the healed run must actually have walked the bisection tree")
  }

  test("splitOnError: mid-pagination 5xx resumes past emitted rows (no dupes, no loss)") {
    // pageSize 10: a wide window serves page 1 (10 rows) then 500s page
    // 2, so every bisection level emits a prefix before splitting — the
    // inclusive resume bound [last emitted ts, hi] plus the per-run uuid
    // skip set is what keeps exactly-once
    val healed = read("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z",
      "transport" -> classOf[BisectTestTransport].getName,
      "testtickets" -> "40", "stepminutes" -> "30", "pageSize" -> "10",
      "maxspanminutes" -> "360", "failmode" -> "page2",
      "splitOnError" -> "true").collect()
    assert(healed.map(_.getLong(1)).toSeq === (0L until 40L),
      "all 40 rows exactly once, ascending — emitted prefixes never replayed")
  }

  test("splitOnError: 5xx inside an equal-timestamp run loses nothing, dupes nothing") {
    // tiesize 4 with pageSize 10: page 1 of the wide window ends at
    // ticket 9, INSIDE the run [8..11] that shares one created_at. The
    // resume bound is inclusive of the last emitted timestamp with the
    // emitted uuids skipped by id — the old exclusive bound (lastUs + 1)
    // silently dropped tickets 10 and 11 here.
    val healed = read("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z",
      "transport" -> classOf[BisectTestTransport].getName,
      "testtickets" -> "40", "stepminutes" -> "30", "tiesize" -> "4",
      "pageSize" -> "10", "maxspanminutes" -> "360", "failmode" -> "page2",
      "splitOnError" -> "true").collect()
    assert(healed.map(_.getLong(1)).toSeq === (0L until 40L),
      "all 40 rows exactly once, ascending — the equal-timestamp run " +
        "spanning the failed page boundary must neither drop nor replay")
  }

  test("splitOnError is opt-in: default fails the task on retry-exhausted 5xx") {
    val ex = intercept[org.apache.spark.SparkException] {
      read("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z",
        "transport" -> classOf[BisectTestTransport].getName,
        "testtickets" -> "40", "maxspanminutes" -> "360").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists {
      case TicketApi.ApiError(500) => true
      case _ => false
    }, s"expected the 500 to propagate, got: $ex")
  }

  test("splitOnError: at the floor the reader throws, never degrades to empty") {
    // maxspanminutes=0 → every request 500s; bisection halves down to the
    // 1 h floor and then rethrows (the reference degrades to an empty
    // slice here — silent data loss we deliberately refuse)
    BisectTestTransport.calls.set(0L)
    intercept[org.apache.spark.SparkException] {
      read("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z",
        "transport" -> classOf[BisectTestTransport].getName,
        "testtickets" -> "40", "maxspanminutes" -> "0",
        "splitOnError" -> "true").collect()
    }
    // lazy leftmost descent: depth ≈ log2(24) ≈ 5 levels × ≤3 retry
    // attempts — bounded, no exponential fan-out before failing
    assert(BisectTestTransport.calls.get() < 40L,
      s"floor failure must be a bounded descent, saw ${BisectTestTransport.calls.get()} calls")
  }

  test("limit pushdown reaches the scan") {
    val df = read("2024-01-01T00:00:00Z", "2024-06-01T00:00:00Z").limit(10)
    val desc = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.description()
    }.get
    assert(desc.contains("limit=Some(10)"))
    assert(df.count() === 10)
  }

  test("topN pushdown: orderBy(created_at).limit reaches the source; other orders decline") {
    // ascending created_at matches the server's native order → pushed;
    // each window reader fetches at most 5 rows, Spark merge-limits
    val df = read("2024-01-01T00:00:00Z", "2024-03-01T00:00:00Z")
      .orderBy("created_at").limit(5)
    val desc = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.description()
    }.get
    assert(desc.contains("topN=true"), desc)
    assert(desc.contains("limit=Some(5)"), desc)
    val rows = df.collect()
    assert(rows.map(_.getLong(1)).toSeq === (0L until 5L).toSeq,
      "global top-5 must be the first five tickets of the range")

    // a descending order can't ride the ascending server sort: declined,
    // evaluated Spark-side, result still correct
    val down = read("2024-01-01T00:00:00Z", "2024-01-08T00:00:00Z")
      .orderBy(col("created_at").desc).limit(1)
    val downDesc = down.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.description()
    }.get
    assert(downDesc.contains("topN=false"), downDesc)
    val expectLast = TicketApi.countIn(
      TicketApi.parseIso("2024-01-01T00:00:00Z"),
      TicketApi.parseIso("2024-01-08T00:00:00Z")) - 1
    assert(down.collect().head.getLong(1) === expectLast)
  }

  test("column pruning: reader materializes only required fields") {
    val df = read("2024-01-01T00:00:00Z", "2024-01-08T00:00:00Z").select("number")
    assert(df.columns.toSeq === Seq("number"))
    val nums = df.limit(3).collect().map(_.getLong(0))
    assert(nums.toSeq === Seq(0L, 1L, 2L))
  }

  test("values are the deterministic dataset, sorted ascending per window") {
    val first = read("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z")
      .orderBy("number").limit(2).collect()
    assert(first(0).getString(0) === "tck-0")
    assert(first(0).getLong(1) === 0L)
    assert(first(1).getString(3) === "pending") // statuses cycle
  }
  test("COUNT/MIN/MAX push to the source: zero page fetches, windows merge") {
    TicketApi.attempts.clear()
    val df = read("2024-01-01T00:00:00Z", "2024-02-01T00:00:00Z")
      .agg(count(lit(1)).as("n"), min(col("created_at")).as("lo"),
        max(col("created_at")).as("hi"))
    // the aggregate plan runs under AQE, so find the scan in the
    // OPTIMIZED logical plan (the physical BatchScanExec hides inside
    // AdaptiveSparkPlanExec)
    val desc = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.get
    assert(desc.contains("PushedAggregates"), desc)
    val row = df.collect().head
    val geUs = TicketApi.parseIso("2024-01-01T00:00:00Z")
    val leUs = TicketApi.parseIso("2024-02-01T00:00:00Z")
    val (n, minUs, maxUs) = TicketApi.statsIn(geUs, leUs)
    assert(row.getLong(0) === n)
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    assert(us(row.getTimestamp(1)) === minUs)
    assert(us(row.getTimestamp(2)) === maxUs)
    // the whole aggregate was answered from the index: no page was fetched
    assert(TicketApi.attempts.isEmpty,
      s"expected zero page fetches, saw ${TicketApi.attempts.size()}")
    // a grouped aggregate is declined -> falls back to paging the rows
    TicketApi.attempts.clear()
    val grouped = read("2024-01-01T00:00:00Z", "2024-01-08T00:00:00Z")
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
    assert(grouped.collect().map(_.getLong(1)).sum ===
      TicketApi.countIn(TicketApi.parseIso("2024-01-01T00:00:00Z"),
        TicketApi.parseIso("2024-01-08T00:00:00Z")))
    assert(!TicketApi.attempts.isEmpty, "grouped agg must page the rows")
  }

  test("runtime filtering drops windows with no build-side key (DPP seam)") {
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.In
    // 7-day range, 1-day windows → 7 partitions before runtime filtering
    val df = read("2024-01-01T00:00:00Z", "2024-01-08T00:00:00Z",
        "windowDays" -> "1")
      .filter(col("created_at") >= "2024-01-01" &&
        col("created_at") < "2024-01-08")
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.get
    val rf = scan.asInstanceOf[SupportsRuntimeFiltering]
    assert(rf.filterAttributes().map(_.describe()).toSeq ===
      Seq("created_at"))
    val before = scan.toBatch.planInputPartitions().length
    assert(before === 7, s"expected 7 daily windows, got $before")
    // the join build side delivered two keys, both inside day 3 —
    // every other window must be pruned BEFORE any fetch
    val day3 = TicketApi.parseIso("2024-01-03T06:00:00Z")
    rf.filter(Array[org.apache.spark.sql.sources.Filter](
      In("created_at",
        Array(java.time.Instant.ofEpochSecond(day3 / 1000000L),
          java.time.Instant.ofEpochSecond(day3 / 1000000L + 3600)))))
    val after = scan.toBatch.planInputPartitions()
    assert(after.length === 1, s"expected 1 surviving window: $after")
    // undecodable key sets must NOT prune (under-apply, never over-apply)
    val scan2 = read("2024-01-01T00:00:00Z", "2024-01-08T00:00:00Z",
        "windowDays" -> "1")
      .filter(col("created_at") >= "2024-01-01" &&
        col("created_at") < "2024-01-08")
      .queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.get.asInstanceOf[SupportsRuntimeFiltering]
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      In("created_at", Array("not-a-timestamp"))))
    assert(scan2.asInstanceOf[org.apache.spark.sql.connector.read.Scan]
      .toBatch.planInputPartitions().length === 7)
    // e2e: a join keyed on created_at stays correct under the planner's
    // own runtime-filter decisions
    import spark.implicits._
    val full = read("2024-01-01T00:00:00Z", "2024-01-08T00:00:00Z")
      .select(col("created_at"), col("number")).collect()
    val probeKeys = full.take(3).map(_.getTimestamp(0))
    val probe = probeKeys.toSeq.toDF("created_at")
    val joined = read("2024-01-01T00:00:00Z", "2024-01-08T00:00:00Z")
      .join(probe, Seq("created_at"))
    assert(joined.count() ===
      full.count(r => probeKeys.contains(r.getTimestamp(0))))
  }

  private def statsOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
    }.get.estimateStatistics()

  test("estimateStatistics: the API count over the pushed range, capped by a pushed limit") {
    val lo = "2024-01-05 00:00:00"
    val hi = "2024-01-20 00:00:00"
    val ranged = read("2024-01-01T00:00:00Z", "2024-03-01T00:00:00Z", "windowDays" -> "7")
      .filter(col("created_at") >= lit(lo).cast("timestamp") &&
        col("created_at") <= lit(hi).cast("timestamp"))
    val n = TicketApi.countIn(TicketApi.parseIso("2024-01-05T00:00:00Z"),
      TicketApi.parseIso("2024-01-20T00:00:00Z"))
    val st = statsOf(ranged)
    assert(st.numRows().getAsLong === n)
    assert(st.sizeInBytes().getAsLong === n * TicketApi.schema.defaultSize)
    // pruned columns shrink the size, not the count
    val narrow = statsOf(ranged.select("number"))
    assert(narrow.numRows().getAsLong === n)
    assert(narrow.sizeInBytes().getAsLong === n * 8L)
    // each window reader stops at a pushed limit: one window → the limit,
    // three windows → at most three times the limit
    assert(statsOf(read("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z").limit(10))
      .numRows().getAsLong === 10L)
    assert(statsOf(read("2024-01-01T00:00:00Z", "2024-01-21T00:00:00Z",
      "windowDays" -> "7").limit(10)).numRows().getAsLong === 30L)
    // an empty range is empty; a pushed aggregate emits one row per window
    assert(statsOf(read("2024-02-01T00:00:00Z", "2024-01-01T00:00:00Z"))
      .numRows().getAsLong === 0L)
    assert(statsOf(read("2024-01-01T00:00:00Z", "2024-01-21T00:00:00Z",
      "windowDays" -> "7").agg(count(lit(1)))).numRows().getAsLong === 3L)
  }

  test("estimateStatistics asks the bound transport's statsIn at most once per scan") {
    CountingTestTransport.statsCalls.set(0L)
    val df = read("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z",
      "transport" -> classOf[CountingTestTransport].getName,
      "testtickets" -> "250")
    assert(statsOf(df).numRows().getAsLong === 250L)
    assert(statsOf(df).numRows().getAsLong === 250L)
    assert(df.collect().length === 250)
    assert(CountingTestTransport.statsCalls.get() === 1L)
  }
}
