package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector reproducing the reference's API-scan semantics
  * Spark-first (SURVEY.md §2 S1-S5): a paginated ticket endpoint with
  *  - server-side time-range filtering → `SupportsPushDownFilters` on
  *    created_at (the reference's `createdAt ge/le` params, ticket.py:109-115)
  *  - page-size limits → `SupportsPushDownLimit` (limit=100 cap, ticket.py:99)
  *  - server-side sort+limit → `SupportsPushDownTopN` for ORDER BY
  *    created_at ASC (the reference's `sort=createdAt` + limit params,
  *    ticket.py:118-119); partial — Spark merge-limits the per-window
  *    ascending prefixes
  *  - column selection → `SupportsPushDownRequiredColumns`
  *  - ungrouped COUNT(*)/MIN/MAX(created_at) → `SupportsPushDownAggregates`
  *    (partial: one pre-aggregated row per window from the API's index —
  *    a range count never pages; grouped/other aggregates decline and
  *    page normally)
  *  - time-window partitioning → one `InputPartition` per window
  *    (`split_windows`, ticket.py:31-38): windows scan in parallel across
  *    executors instead of the reference's sequential driver loop
  *  - per-page retry with exponential backoff inside the `PartitionReader`
  *    (≤3 attempts, 2^(n-1) backoff on 409/500, ticket.py:123-138)
  *  - short-page termination (ticket.py:145-146).
  *
  * The HTTP layer is behind the [[TicketTransport]] seam, bound via the
  * `transport` option (a class name instantiated per partition reader ON
  * THE EXECUTOR, configured with the reader's full option map) — a live
  * deployment binds an HTTP client class without touching any Spark-side
  * piece; the default is [[InMemoryTicketTransport]], the deterministic
  * in-memory page server (this sandbox has zero egress). Retry/backoff
  * stays CLIENT-side in the partition reader, transport-agnostic, exactly
  * as the reference keeps it in its request wrapper (ticket.py:123-138).
  * Usage:
  * {{{
  * spark.read.format("graft.sources.TicketDataSource")
  *   .option("start", "2024-01-01T00:00:00Z").option("end", "2024-03-01T00:00:00Z")
  *   .option("transport", "com.example.HttpTicketTransport") // live binding
  *   .load().filter($"created_at" >= ... )  // reaches the API as a filter
  * }}}
  */
class TicketDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TicketApi.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TicketTable(new CaseInsensitiveStringMap(properties))
}

/** The transport seam (ticket.py:98-149 fidelity): HOW a page of tickets
  * or a range-stats answer reaches the reader — the ONLY part of the
  * source a live deployment replaces. Implementations need a public
  * no-arg constructor (they are instantiated by class name on executors,
  * once per partition reader) and receive the reader's full option map
  * via [[configure]] (endpoint URL, credentials reference, timeouts —
  * whatever the binding needs). Everything else — window partitioning,
  * filter/limit/TopN/aggregate pushdown, retry/backoff, short-page
  * termination — is transport-agnostic and stays put. */
trait TicketTransport extends Serializable {
  /** Called once after instantiation with the reader's options. */
  def configure(options: Map[String, String]): Unit = ()
  /** One page of tickets with createdUs in [geUs, leUs], ascending.
    *
    * ERROR CONTRACT: transient transport failures MUST surface as
    * [[TicketApi.ApiError]] carrying the HTTP status — that is the type
    * the reader's ≤3-attempt backoff loop retries (409/500, matching the
    * reference's policy); any other exception is treated as fatal and
    * fails the task. A live HTTP binding maps its client's error/status
    * into ApiError in its own catch block. */
  def fetchPage(geUs: Long, leUs: Long, page: Int, limit: Int): Seq[TicketApi.Ticket]
  /** (count, min createdUs, max createdUs) in the closed range — the
    * metadata/count endpoint behind aggregate pushdown. */
  def statsIn(geUs: Long, leUs: Long): (Long, Long, Long)
}

object TicketTransport {
  val OptionKey = "transport"
  def instantiate(className: String, options: Map[String, String]): TicketTransport = {
    val t = Class.forName(className).getDeclaredConstructor()
      .newInstance().asInstanceOf[TicketTransport]
    t.configure(options)
    t
  }
}

/** The sandbox binding: delegates to [[TicketApi]], the deterministic
  * in-memory page server (with its simulated transient 500s, so the
  * reader's retry path is exercised against the seam too). */
final class InMemoryTicketTransport extends TicketTransport {
  override def fetchPage(geUs: Long, leUs: Long, page: Int, limit: Int): Seq[TicketApi.Ticket] =
    TicketApi.fetchPage(geUs, leUs, page, limit)
  override def statsIn(geUs: Long, leUs: Long): (Long, Long, Long) =
    TicketApi.statsIn(geUs, leUs)
}

private[sources] class TicketTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "tickets"
  override def schema(): StructType = TicketApi.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new TicketScanBuilder(options)
}

private[sources] class TicketScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownAggregates
    with SupportsPushDownRequiredColumns {

  private val startUs = TicketApi.parseIso(
    Option(options.get("start")).getOrElse("2024-01-01T00:00:00Z"))
  private val endUs = TicketApi.parseIso(
    Option(options.get("end")).getOrElse("2024-06-01T00:00:00Z"))
  private val windowUs: Long =
    Option(options.get("windowDays")).map(_.toLong).getOrElse(7L) * 86400L * 1000000L
  // page size clamped to [1, 100] — capped like the reference API
  // (chat.py:60); a floor of 1 because pageSize <= 0 would make the
  // short-page termination test (rows < pageSize) unsatisfiable
  private val pageSize: Int =
    math.max(1, math.min(Option(options.get("pageSize")).map(_.toInt).getOrElse(100), 100))
  // opt-in adaptive window bisection (reference ticket.py:41-67): on
  // retry-exhausted 5xx the reader splits the unseen remainder of its
  // window in half down to a floor (default 1 hour, the reference's)
  // instead of failing the task. Default OFF — fail-fast + Spark task
  // retry — because the reference's floor behavior silently degrades
  // to an empty slice (ticket.py:66-67); at the floor this reader
  // still throws. See [[TicketPartitionReader]].
  private val splitOnError: Boolean =
    Option(options.get("splitOnError")).exists(_.toBoolean)
  private val splitFloorUs: Long =
    Option(options.get("splitFloorHours")).map(_.toLong).getOrElse(1L) *
      3600L * 1000000L
  // transport binding: class name + the full option map it is configured
  // with, both plain-serializable so readers instantiate on executors
  private val transportClass: String =
    Option(options.get(TicketTransport.OptionKey))
      .getOrElse(classOf[InMemoryTicketTransport].getName)
  private val transportOpts: Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    options.entrySet().forEach(e => m += (e.getKey -> e.getValue))
    m.toMap
  }

  private var geUs: Long = startUs
  private var leUs: Long = endUs
  private var pushed = Array.empty[Filter]
  private var limit: Option[Int] = None
  private var topN: Boolean = false
  private var required: StructType = TicketApi.schema

  /** Accept created_at range predicates (they become API filter params);
    * everything else stays a Spark-side residual. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case GreaterThanOrEqual("created_at", _) | GreaterThan("created_at", _) |
           LessThanOrEqual("created_at", _) | LessThan("created_at", _) => true
      case _ => false
    }
    accepted.foreach {
      case GreaterThanOrEqual("created_at", v) => geUs = math.max(geUs, TicketApi.toUs(v))
      case GreaterThan("created_at", v) => geUs = math.max(geUs, TicketApi.toUs(v) + 1)
      case LessThanOrEqual("created_at", v) => leUs = math.min(leUs, TicketApi.toUs(v))
      case LessThan("created_at", v) => leUs = math.min(leUs, TicketApi.toUs(v) - 1)
      case _ =>
    }
    pushed = accepted
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(l: Int): Boolean = { limit = Some(l); false }

  /** ORDER BY created_at ASC + LIMIT pushes to the server (the reference
    * sends `sort=createdAt&limit=` params, ticket.py:118-119): the API
    * already serves each window ascending, so a reader only fetches the
    * first `l` rows of its window instead of paging it out. PARTIAL
    * pushdown — with several window partitions the per-window prefixes
    * must still be merge-limited, so Spark keeps its global TopN (which
    * now sees ≤ l rows per partition, not the whole scan). Any other
    * ordering is declined and evaluated Spark-side. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    val ok = orders.length == 1 &&
      orders.head.direction == SortDirection.ASCENDING &&
      (orders.head.expression match {
        case ref: NamedReference => ref.fieldNames.sameElements(Array("created_at"))
        case _ => false
      })
    if (ok) {
      limit = Some(limit.fold(l)(math.min(_, l)))
      topN = true
    }
    ok
  }
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT(*) / MIN(created_at) / MAX(created_at) with no grouping push
    * to the server (a real ticket API answers these from its index via a
    * count/stats endpoint — the point is the reader never PAGES: a range
    * count over 200k tickets costs one metadata request instead of 2000
    * pages). PARTIAL pushdown (`supportCompletePushDown` stays false):
    * each window partition emits one pre-aggregated row and Spark's
    * final aggregate merges them — the same partial/final shape a
    * parquet scan's pushed count uses, so adding windows never changes
    * the answer. Any other aggregate (or any grouping) is declined and
    * evaluated Spark-side on the paged rows. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    def isCreatedAt(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference => r.fieldNames.sameElements(Array("created_at"))
        case _ => false
      }
    if (aggregation.groupByExpressions.nonEmpty) return false
    val exprs = aggregation.aggregateExpressions
    val ok = exprs.nonEmpty && exprs.forall {
      case _: CountStar => true
      case m: Min => isCreatedAt(m.column)
      case m: Max => isCreatedAt(m.column)
      case _ => false
    }
    if (ok) {
      aggExprs = exprs.map {
        case _: CountStar => TicketAgg.CountStar
        case _: Min => TicketAgg.MinCreated
        case _: Max => TicketAgg.MaxCreated
      }.toSeq
      required = StructType(aggExprs.zipWithIndex.map {
        case (TicketAgg.CountStar, i) =>
          StructField(s"agg_$i", LongType, nullable = false)
        case (_, i) => StructField(s"agg_$i", TimestampType, nullable = true)
      })
    }
    ok
  }

  private var aggExprs: Seq[TicketAgg] = Nil

  override def build(): Scan = new TicketScan(geUs, leUs, windowUs, pageSize,
    limit, required, pushed, topN, aggExprs, transportClass, transportOpts,
    splitOnError, splitFloorUs)
}

/** The three server-answerable aggregates of [[TicketScanBuilder]]'s
  * pushdown, as a plain enum the scan/reader can ship. */
private[sources] sealed trait TicketAgg
private[sources] object TicketAgg {
  case object CountStar extends TicketAgg
  case object MinCreated extends TicketAgg
  case object MaxCreated extends TicketAgg
}

private[sources] class TicketScan(geUs: Long, leUs: Long, windowUs: Long,
                                  pageSize: Int, limit: Option[Int],
                                  required: StructType, pushed: Array[Filter],
                                  topN: Boolean = false,
                                  aggExprs: Seq[TicketAgg] = Nil,
                                  transportClass: String =
                                    classOf[InMemoryTicketTransport].getName,
                                  transportOpts: Map[String, String] = Map.empty,
                                  splitOnError: Boolean = false,
                                  splitFloorUs: Long = 3600L * 1000000L)
    extends Scan with Batch with SupportsRuntimeFiltering with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private lazy val windows: Seq[(Long, Long)] =
    if (geUs > leUs) Nil
    else graft.operators.Relational.splitWindows(geUs, leUs + 1, windowUs)

  /** Row count of the scan from the API's count endpoint
    * ([[TicketTransport.statsIn]] over the pushed range, one request on
    * the driver, made once per scan): each window reader stops at a
    * pushed limit, and a pushed aggregate emits one row per window.
    * Without it Spark assumes the scan is huge, so a join against it
    * plans a shuffle on both sides even when it would fit a broadcast. */
  private lazy val rowEstimate: Long =
    if (windows.isEmpty) 0L
    else if (aggExprs.nonEmpty) windows.size.toLong
    else {
      val n = TicketTransport.instantiate(transportClass, transportOpts)
        .statsIn(geUs, leUs)._1
      limit.fold(n)(l => math.min(n, l.toLong * windows.size))
    }

  override def estimateStatistics(): Statistics = new Statistics {
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rowEstimate)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(rowEstimate * required.defaultSize)
  }
  override def description(): String =
    s"TicketScan PushedFilters: [${pushed.mkString(", ")}], " +
      s"range=[$geUs,$leUs], window=${windowUs}us, pageSize=$pageSize, " +
      s"limit=$limit, topN=$topN" +
      (if (aggExprs.nonEmpty) s", PushedAggregates: [${aggExprs.mkString(", ")}]"
       else "") +
      runtimeInUs.map(s => s", RuntimeFilteredKeys: ${s.size}").getOrElse("")

  // ---- runtime (DPP-style) filtering ---------------------------------
  // When the scan sits under a join keyed on created_at, Spark hands the
  // build side's key set here AT RUNTIME (SupportsRuntimeFiltering) and
  // whole time-window partitions with no matching key are never fetched —
  // the API-source analogue of dynamic partition pruning. Dropping a
  // window is only done on an EXACT key set (In/EqualTo); surviving
  // windows still emit all their rows, which the contract allows (the
  // runtime filter may be under-applied, never over-applied).
  private var runtimeInUs: Option[Set[Long]] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("created_at"))

  private def toMicros(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos % 1000000) / 1000L)
    case _ => None
  }

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case org.apache.spark.sql.sources.In("created_at", vs) =>
      val us = vs.toSeq.flatMap(toMicros)
      // only act on a fully-decoded key set — a partially-understood
      // set could prune a window that actually matches
      if (us.size == vs.length)
        runtimeInUs = Some(runtimeInUs.fold(us.toSet)(_ intersect us.toSet))
    case org.apache.spark.sql.sources.EqualTo("created_at", v) =>
      toMicros(v).foreach { u =>
        runtimeInUs = Some(runtimeInUs.fold(Set(u))(_ intersect Set(u)))
      }
    case _ => () // unknown runtime filters are advisory — skip safely
  }

  /** One partition per time window (split_windows, ticket.py:31-38) — the
    * unit of parallelism AND of retry isolation. Windows come from the
    * shared splitter (half-open [lo, hi)), converted to the reader's
    * inclusive [lo, hi] bounds. Runtime-filtered keys drop windows
    * containing none of them before any fetch is issued. */
  override def planInputPartitions(): Array[InputPartition] = {
    val wins = windows.map { case (lo, hi) => TicketWindowPartition(lo, hi - 1) }
    runtimeInUs
      .fold(wins)(ks => wins.filter(w => ks.exists(u => u >= w.loUs && u <= w.hiUs)))
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (aggExprs.nonEmpty)
      new TicketAggReaderFactory(aggExprs, transportClass, transportOpts)
    else new TicketReaderFactory(pageSize, limit, required, transportClass,
      transportOpts, splitOnError, splitFloorUs)
}

/** Readers for a pushed aggregation: one pre-aggregated row per window,
  * answered from the API's index ([[TicketTransport.statsIn]] — the
  * metadata request a real server serves from its count endpoint) with
  * ZERO page fetches. Spark's final aggregate merges the per-window
  * partials. */
private[sources] class TicketAggReaderFactory(aggExprs: Seq[TicketAgg],
                                              transportClass: String,
                                              transportOpts: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val part = partition.asInstanceOf[TicketWindowPartition]
      private val transport =
        TicketTransport.instantiate(transportClass, transportOpts)
      private var served = false
      override def next(): Boolean = { val go = !served; served = true; go }
      override def get(): InternalRow = {
        val (n, minUs, maxUs) = transport.statsIn(part.loUs, part.hiUs)
        val vals: Array[Any] = aggExprs.map {
          case TicketAgg.CountStar => n.asInstanceOf[Any]
          case TicketAgg.MinCreated =>
            if (n > 0) minUs.asInstanceOf[Any] else null
          case TicketAgg.MaxCreated =>
            if (n > 0) maxUs.asInstanceOf[Any] else null
        }.toArray
        new GenericInternalRow(vals)
      }
      override def close(): Unit = ()
    }
}

private[sources] case class TicketWindowPartition(loUs: Long, hiUs: Long)
    extends InputPartition

private[sources] class TicketReaderFactory(pageSize: Int, limit: Option[Int],
                                           required: StructType,
                                           transportClass: String,
                                           transportOpts: Map[String, String],
                                           splitOnError: Boolean = false,
                                           splitFloorUs: Long = 3600L * 1000000L)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TicketPartitionReader(partition.asInstanceOf[TicketWindowPartition],
      pageSize, limit, required,
      TicketTransport.instantiate(transportClass, transportOpts),
      splitOnError, splitFloorUs)
}

/** Pages through one time window with the reference's retry/backoff loop
  * (≤3 attempts, 2^(n-1) backoff, ticket.py:123-138) and short-page
  * termination (ticket.py:145-146). The retry policy lives HERE — client
  * side of the [[TicketTransport]] seam — so every binding (in-memory or
  * live HTTP) gets the same ≤3-attempt 409/500 behavior.
  *
  * With `splitOnError` (opt-in, reference ticket.py:41-67): when the
  * retry budget exhausts on a 5xx, the reader bisects the remainder of
  * its window resuming from the LAST EMITTED created_at INCLUSIVE —
  * rows at that timestamp are re-fetched and the already-emitted ones
  * skipped by uuid, so a failure landing inside a run of equal
  * created_at values spanning a page boundary loses nothing and
  * duplicates nothing (exactly-once preserved; the skip set holds only
  * the uuids of the CURRENT equal-timestamp run, bounded by the tie
  * width at one microsecond — the reference has no such guarantee at
  * all: it DISCARDS prior pages on split, ticket.py:134-136) — and
  * pages each half recursively, halving down to the `splitFloorUs`
  * floor (1 hour by default, like the reference). At the floor the
  * reader THROWS rather than degrade to an empty slice, deliberately
  * replacing the reference's silent data loss (ticket.py:66-67) with
  * task failure + Spark retry. */
private[sources] class TicketPartitionReader(part: TicketWindowPartition,
                                             pageSize: Int, limit: Option[Int],
                                             required: StructType,
                                             transport: TicketTransport,
                                             splitOnError: Boolean = false,
                                             splitFloorUs: Long = 3600L * 1000000L)
    extends PartitionReader[InternalRow] {
  private var emitted = 0
  private var current: TicketApi.Ticket = _

  private def fetchWithRetry(loUs: Long, hiUs: Long, p: Int): Seq[TicketApi.Ticket] = {
    val maxRetries = 3
    var attempt = 1
    while (true) {
      try return transport.fetchPage(loUs, hiUs, p, pageSize)
      catch {
        case e: TicketApi.ApiError if attempt < maxRetries && (e.code == 409 || e.code == 500) =>
          Thread.sleep(1L << (attempt - 1)) // 2^(n-1), ms-scaled for tests
          attempt += 1
        case e: TicketApi.ApiError => throw e
      }
    }
    Nil
  }

  /** Lazy ascending row stream over [loUs, hiUs]: pages until a short
    * page; on retry-exhausted 5xx with splitOnError, swaps itself for
    * the concatenation of two recursive halves of the unseen remainder
    * (see the class doc). Non-5xx errors, and any error with
    * splitOnError off, propagate and fail the task. */
  private def windowRows(loUs: Long, hiUs: Long): Iterator[TicketApi.Ticket] =
    new Iterator[TicketApi.Ticket] {
      private var page = 1
      private var buf: Iterator[TicketApi.Ticket] = Iterator.empty
      private var done = false
      private var lastUs = loUs - 1
      // uuids emitted at exactly lastUs — the current equal-timestamp
      // run. Resuming INCLUSIVE of lastUs re-fetches that run and skips
      // these by id, so a 5xx landing mid-run of equal created_at
      // values spanning a page boundary cannot drop the not-yet-emitted
      // tail of the run (the old `lastUs + 1` resume bound silently
      // did). Bounded by the run width (ties at one microsecond), reset
      // every time the timestamp advances.
      private val seenAtLastUs = scala.collection.mutable.HashSet.empty[String]
      private var fallback: Iterator[TicketApi.Ticket] = null
      private def refill(): Unit =
        while (fallback == null && !buf.hasNext && !done) {
          try {
            val rows = fetchWithRetry(loUs, hiUs, page)
            if (rows.size < pageSize) done = true // short page → last page
            page += 1
            buf = rows.iterator
          } catch {
            case e: TicketApi.ApiError if splitOnError && e.code >= 500 =>
              val resumeLo = math.max(loUs, lastUs)
              if (hiUs - resumeLo + 1 <= splitFloorUs) throw e // at the floor
              val mid = resumeLo + (hiUs - resumeLo) / 2
              // freeze the skip set at the failure point: the fallback
              // owns emission from here on, so this level's run of
              // already-emitted lastUs rows is final
              val skipUs = lastUs
              val skip = seenAtLastUs.toSet
              fallback = (windowRows(resumeLo, mid) ++ windowRows(mid + 1, hiUs))
                .filter(t => !(t.createdUs == skipUs && skip.contains(t.uuid)))
          }
        }
      override def hasNext: Boolean = {
        refill()
        if (fallback != null) fallback.hasNext else buf.hasNext
      }
      override def next(): TicketApi.Ticket = {
        refill()
        if (fallback != null) fallback.next()
        else {
          val t = buf.next()
          if (t.createdUs != lastUs) seenAtLastUs.clear()
          lastUs = t.createdUs
          seenAtLastUs += t.uuid
          t
        }
      }
    }

  private lazy val rows = windowRows(part.loUs, part.hiUs)

  override def next(): Boolean = {
    if (limit.exists(emitted >= _)) return false
    if (!rows.hasNext) return false
    current = rows.next()
    emitted += 1
    true
  }

  override def get(): InternalRow = {
    val vals = required.fields.map { f =>
      f.name match {
        case "uuid" => UTF8String.fromString(current.uuid)
        case "number" => current.number
        case "created_at" => current.createdUs
        case "status" => UTF8String.fromString(current.status)
        case "requester_email" => UTF8String.fromString(current.email)
      }
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = ()
}

/** Deterministic in-memory "ticket API": the dataset is a pure function of
  * the ticket index (one ticket every 137s from the 2024-01-01 anchor), so
  * tests can compute the expected result of any pushed-down range/limit.
  * Simulates transient 500s on a deterministic subset of page requests to
  * exercise the reader's retry path; attempts are counted per request for
  * assertions. */
object TicketApi {
  val schema: StructType = StructType(Seq(
    StructField("uuid", StringType, nullable = false),
    StructField("number", LongType, nullable = false),
    StructField("created_at", TimestampType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("requester_email", StringType, nullable = false)))

  final case class Ticket(uuid: String, number: Long, createdUs: Long,
                          status: String, email: String)
  final case class ApiError(code: Int)
      extends RuntimeException(s"HTTP $code") with scala.util.control.NoStackTrace

  val anchorUs: Long = parseIso("2024-01-01T00:00:00Z")
  val stepUs: Long = 137L * 1000000L
  val totalTickets: Long = 200000L
  private val statuses = Array("open", "pending", "Resolvido", "open", "waiting")

  /** Attempt counts per (windowStart, page) — lets tests assert the retry
    * path actually fired. */
  val attempts = new java.util.concurrent.ConcurrentHashMap[(Long, Int), Integer]()

  def parseIso(s: String): Long =
    java.time.Instant.parse(s).toEpochMilli * 1000L

  /** Spark pushes timestamp filter values as java.sql.Timestamp or Instant. */
  def toUs(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case l: Long => l
    case other => throw new IllegalArgumentException(s"unsupported filter value $other")
  }

  def ticketAt(k: Long): Ticket = Ticket(
    uuid = s"tck-$k",
    number = k,
    createdUs = anchorUs + k * stepUs,
    status = statuses((k % statuses.length).toInt),
    email = s"user${k % 1000}@example.com")

  /** One page of tickets with createdUs in [geUs, leUs], sorted ascending
    * (the server honours filter + sort + pagination, ticket.py:109-119).
    * Deterministically throws a 500 on the first attempt of every 5th page
    * request to exercise client retries. */
  def fetchPage(geUs: Long, leUs: Long, page: Int, limit: Int): Seq[Ticket] = {
    val key = (geUs, page)
    val attempt: Int = attempts.merge(key, Integer.valueOf(1),
      (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
    if ((geUs / stepUs + page) % 5 == 2 && attempt == 1) throw ApiError(500)

    val kLo = math.max(0L, ceilDiv(geUs - anchorUs, stepUs))
    val kHi = math.min(totalTickets - 1, floorDiv(leUs - anchorUs, stepUs))
    if (kLo > kHi) return Nil
    val pageStart = kLo + (page - 1).toLong * limit
    if (pageStart > kHi) Nil
    else (pageStart to math.min(pageStart + limit - 1, kHi)).map(ticketAt)
  }

  /** Expected ticket count in a closed range — for test assertions. */
  def countIn(geUs: Long, leUs: Long): Long = {
    val kLo = math.max(0L, ceilDiv(geUs - anchorUs, stepUs))
    val kHi = math.min(totalTickets - 1, floorDiv(leUs - anchorUs, stepUs))
    math.max(0L, kHi - kLo + 1)
  }

  /** Range stats (count, min created_at, max created_at) answered from
    * the index — the "count endpoint" a real API serves without paging;
    * what the pushed-aggregation readers call. min/max only meaningful
    * when count > 0. */
  def statsIn(geUs: Long, leUs: Long): (Long, Long, Long) = {
    val kLo = math.max(0L, ceilDiv(geUs - anchorUs, stepUs))
    val kHi = math.min(totalTickets - 1, floorDiv(leUs - anchorUs, stepUs))
    if (kLo > kHi) (0L, 0L, 0L)
    else (kHi - kLo + 1, anchorUs + kLo * stepUs, anchorUs + kHi * stepUs)
  }

  private def ceilDiv(a: Long, b: Long): Long = math.ceil(a.toDouble / b).toLong
  private def floorDiv(a: Long, b: Long): Long = math.floor(a.toDouble / b).toLong
}
