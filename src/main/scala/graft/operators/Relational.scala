package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core relational spine (SURVEY.md §2: T1-T5, T7, T10, T13-T14, T18).
  *
  * Every operator here is a thin, declarative composition over the DataFrame
  * API: Catalyst pushes the filters/projections into the parquet scan and
  * plans distributed execution; nothing below materializes on the driver.
  */
object Relational {

  /** Time-range predicate (reference/ticket.py:109-115). Declarative so the
    * predicate is pushed down to parquet row-group pruning. */
  def timeRange(df: DataFrame, tsCol: String, start: String, end: String): DataFrame =
    df.filter(col(tsCol).between(lit(start).cast("timestamp"), lit(end).cast("timestamp")))

  /** Project + rename in one select (reference/main.py:46-62): renameMap is
    * source-column (possibly dotted nested path) → business name. */
  def projectRename(df: DataFrame, renameMap: Seq[(String, String)]): DataFrame =
    df.select(renameMap.map { case (src, dst) => col(src).alias(dst) }.toIndexedSeq: _*)

  /** Cast a set of columns to a target type (reference/main.py:96-98). */
  def castAll(df: DataFrame, casts: Seq[(String, String)]): DataFrame =
    casts.foldLeft(df) { case (d, (c, t)) => d.withColumn(c, col(c).cast(t)) }

  /** `SELECT DISTINCT key WHERE key IS NOT NULL AND status != closed` — the
    * reference's open-ticket scan (reference/main.py:146-150,
    * update_tickets.py:4-8). Distinct is a hash aggregate: partial per
    * partition, one shuffle on the key. */
  def distinctOpenKeys(df: DataFrame, keyCol: String, statusCol: String,
                       closedValue: String): DataFrame =
    df.filter(col(keyCol).isNotNull && col(statusCol) =!= closedValue)
      .select(col(keyCol))
      .distinct()

  /** Null-or-blank key synthesis (reference/main.py:106-108): keep the key if
    * present and non-blank, else synthesize one. The reference uses uuid4();
    * callers pass a generator column (`expr("uuid()")`, or a deterministic
    * surrogate for oracle-checked runs). */
  def synthesizeKey(df: DataFrame, keyCol: String, generator: Column): DataFrame =
    df.withColumn(keyCol,
      when(col(keyCol).isNull || trim(col(keyCol)) === "", generator)
        .otherwise(col(keyCol)))

  /** Audit timestamp constant per run (reference/main.py:110-112), in
    * the `upload` column.
    *
    * `fixedClock` (an ISO `yyyy-MM-dd HH:mm:ss` literal) pins the stamp for
    * reproducible runs / oracle checks; None (the default, matching the
    * reference) stamps the query-start `current_timestamp()`, which Spark
    * already evaluates once per query, not per row — constant-per-run either
    * way. */
  def auditTimestamp(df: DataFrame, fixedClock: Option[String] = None): DataFrame =
    df.withColumn("upload",
      fixedClock.map(ts => lit(ts).cast("timestamp")).getOrElse(current_timestamp()))

  /** ISO-8601 formatting with numeric offset, offset rendered without colon —
    * the reference's `format_iso` / strftime('%Y-%m-%dT%H:%M:%S%z')
    * (reference/ticket.py:26-28). The offset is derived from the session
    * timezone by the same `date_format` call that renders the local time
    * ('xx' = ISO offset without colon), so value and suffix always agree —
    * "+0000" under UTC, "-0300" under America/Sao_Paulo. */
  def isoFormat(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ssxx")

  /** Fixed-width time bucketing (reference/ticket.py:31-38 `split_windows`):
    * assign each row the epoch-second start of its `widthSec`-wide window.
    * Used both as a query operator and as a scan-partitioning scheme: at
    * 100 TB the bucket column is the partition key, so range queries prune. */
  def timeBucket(ts: Column, widthSec: Long): Column =
    (floor(unix_timestamp(ts) / widthSec) * widthSec).cast("long")

  /** Driver-side scan planning (reference/ticket.py:31-38 `split_windows`):
    * partition [startSec, endSec) into consecutive `widthSec`-wide
    * [lo, hi) windows, the last one clipped. Exact cover: no gaps, no
    * overlap (property-tested). Used to derive source partitions
    * (graft.sources) and partitioned-write layouts. */
  def splitWindows(startSec: Long, endSec: Long, widthSec: Long): Seq[(Long, Long)] = {
    require(widthSec > 0)
    Iterator.iterate(startSec)(_ + widthSec)
      .takeWhile(_ < endSec)
      .map(lo => (lo, math.min(lo + widthSec, endSec)))
      .toSeq
  }

  /** Debounce: per key, keep only rows where the observed value CHANGES
    * from the previous row — the consecutive-duplicate collapse every
    * change-data / sensor / status stream needs before storage (a ticket
    * that reports "open" 500 times is one fact plus 499 heartbeats; see
    * the reference's status sync, which re-writes unchanged statuses
    * every run — update_tickets flow). First row per key always kept;
    * null-safe comparison so null→null runs collapse too.
    *
    * Shape: one lag window per key ordered by (ts, id) — the id tiebreak
    * makes same-timestamp runs deterministic. One shuffle on the key;
    * state is a single previous value per row. */
  def debounce(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
               valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    df.withColumn("__prev", lag(col(valCol), 1).over(w))
      // row_number, not lag(id).isNull: a null id mid-stream must not
      // masquerade as a partition head
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 || !(col(valCol) <=> col("__prev")))
      .drop("__prev", "__rn")
  }
}
