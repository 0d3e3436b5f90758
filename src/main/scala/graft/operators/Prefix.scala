package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Cumulative sums over (group, value) grids, with a scale-adaptive
  * parallel form (guide §2.5–2.6; the r15-verdict "single-partition
  * window" fix).
  *
  * The value-grid operators (spearman, kruskalWallis, chatterjee,
  * jonckheere, conformalRadius, the two-sample rank-test family) all need
  * "total weight at strictly smaller values within my group". The natural
  * form is ONE cumulative window partitioned by nothing (or by a ≤k-group
  * key), which sorts the whole grid in ≤k tasks at ANY scale — the one
  * remaining serial term at 100 TB. The parallel form ("bucketed
  * prefix-sum") splits each group's value axis into
  * B ≈ `spark.sql.shuffle.partitions` range buckets and composes
  *
  *   cumBefore(row) = Σ totals(lower buckets)  +  within-bucket cumsum,
  *
  * so every sort runs over ~1/B of the grid in parallel. The bucket id is
  * a pure deterministic function of (value, per-group min/max), so the
  * totals branch and the main branch agree row-for-row, and the
  * cumulative sums are exact integer arithmetic — identical bits to the
  * single-window form at any bucket count (bucket boundaries affect
  * parallelism only, never the result).
  *
  * ADAPTIVE, not always-on: the bucketed form costs a per-group min/max
  * pass, a (group, bucket) exchange, a ≤(groups×B)-row prefix window and
  * a broadcast join — measured +0.3–2 s of fixed stage/barrier overhead
  * per call on this box, which DOMINATES at bench SF (interleaved A/B of
  * the always-on form: q_chatterjee 1.72×, q_conformal 1.50×,
  * q_spearman/q_jonckheere 1.19×). So, exactly like [[FanOut.widen]] and
  * `Graph.edgeWidth`, the form is chosen from the INPUT SIZE: callers
  * pass `wide = Prefix.isWide(input)` — leaf bytes above one scan split
  * (`spark.sql.files.maxPartitionBytes`) switch to the bucketed form; at
  * or below it the plan keeps the plain single-window shape byte-for-byte
  * (bench SF unchanged; a grid that fits one scan split sorts in one
  * task faster than the parallel machinery schedules). At warehouse
  * scale the threshold always trips and every grid window is
  * partitioned.
  *
  * Intended for LOW-CARDINALITY groups (the pathology being fixed); a
  * high-cardinality partition key is already parallel — keep the plain
  * window there.
  */
object Prefix {

  /** True when `df`'s known leaf input bytes exceed one scan split —
    * evaluate on the RAW input, before any collapse. An unknown size
    * ([[Sizing.leafBytes]] is `None`) keeps the plain form. */
  def isWide(df: DataFrame): Boolean =
    Sizing.leafBytes(df)
      .exists(_ > df.sparkSession.sessionState.conf.filesMaxPartitionBytes)

  /** Adds, for every weight column `w` in `weightCols`:
    *
    *   - `__cb_w`:  exclusive running sum of `w` over rows of the same
    *     group with strictly smaller `ordCol` (by the window's order —
    *     descending when `desc`); inclusive = `__cb_w` + own `w`.
    *   - `__tot_w`: the per-group total of `w`.
    *
    * Contract: `grid` has at most one row per (group, ordCol) — the
    * distinct-value-grid shape every caller builds first — and the
    * weights are integral (LongType sums; exactness is what makes the
    * parallel form result-identical). `ordCol` must be numeric; null
    * order values sort the way the plain window sorts them (first for
    * asc, last for desc). */
  def cumBefore(grid: DataFrame, grpCols: Seq[String], ordCol: String,
                weightCols: Seq[String], desc: Boolean = false,
                wide: Boolean = false,
                withTotals: Boolean = false): DataFrame = {
    require(weightCols.nonEmpty, "at least one weight column")
    if (!wide) {
      // plain form: the original single cumulative window (+ a whole-
      // group frame for totals in the SAME WindowExec pass when asked)
      val gc = grpCols.map(col)
      val wCum = Window.partitionBy(gc: _*)
        .orderBy(if (desc) col(ordCol).desc else col(ordCol).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy(gc: _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      weightCols.foldLeft(grid) { (d, w) =>
        val c = d.withColumn(s"__cb_$w",
          coalesce(sum(col(w)).over(wCum), lit(0L)))
        if (withTotals) c.withColumn(s"__tot_$w", sum(col(w)).over(wAll))
        else c
      }
    } else {
      val (bucketed, grps) = bucketize(grid, grpCols, ordCol, desc)
      val gc = grps.map(col)
      val wIn = Window.partitionBy((grps :+ "__pfx_bkt").map(col): _*)
        .orderBy(if (desc) col(ordCol).desc else col(ordCol).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val withIn = weightCols.foldLeft(bucketed) { (d, w) =>
        d.withColumn(s"__pfx_in_$w",
          coalesce(sum(col(w)).over(wIn), lit(0L)))
      }
      // bucket totals share the (group, bucket) exchange with the window
      val totals = bucketed
        .groupBy((grps :+ "__pfx_bkt").map(col): _*)
        .agg(sum(col(weightCols.head)).as(s"__pfx_t_${weightCols.head}"),
          weightCols.tail.map(w => sum(col(w)).as(s"__pfx_t_$w")): _*)
      val wPre = Window.partitionBy(gc: _*).orderBy(col("__pfx_bkt").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val wTot = Window.partitionBy(gc: _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val prefixed = weightCols.foldLeft(totals) { (d, w) =>
        val p = d.withColumn(s"__pfx_p_$w",
          coalesce(sum(col(s"__pfx_t_$w")).over(wPre), lit(0L)))
        if (withTotals)
          p.withColumn(s"__tot_$w", sum(col(s"__pfx_t_$w")).over(wTot))
        else p
      }
      val prefix = prefixed.select((grps :+ "__pfx_bkt").map(col) ++
        weightCols.flatMap(w =>
          if (withTotals) Seq(col(s"__pfx_p_$w"), col(s"__tot_$w"))
          else Seq(col(s"__pfx_p_$w"))): _*)
      val joined = withIn.join(broadcast(prefix), grps :+ "__pfx_bkt")
      joined.select(grid.columns.map(col) ++ weightCols.flatMap { w =>
        (col(s"__pfx_p_$w") + col(s"__pfx_in_$w")).as(s"__cb_$w") +:
          (if (withTotals) Seq(col(s"__tot_$w")) else Nil)
      }: _*)
    }
  }

  /** Adds `__lag_<valCol>`: the previous row's `valCol` in (group,
    * ordCol asc) order — or the NEXT row's when `desc` (i.e. `lead` by
    * value) — null at each group's boundary row. The parallel form takes
    * each bucket's boundary value from the adjacent NON-EMPTY bucket
    * (each bucket's last value in the window's own order, then a
    * ≤(groups×B)-row lag over the bucket rows). `valCol` must be
    * non-null (a null value would be indistinguishable from a bucket
    * boundary). Same grid contract and
    * `wide` semantics as [[cumBefore]]. */
  def lagAcross(grid: DataFrame, grpCols: Seq[String], ordCol: String,
                valCol: String, desc: Boolean = false,
                wide: Boolean = false): DataFrame = {
    if (!wide) {
      val w = Window.partitionBy(grpCols.map(col): _*)
        .orderBy(if (desc) col(ordCol).desc else col(ordCol).asc)
      grid.withColumn(s"__lag_$valCol", lag(col(valCol), 1).over(w))
    } else {
      val (bucketed, grps) = bucketize(grid, grpCols, ordCol, desc)
      val bk = (grps :+ "__pfx_bkt").map(col)
      val wIn = Window.partitionBy(bk: _*)
        .orderBy(if (desc) col(ordCol).desc else col(ordCol).asc)
      // the bucket's last value comes from the same window, so it follows
      // the window's own null/NaN order
      val withIn = bucketed
        .withColumn("__pfx_lin", lag(col(valCol), 1).over(wIn))
        .withColumn("__pfx_last", last(col(valCol)).over(wIn.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      val wB = Window.partitionBy(grps.map(col): _*).orderBy(col("__pfx_bkt").asc)
      val prevLast = withIn.groupBy(bk: _*)
        .agg(max(col("__pfx_last")).as("__pfx_last"))
        .select(bk :+ lag(col("__pfx_last"), 1).over(wB).as("__pfx_pl"): _*)
      withIn.join(broadcast(prevLast), grps :+ "__pfx_bkt")
        .select(grid.columns.map(col) :+
          coalesce(col("__pfx_lin"), col("__pfx_pl")).as(s"__lag_$valCol"): _*)
    }
  }

  /** Adds `__lead_<valCol>`: the NEXT row's `valCol` in (group, ordCol
    * asc) order, null at each group's last row — the parallel form of
    * `lead(val, 1)`. Wide form: within-bucket lead + each bucket's last
    * row takes the next NON-EMPTY bucket's first value (in the window's
    * own order, then a ≤(groups×B)-row lead over the bucket rows). Same
    * non-null `valCol` contract as [[lagAcross]]. */
  def leadAcross(grid: DataFrame, grpCols: Seq[String], ordCol: String,
                 valCol: String, wide: Boolean = false): DataFrame = {
    if (!wide) {
      val w = Window.partitionBy(grpCols.map(col): _*)
        .orderBy(col(ordCol).asc)
      grid.withColumn(s"__lead_$valCol", lead(col(valCol), 1).over(w))
    } else {
      val (bucketed, grps) = bucketize(grid, grpCols, ordCol, desc = false)
      val bk = (grps :+ "__pfx_bkt").map(col)
      val wIn = Window.partitionBy(bk: _*).orderBy(col(ordCol).asc)
      val withIn = bucketed
        .withColumn("__pfx_lin", lead(col(valCol), 1).over(wIn))
        .withColumn("__pfx_first", first(col(valCol)).over(wIn.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      val wB = Window.partitionBy(grps.map(col): _*).orderBy(col("__pfx_bkt").asc)
      val nextFirst = withIn.groupBy(bk: _*)
        .agg(max(col("__pfx_first")).as("__pfx_first"))
        .select(bk :+ lead(col("__pfx_first"), 1).over(wB).as("__pfx_nf"): _*)
      withIn.join(broadcast(nextFirst), grps :+ "__pfx_bkt")
        .select(grid.columns.map(col) :+
          coalesce(col("__pfx_lin"), col("__pfx_nf")).as(s"__lead_$valCol"): _*)
    }
  }

  /** Range-bucket `grid` on (group, ordCol): returns the frame with a
    * deterministic `__pfx_bkt` column (monotone in the window order) and
    * the group columns actually in use (a synthetic constant group is
    * injected for global grids so downstream windows stay PARTITIONED —
    * no single-partition WindowExec path in the plan; the expression is
    * data-derived (ord·0, NaN/null-guarded) so constant folding cannot
    * strip it back out of the partition spec). */
  private def bucketize(grid: DataFrame, grpCols: Seq[String],
                        ordCol: String, desc: Boolean)
      : (DataFrame, Seq[String]) = {
    require(grid.schema(ordCol).dataType.isInstanceOf[NumericType],
      s"ordCol must be numeric: $ordCol is ${grid.schema(ordCol).dataType}")
    val b = math.max(1,
      grid.sparkSession.sessionState.conf.numShufflePartitions)
    val (g0, grps) =
      if (grpCols.nonEmpty) (grid, grpCols)
      else (grid.withColumn("__pfx_grp",
        coalesce(nanvl(col(ordCol).cast("double") * lit(0.0), lit(0.0)),
          lit(0.0))), Seq("__pfx_grp"))
    val gc = grps.map(col)
    val ordAsc = col(ordCol).cast("double")
    // bucket axis follows the window order: negate for desc so the bucket
    // id stays monotone in the ORDER the cumsum runs in. Negation does not
    // move NaN (the greatest double to Spark), so NaN rows are placed by
    // hand and kept out of the min/max
    val ordv = if (desc) lit(0.0) - ordAsc else ordAsc
    val notNaN = when(!isnan(ordAsc), ordv)
    val mm = g0.groupBy(gc: _*)
      .agg(min(notNaN).as("__pfx_mn"), max(notNaN).as("__pfx_mx"))
    val span = col("__pfx_mx") - col("__pfx_mn")
    // monotone in ordv by construction (IEEE ·/÷ are monotone on
    // non-negative operands); every irregular case goes to an edge bucket
    // or degrades to a single bucket, never to a non-monotone assignment:
    //   null ord → the end the sort puts nulls at (first asc/last desc)
    //   NaN ord  → the end the sort puts NaN at (last asc/first desc)
    //   span ≤ 0 → one distinct value: everything in bucket b-1
    //   ordv = mx (also +inf) → bucket b-1
    //   inf span → (v-mn)·b/inf is 0 (finite mn) or NaN (mn = -inf): one
    //              bucket for every row below mx
    val (nullBkt, nanBkt) = if (desc) (b - 1, 0) else (0, b - 1)
    val bkt = when(col(ordCol).isNull, lit(nullBkt))
      .when(isnan(ordAsc), lit(nanBkt))
      .when(!(span > 0) || !(ordv < col("__pfx_mx")), lit(b - 1))
      .otherwise(least(
        floor((ordv - col("__pfx_mn")) * lit(b.toDouble) / span),
        lit((b - 1).toDouble)))
      .cast("int")
    (g0.join(broadcast(mm), grps)
      .withColumn("__pfx_bkt", bkt)
      .drop("__pfx_mn", "__pfx_mx"), grps)
  }
}
