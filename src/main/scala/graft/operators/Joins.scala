package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join-shaped operators (SURVEY.md §2: T9, T12, T16, T19, S11, K3).
  *
  * Scale posture: enrichment joins against bounded dimensions are
  * broadcast (no shuffle); the entity merge and dedup anti-join shuffle
  * both sides on the join key once — Catalyst/AQE pick broadcast-hash
  * automatically when a side is small, and handle skew at runtime.
  */
object Joins {

  /** Left enrichment join (reference/main.py:91): fact LEFT JOIN a small
    * extracted-attributes table on a key. `hint`s broadcast when the right
    * side is a bounded dimension. */
  def enrichLeft(fact: DataFrame, dim: DataFrame, key: String,
                 broadcastDim: Boolean = true): DataFrame = {
    val right = if (broadcastDim) broadcast(dim) else dim
    fact.join(right, Seq(key), "left")
  }

  /** Full-outer entity merge with collision suffixing (reference/chat.py:119-132
    * `merge_ou_concat_campo_ticket`): chats ⟗ tickets on
    * `leftKey = rightKey`; columns present on both sides get deterministic
    * `_<leftSuffix>` / `_<rightSuffix>` suffixes (pandas merge suffixes are
    * implicit; Spark joins don't auto-suffix, so we rename before joining);
    * the join keys are coalesced into one output key column. */
  def fullOuterMerge(left: DataFrame, right: DataFrame,
                     leftKey: String, rightKey: String,
                     leftSuffix: String = "chat", rightSuffix: String = "ticket",
                     outKey: String = "merge_key"): DataFrame = {
    val collisions = (left.columns.toSet intersect right.columns.toSet) - leftKey - rightKey
    def suffixed(df: DataFrame, suffix: String) =
      df.toDF(df.columns.map(c =>
        if (collisions.contains(c)) s"${c}_$suffix" else c).toIndexedSeq: _*)
    val l = suffixed(left, leftSuffix)
    val r = suffixed(right, rightSuffix)
    val joined = l.join(r, l(leftKey) === r(rightKey), "full_outer")
    val outCols = coalesce(l(leftKey), r(rightKey)).as(outKey) +:
      (l.columns.filterNot(_ == leftKey).map(l(_)) ++
       r.columns.filterNot(_ == rightKey).map(r(_)))
    joined.select(outCols.toIndexedSeq: _*)
  }

  /** Left enrichment with per-row error capture (reference/chat.py:229-236,
    * 289-291: a failed per-number chat lookup keeps the row and stamps
    * `error = 'chat not found'` instead of dropping it). Set-oriented
    * equivalent: LEFT JOIN + a `when/otherwise` error column — matched rows
    * get a null error, misses keep every left column with the error marker
    * (enrichment columns null), so downstream stages can route/retry
    * failures without a second scan. Same broadcast posture as
    * [[enrichLeft]]. */
  def enrichLeftWithError(fact: DataFrame, dim: DataFrame, key: String,
                          errCol: String = "error",
                          missMsg: String = "chat not found",
                          broadcastDim: Boolean = true): DataFrame = {
    require(!fact.columns.contains(errCol) && !dim.columns.contains(errCol),
      s"error column '$errCol' already exists in the input")
    val marked = dim.withColumn("__hit", lit(1))
    val right = if (broadcastDim) broadcast(marked) else marked
    fact.join(right, Seq(key), "left")
      .withColumn(errCol,
        when(col("__hit").isNull, lit(missMsg)).otherwise(lit(null).cast("string")))
      .drop("__hit")
  }

  /** Membership probe, set-oriented (reference/manutencao.py:39-54
    * `IN UNNEST(@valores)` → left-semi join). */
  def semiJoin(df: DataFrame, keys: DataFrame, key: String): DataFrame =
    df.join(keys, Seq(key), "left_semi")

  /** Dedup-vs-destination (reference/manutencao.py:12-62 `duplicidade_no_df`):
    * drop batch rows whose key already exists in the destination, per key
    * column. The reference ships the batch key-set to BigQuery; here the
    * anti-join IS the semantics, and Catalyst broadcasts the smaller side.
    * The destination keys are not made distinct first: an anti-join
    * ignores duplicate build-side keys, and a distinct would cost a
    * shuffle of its own. */
  def dedupAgainst(batch: DataFrame, dest: DataFrame, keyCols: Seq[String]): DataFrame =
    keyCols.foldLeft(batch) { (b, k) =>
      b.join(dest.select(col(k)).na.drop(), Seq(k), "left_anti")
    }

  /** [[dedupAgainst]]'s 100 TB scale path: same semantics (bit-identical
    * output, asserted in JoinsSpec), but each key column's anti-join is
    * pre-filtered by a Bloom sketch of the destination's keys.
    *
    * Why: at corpus scale the destination is the 100 TB side. A plain
    * anti-join shuffles the ENTIRE batch against the destination's key
    * set every ingest. Here the destination keys fold into one compact
    * sketch (`BloomFilterAggregate` merges map-side — only KB-MB sketches
    * cross the wire, no key shuffle), the batch probes it as a pure
    * map-side filter, and only the ~fpp false-positive fraction plus the
    * true duplicates reach the exact anti-join. "Definitely absent" is
    * certain for a Bloom filter, so no-false-negative soundness holds and
    * the exact join on the survivors restores exactness.
    *
    * The one-row sketch collect is a legitimate tiny-collect (like the
    * IVF centroid table): the sketch is `optimalNumOfBits(expected, fpp)`
    * bits regardless of destination size. Size `expectedItems` to the
    * destination's distinct-key cardinality; an undersized sketch only
    * raises the false-positive rate (more rows take the exact-join path),
    * never breaks correctness. Rows with a null key hash skip the probe
    * and take the exact path, matching the anti-join's null semantics. */
  def dedupAgainstBloom(batch: DataFrame, dest: DataFrame, keyCols: Seq[String],
                        expectedItems: Long = 1000000L,
                        fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.graft.expressions.{bloomFilterAgg, mightContain}
    keyCols.foldLeft(batch) { (b, k) =>
      // no distinct: a Bloom insert is idempotent, and the exact
      // anti-join ignores duplicate keys
      val destKeys = dest.select(col(k)).na.drop()
      val hashOf = (c: org.apache.spark.sql.Column) => xxhash64(c.cast("string"))
      val sketch = destKeys
        .select(bloomFilterAgg(hashOf(col(k)), expectedItems, fpp).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      if (sketch == null) b // empty destination: everything is new
      else {
        val probe = mightContain(lit(sketch), hashOf(b(k)))
        // probe null ⇔ null key: a null key never equi-joins, so the row is
        // new by the anti-join's own semantics — route it to `fresh`.
        val fresh = b.filter(probe.isNull || !probe)
        val maybe = b.filter(probe)
        fresh.unionByName(maybe.join(destKeys, Seq(k), "left_anti"))
      }
    }
  }

  /** Union of scan slices (reference/ticket.py:65 `pd.concat` of bisected
    * window halves), tolerant of column drift between slices. */
  def unionSlices(slices: Seq[DataFrame]): DataFrame =
    slices.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Skew-mitigating salted join: the big side's rows are salted into
    * `buckets` sub-keys (uniform per-row hash — any salt works for an
    * inner/left equi-join since the small side is replicated across all
    * salts), the small side is replicated once per salt, and the join key
    * becomes (key, salt) — a hot key's rows now spread over `buckets`
    * shuffle partitions instead of one straggler. Result is identical to
    * `big.join(small, key, how)` (JoinsSpec pins it against the plain
    * join on a skewed fixture). Inner/left joins only: an outer join
    * would emit `buckets` copies of each unmatched replicated small-side
    * row.
    *
    * When to reach for which skew tool (JoinsSpec demonstrates the AQE
    * row with plan assertions):
    *
    *  - Small side under the broadcast threshold → `broadcast(small)`:
    *    no shuffle at all, skew is irrelevant. Always first choice.
    *  - Shuffle join (SMJ/SHJ) with AQE on → DO NOTHING: AQE's
    *    OptimizeSkewedJoin splits oversized shuffle partitions at
    *    runtime (replicating the matching other-side partition), handles
    *    single-hot-key skew, and unlike salting also covers outer joins.
    *  - `saltedJoin` remains for the cases AQE can't touch: AQE disabled
    *    or unavailable (fixed-partitioning writers, non-adaptive
    *    engines), a skew-split suppressed because the join's output
    *    partitioning is required downstream (e.g. the join feeds a
    *    groupBy on the same key — splitting would force a re-shuffle, so
    *    AQE declines; the salt survives INTO a downstream partial
    *    aggregate), and pre-shuffled inputs (bucketed tables) where no
    *    exchange exists for AQE to re-plan. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 buckets: Int, how: String = "inner"): DataFrame = {
    require(how == "inner" || how == "left" || how == "leftouter" || how == "left_outer",
      s"saltedJoin supports inner/left joins only (got '$how'): outer joins " +
        "would duplicate unmatched small-side rows per salt bucket")
    val salted = big.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(buckets)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated, Seq(key, "__salt"), how).drop("__salt")
  }

  /** As-of join: for each left row (key, ts), attach the latest right row
    * with the same key and rightTs <= leftTs (the time-series enrichment
    * join Spark lacks natively).
    *
    * Implemented as union + one window pass — NOT an inequality join: a
    * range-condition join degenerates to a per-key cross product (O(n·m)
    * per key) and Catalyst can only plan it as broadcast-nested-loop at
    * scale. Here both sides shuffle ONCE on the key, the merged stream is
    * sorted per key, and `last(_, ignoreNulls)` carries the most recent
    * right values forward — O((n+m) log(n+m)) per key, AQE-skew-safe.
    *
    * Right rows must be unique per (key, rightTs) (pre-aggregate if not);
    * on ties (leftTs == rightTs) the right row is visible to the left row,
    * matching ASOF `l.ts >= r.ts` semantics. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String, pickCols: Seq[String],
               prefix: String = "asof_"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val leftCols = left.columns.toSeq
    // The picked right columns travel as ONE struct, carried atomically by
    // a single last(ignoreNulls) — per-column carries would skip a null
    // FIELD and tear the result across different right rows (a right row
    // with value=null must still win over an older non-null one, matching
    // ASOF semantics and the DuckDB oracle).
    val unified = left
      .withColumn("__ts", col(leftTs)).withColumn("__side", lit(1))
      .select((Seq(col(key), col("__ts"), col("__side")) ++
        leftCols.filterNot(_ == key).map(col) :+
        lit(null).cast(org.apache.spark.sql.types.StructType(
          pickCols.map(c => org.apache.spark.sql.types.StructField(c, right.schema(c).dataType))))
          .as("__asof")).toIndexedSeq: _*)
      .unionByName(right
        .withColumn("__ts", col(rightTs)).withColumn("__side", lit(0))
        .select((Seq(col(key), col("__ts"), col("__side")) :+
          struct(pickCols.map(col): _*).as("__asof")).toIndexedSeq: _*),
        allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unified
      .withColumn("__asof", last(col("__asof"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select((leftCols.map(col) ++
        pickCols.map(c => col("__asof").getField(c).as(s"$prefix$c"))).toIndexedSeq: _*)
  }

  /** SCD-style snapshot diff: classify every key across two table versions
    * as insert / delete / update / unchanged — the generalization of the
    * reference's dedupe (T16: insert-vs-exists) and upsert (K3) to a full
    * change feed, which is what an incremental 100 TB pipeline publishes
    * downstream instead of re-shipping the table.
    *
    * One full-outer join on the key; per-column change detection is
    * null-safe (`<=>` — a null→value transition IS an update). Output:
    * key, change_type, and the NEW side's compare columns (null for
    * deletes — the tombstone shape). Both sides shuffle once on the key;
    * AQE broadcasts a small side (e.g. an incremental batch vs a bucketed
    * destination). */
  def diffSnapshots(oldDf: DataFrame, newDf: DataFrame, key: String,
                    compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    val o = oldDf.select((key +: compareCols).map(col).toIndexedSeq: _*)
      .toDF((s"__old_$key" +: compareCols.map(c => s"__old_$c")).toIndexedSeq: _*)
    val n = newDf.select((key +: compareCols).map(col).toIndexedSeq: _*)
    val joined = n.join(o, n(key) === o(s"__old_$key"), "full_outer")
    val changed = compareCols
      .map(c => not(col(s"__old_$c") <=> col(c)))
      .reduce(_ || _)
    joined
      .withColumn("change_type",
        when(col(s"__old_$key").isNull, "insert")
          .when(col(key).isNull, "delete")
          .when(changed, "update")
          .otherwise("unchanged"))
      .select((coalesce(col(key), col(s"__old_$key")).as(key) +:
        col("change_type") +: compareCols.map(col)).toIndexedSeq: _*)
  }

  /** Apply a [[diffSnapshots]] change feed to the old snapshot,
    * reconstructing the new one exactly (CDC apply — the consumer side of
    * the change feed; `applyDiff(old, diffSnapshots(old, new)) == new` is
    * both property-tested and oracle-checked). One anti-join to retire
    * deleted/updated keys + one union of insert/update rows. */
  def applyDiff(oldDf: DataFrame, diff: DataFrame, key: String,
                compareCols: Seq[String]): DataFrame = {
    val retired = diff.filter(col("change_type").isin("delete", "update"))
      .select(col(key))
    val additions = diff.filter(col("change_type").isin("insert", "update"))
      .select((key +: compareCols).map(col).toIndexedSeq: _*)
    oldDf.select((key +: compareCols).map(col).toIndexedSeq: _*)
      .join(retired, Seq(key), "left_anti")
      .unionByName(additions)
  }

  /** Incremental aggregate maintenance (IVM for the count/sum family):
    * fold a CDC delta into a previously materialized per-key aggregate
    * WITHOUT touching the base data — the reason to keep aggregate state
    * at all (re-scanning 100 TB to refresh a dashboard rollup is the
    * anti-pattern; the delta is MBs). An update is modeled as
    * delete(old image) + insert(new image), the standard CDC reduction.
    *
    * newState = baseAgg ⊕ Σ_inserts (1, x) ⊖ Σ_deletes (1, x): one hash
    * aggregate over the (small) delta + one full-outer join on the key —
    * work ∝ |delta| + |touched keys|, never ∝ |base data|. Keys whose
    * count reaches 0 are dropped (fully retired). Unknown `op` values
    * fail the job loudly (raise_error) rather than silently skewing the
    * state. `maintainAgg(agg(base), delta) == agg(apply(base, delta))`
    * is the oracle-checked contract; keep the summed column integral
    * (e.g. cents) if you need that equality BIT-exact — float sums
    * associate differently on the two paths. */
  def maintainAgg(baseAgg: DataFrame, delta: DataFrame, key: String,
                  valCol: String, cntName: String = "cnt",
                  sumName: String = "sum_val",
                  opCol: String = "op"): DataFrame = {
    val sign = when(upper(col(opCol)) === "I", 1L)
      .when(upper(col(opCol)) === "D", -1L)
      .otherwise(raise_error(concat(lit("maintainAgg: unknown op "),
        col(opCol))))
    // a null value in the delta would desync cnt from sum (count moves,
    // sum doesn't) — reject loudly like an unknown op
    val deltaAgg = delta
      .withColumn(valCol, when(col(valCol).isNotNull, col(valCol))
        .otherwise(raise_error(lit("maintainAgg: null delta value"))))
      .groupBy(col(key).as("__dKey"))
      .agg(sum(sign).as("__dCnt"), sum(sign * col(valCol)).as("__dSum"))
    // null-safe merge: a NULL group key is a legitimate aggregate group,
    // and a plain equi-join would fork it into two unmatched rows
    // (null != null) — base state and delta state for the "same" key
    baseAgg.join(deltaAgg, col(key) <=> col("__dKey"), "full_outer")
      .select(coalesce(col(key), col("__dKey")).as(key),
        (coalesce(col(cntName), lit(0L)) + coalesce(col("__dCnt"), lit(0L)))
          .as(cntName),
        (coalesce(col(sumName), lit(0L)) + coalesce(col("__dSum"), lit(0L)))
          .as(sumName))
      .filter(col(cntName) > 0)
  }

  /** Keyed upsert = MERGE emulation without a transactional table format
    * (reference/ticket.py:151-212 per-row UPDATE loop → set-oriented):
    * rows of `dest` whose key appears in `updates` are replaced by the
    * update row. One anti-join + one union; both sides shuffle on the key
    * at most once, and a small `updates` side is broadcast instead (the
    * update keys are not made distinct: the anti-join ignores duplicates).
    * Column sets must match (use ColumnHygiene.backfill). */
  def upsert(dest: DataFrame, updates: DataFrame, key: String): DataFrame =
    dest.join(updates.select(col(key)), Seq(key), "left_anti")
      .unionByName(updates.select(dest.columns.map(col).toIndexedSeq: _*))

  /** SCD type-2 version windows from an update/event feed: per key, each
    * row becomes a version valid from its own timestamp until the NEXT
    * version's timestamp (null = still current) — the standard
    * slowly-changing-dimension shape that [[diffSnapshots]]' change feed
    * (or any append log) turns into point-in-time queryable history.
    * `tieCol` breaks timestamp ties deterministically (same-instant
    * updates version in tiebreak order).
    *
    * Scale shape: ONE per-key window pass (lead), shuffle on the key
    * only; keys are numerous and individually bounded. */
  def scd2Versions(updates: DataFrame, key: String, tsCol: String,
                   tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    updates
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Keyless range (containment) join at scale: pair each point with every
    * interval `[lo, hi]` containing it — WITHOUT an equi-key, the shape
    * Spark plans as BroadcastNestedLoopJoin (all pairs) once the interval
    * side outgrows a broadcast. Bucketing restores an equi-join: each
    * interval is exploded to the coarse buckets it covers, each point maps
    * to its single bucket, the join runs on the bucket id, and the exact
    * containment predicate filters inside the join. Every qualifying pair
    * meets in exactly one bucket (the point's), so no dedup is needed.
    *
    * Scale shape: one equi-join shuffle on the bucket id; interval
    * replication ∝ span/bucketWidth (size `bucketWidth` near the median
    * interval span — too fine replicates intervals, too coarse piles
    * unrelated points into one bucket). A hot bucket (clock-aligned
    * bursts) is ordinary join skew — AQE skew-join or salting applies
    * unchanged. Degenerate `hi < lo` intervals are dropped up front
    * (Spark's `sequence` would otherwise step DOWNWARD through buckets
    * the exact filter then discards). */
  def rangeJoinBucketed(points: DataFrame, ptCol: String,
                        intervals: DataFrame, loCol: String, hiCol: String,
                        bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val ints = intervals
      .filter(col(loCol) <= col(hiCol))
      .withColumn("__bucket", explode(sequence(
        floor(col(loCol) / bucketWidth).cast("long"),
        floor(col(hiCol) / bucketWidth).cast("long"))))
    points
      .withColumn("__bucket", floor(col(ptCol) / bucketWidth).cast("long"))
      .join(ints, Seq("__bucket"))
      .filter(col(ptCol) >= col(loCol) && col(ptCol) <= col(hiCol))
      .drop("__bucket")
  }

  /** Join cardinality: the optimizer's independence estimate
    * |A|·|B|/max(ndv_A, ndv_B) (System R's formula, what every
    * cost-based planner guesses from table stats) next to the EXACT
    * count Σ_k c_A(k)·c_B(k) computed from the two per-key histograms —
    * WITHOUT materializing the join itself. The pre-flight check before
    * keying an expensive shuffle: a histogram count ≫ the independence
    * estimate means correlated/skewed keys, exactly where a blind join
    * explodes.
    *
    * Shape: two table-level aggregates + two per-key hash aggregates
    * joined on the key — the histogram join carries ONE ROW PER DISTINCT
    * KEY, not per data row, so this costs a fraction of the join it
    * predicts. Counts are exact integers; factors are cast to double
    * before multiplying (row-count products overflow long at warehouse
    * scale). */
  def joinCardEstimate(left: DataFrame, leftKey: String,
                       right: DataFrame, rightKey: String,
                       roundScale: Int = 6): DataFrame = {
    val lHist = left.groupBy(col(leftKey).as("__k"))
      .agg(count(lit(1)).as("__cl"))
    val rHist = right.groupBy(col(rightKey).as("__k"))
      .agg(count(lit(1)).as("__cr"))
    // totals derive from the histograms (n = Σc, ndv = non-null hist
    // rows) — one scan per table, not two; count(col) skips the null-key
    // row exactly like count_distinct does
    val lTot = lHist.agg(sum(col("__cl")).as("n_left"),
      count(col("__k")).as("ndv_left"))
    val rTot = rHist.agg(sum(col("__cr")).as("n_right"),
      count(col("__k")).as("ndv_right"))
    val actual = lHist.join(rHist, "__k")
      .agg(coalesce(sum(col("__cl").cast("double") * col("__cr")), lit(0.0))
        .cast("long").as("actual_rows"))
    val est = col("n_left").cast("double") * col("n_right").cast("double") /
      greatest(col("ndv_left"), col("ndv_right")).cast("double")
    lTot.crossJoin(rTot).crossJoin(actual)
      .select(col("n_left"), col("n_right"),
        col("ndv_left"), col("ndv_right"),
        round(est, roundScale).as("est_independence"),
        col("actual_rows"),
        round(when(col("actual_rows") > 0,
          est / col("actual_rows").cast("double")), roundScale)
          .as("est_over_actual"))
  }
}
