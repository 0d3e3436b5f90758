package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for large-scale training-data pipelines
  * (SURVEY.md §2b): deterministic splits/sampling, per-group capping,
  * normalization, quantile filtering, token chunking and sequence packing.
  *
  * Everything here is hash- or window-based and shuffle-minimal:
  *  - split/sample assignment is a pure map-side expression (no shuffle,
  *    no RNG state — rerunning on 100 TB, on a different cluster size, or
  *    on yesterday's data plus one new file gives the same assignment for
  *    every unchanged row);
  *  - group-wise ops (cap, z-score, quantile filter, packing) shuffle once
  *    on the group key and do all their work inside that one partitioning.
  */
object Corpus {

  /** Deterministic bucket in [0, 100) from the md5 of a key — the standard
    * engine-portable "random but reproducible" percentage used for splits
    * and downsampling. (First 8 md5 hex chars → int → mod 100; identical
    * in any engine with md5 + hex parsing, unlike engine-native `hash`.) */
  def hashPct(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") % 100

  /** Deterministic uniform [0,1) from the md5 of a key, salted by a purpose
    * string: first 8 md5 hex chars / 2^32. Both the integer and the
    * power-of-two division are EXACT in doubles, so the value is
    * bit-identical in any engine with md5 — no RNG, no ulp drift. The salt
    * decorrelates independent decisions on the same key (a row's split
    * assignment must not predict its sampling fate — with a shared hash,
    * "keep 10%" would keep only train-split rows). */
  def hashUnit(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt + ":"), key.cast("string"))), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)

  /** Horvitz–Thompson estimation over a [[stratifiedSample]]-style keep
    * rule (public: Horvitz & Thompson JASA'52): from ONLY the kept rows,
    * each carrying its inclusion probability, the unbiased estimators
    * total̂ = Σ x/p and n̂ = Σ 1/p, with the Poisson-sampling variance
    * estimate v̂ = Σ x²(1−p)/p². THE audit for every downsampled
    * pipeline stage: it answers "what does the sample say the FULL
    * corpus total was, ± what", so a 1% sample of token counts still
    * reports corpus-scale token budgets with honest error bars.
    *
    * Exactness: with dyadic sampling fractions (½, ¼, …, the
    * [[hashUnit]] idiom's natural constants) every summand x/p and
    * x²(1−p)/p² is an exact integer×dyadic product, so the aggregates
    * are ORDER-INDEPENDENT — bit-identical in any engine at any
    * parallelism, no rounding dance needed until the final emit.
    *
    * Scale shape: one hash aggregate over the kept rows. Nothing else. */
  def htEstimate(kept: DataFrame, groupCol: String, valCol: String,
                 probCol: String): DataFrame = {
    val x = col(valCol).cast("double")
    val p = col(probCol)
    kept.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_kept"),
        round(sum(lit(1.0) / p), 6).as("ht_count"),
        round(sum(x / p), 6).as("ht_total"),
        round(sum(x * x * (lit(1.0) - p) / (p * p)), 6).as("ht_variance"))
  }

  /** Per-group deterministic downsampling ("stratified sample"): keep each
    * row iff hashUnit(id) < its group's fraction. Pure map-side — no
    * shuffle, no state, same survivors on any cluster size / rerun /
    * incremental re-ingest. `fractions` is a Seq (not a Map) so the
    * when-chain is build-order stable; groups not listed get
    * `defaultFraction`. */
  def stratifiedSample(df: DataFrame, groupCol: String, idCol: String,
                       fractions: Seq[(String, Double)],
                       defaultFraction: Double = 1.0,
                       salt: String = "strat"): DataFrame = {
    require((fractions.map(_._2) :+ defaultFraction).forall(f => f >= 0.0 && f <= 1.0),
      s"sampling fractions must be in [0,1]: $fractions default=$defaultFraction")
    require(fractions.map(_._1).distinct.size == fractions.size,
      s"duplicate group in fractions: $fractions")
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (acc, (g, f)) => when(col(groupCol) === g, lit(f)).otherwise(acc)
    }
    df.withColumn("sample_frac", frac)
      .withColumn("sample_u", hashUnit(col(idCol), salt))
      .filter(col("sample_u") < col("sample_frac"))
  }

  /** Temperature-based corpus rebalancing: downsample each group so
    * effective sizes follow n^alpha (the standard multilingual-LLM mixing
    * rule — alpha=1 keeps the natural distribution, alpha→0 flattens it).
    * The smallest group keeps everything; a group of size n keeps
    * (n/n_min)^(alpha-1) of its rows, chosen deterministically by
    * [[hashUnit]] (salt "temp").
    *
    * Shape: one count aggregate (map-side combinable, #groups rows), the
    * min and per-group fraction computed ON the tiny stats frame, then a
    * broadcast join back and a map-side filter — the corpus itself never
    * shuffles. keep_frac is rounded to 6dp so a last-ulp `pow` difference
    * between engines cannot flip a keep decision at the boundary. */
  def temperatureResample(df: DataFrame, groupCol: String, idCol: String,
                          alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1]: $alpha")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_group"))
    // unpartitioned window over the #groups-row stats frame only — fine.
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val stats = counts
      .withColumn("keep_frac",
        round(pow(col("n_group").cast("double") / min(col("n_group")).over(all),
          alpha - 1.0), 6))
    df.join(broadcast(stats), df(groupCol) <=> stats(groupCol))
      .drop(stats(groupCol))
      .withColumn("mix_u", hashUnit(col(idCol), "temp"))
      .filter(col("mix_u") < col("keep_frac"))
  }

  /** Train/val/test (or any) split assignment: `splits` maps names to
    * cumulative upper percentage bounds, e.g.
    * `Seq("train" -> 80, "val" -> 90, "test" -> 100)`. Map-side only. */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.last._2 == 100,
      "split bounds are cumulative and must end at 100")
    val bounds = splits.map(_._2)
    // Out-of-order or duplicate bounds would silently shadow later branches
    // (e.g. ("val"->90, "train"->80): the train arm becomes unreachable).
    require(bounds.head > 0 && bounds == bounds.sorted &&
        bounds.distinct.size == bounds.size,
      s"split bounds must be strictly ascending and positive: $bounds")
    val pct = hashPct(col(idCol))
    val assign = splits.init.foldRight(lit(splits.last._1): Column) {
      case ((name, upper), rest) => when(pct < upper, name).otherwise(rest)
    }
    df.withColumn("split_pct", pct).withColumn("split", assign)
  }

  /** Leakage-safe split: assign whole NEAR-DUP CLUSTERS to splits, never
    * individual documents. Hashing document ids ([[hashSplit]]) puts each
    * member of a near-dup cluster on an independent coin flip, so a
    * cluster of n near-dups straddles train/test with probability
    * 1−p^n−(1−p)^n — test answers leak into training and eval scores
    * inflate (the q_split_leakage audit measures exactly this). Here the
    * split hash runs on the CLUSTER id and members inherit, so a cluster
    * can never straddle BY CONSTRUCTION — the standard decontaminated
    * eval-split recipe (e.g. the dedup-before-split practice of Lee et
    * al. ACL'22).
    *
    * `labels` maps every document to its cluster (e.g.
    * [[Dedup.duplicateClusters]] output — singletons carry their own id,
    * and hash-split of a singleton's cluster id equals the document-hash
    * split only when id == cluster, so the assignment is cluster-stable,
    * not doc-stable: re-clustering moves whole groups together). Pure
    * map-side after the clustering. */
  def leakageSafeSplit(labels: DataFrame, idCol: String, clusterCol: String,
                       splits: Seq[(String, Int)]): DataFrame =
    hashSplit(labels.select(col(idCol), col(clusterCol)), clusterCol, splits)

  /** Token-budget epoch schedule: given per-domain available token mass
    * A_g, a total training budget expressed as `budgetFactor`·ΣA, and a
    * sampling temperature τ (target share ∝ A_g^(1/τ) — τ=1 proportional,
    * τ→∞ uniform; the standard multilingual/multi-domain flattening of
    * e.g. XLM-R), emit the mixture table a training run actually
    * consumes: target share, target tokens, and EPOCHS = target/available
    * — the repeat factor per domain. `over_epoch` flags domains the
    * schedule would repeat (epochs > 1): temperature-flattening buys
    * small-domain share by re-reading small domains, and past a few
    * epochs repetition stops helping (Muennighoff et al. '23), so this
    * flag is the planning readout that says WHERE the budget plan spends
    * repetition rather than fresh text.
    *
    * Portability: τ=1 (identity) and τ=2 (IEEE-exact sqrt) are
    * bit-identical cross-engine; other τ go through exp(ln A/τ) and rely
    * on libm parity (PORTABILITY.md). The weight total is an
    * order-independent DECIMAL(28,12) sum (the daviesBouldin pattern) so
    * partition order cannot perturb shares; every emitted number is
    * 6dp-rounded and the flag compares the ROUNDED epochs, so verdicts
    * are engine-stable. Shape: one hash aggregate to domain grain + a
    * 1-row total broadcast — domains are dozens, everything after the
    * aggregate is trivial. */
  def epochSchedule(df: DataFrame, groupCol: String, sizeCol: String,
                    budgetFactor: Double = 1.0,
                    temperature: Double = 1.0): DataFrame = {
    require(budgetFactor > 0, s"budgetFactor must be > 0: $budgetFactor")
    require(temperature > 0, s"temperature must be > 0: $temperature")
    val avail = df.groupBy(col(groupCol))
      .agg(sum(col(sizeCol)).cast("long").as("avail_tokens"))
    val w = temperature match {
      case 1.0 => col("avail_tokens").cast("double")
      case 2.0 => sqrt(col("avail_tokens").cast("double"))
      case t => exp(log(col("avail_tokens").cast("double")) / t)
    }
    val totals = avail.agg(
      sum(w.cast("decimal(28,12)")).cast("double").as("__ws"),
      sum(col("avail_tokens")).cast("double").as("__total"))
    val target = lit(budgetFactor) * col("__total") * w / col("__ws")
    val epochs = round(target / col("avail_tokens").cast("double"), 6)
    avail.crossJoin(broadcast(totals))
      .select(col(groupCol), col("avail_tokens"),
        round(w / col("__ws"), 6).as("target_share"),
        round(target, 6).as("target_tokens"),
        epochs.as("epochs"),
        (epochs > lit(1.0)).as("over_epoch"))
  }

  /** Keep at most `n` rows per group, chosen by md5 order of the id — a
    * deterministic uniform-ish sample (the "cap documents per domain" op).
    * One shuffle on the group key; survivors keep their sample_rank.
    *
    * Skew note (same caveat as [[packBins]]): a window partitioned by the
    * group key puts each group in ONE task — a hot group (one dominant
    * language/domain) serializes on a single core. At corpus scale either
    * group by something with cardinality, or when only the CAP matters
    * (not exact md5 rank), pre-thin hot groups with a cheap map-side pass
    * first: filter hashPct(id) < p so ~n·(100/p) survivors reach the
    * window, then rank those. */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
                  n: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= n)
  }

  /** Per-group z-score of `valCol` computed from plain sums (sum, sum of
    * squares, count) rather than a streaming variance aggregate: when the
    * column is integer-valued (counts, cents), the double sums are EXACT,
    * so the result is bit-identical regardless of partitioning /
    * evaluation order — reproducible across engines and cluster sizes.
    *
    * Shape: groupBy().agg + join back, NOT a window. Z-score stats need no
    * ordering, so a window partitioned by the group key would pay the
    * single-task-per-group penalty (3 groups = 3 tasks for the whole
    * table) for nothing; the aggregate gets map-side partial combine (a
    * #groups-row stats table crosses the wire) and AQE turns the join
    * back into a broadcast when the stats side is small — the input never
    * shuffles. */
  def zscore(df: DataFrame, groupCol: String, valCol: String,
             outCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val stats = df.groupBy(col(groupCol)).agg(
      sum(v).as("__s"), sum(v * v).as("__s2"),
      count(v).cast("double").as("__n"))
    val s = col("__s"); val s2 = col("__s2"); val n = col("__n")
    val mean = s / n
    // greatest(_, 0) clamps the tiny negative variance floating-point
    // cancellation can produce on non-integer columns (sqrt(-ε) = NaN);
    // singleton groups (n-1 = 0 → 0/0) get an explicit null instead of NaN.
    val variance = greatest((s2 - (s * s) / n) / (n - lit(1.0)), lit(0.0))
    // null-safe equality: a null group key is a group like any other (the
    // window formulation treated it as its own partition; a plain equi-join
    // would silently drop those rows). The broadcast hint pins the STATS
    // side as the build side — #groups rows by construction; without it
    // the static planner may broadcast whichever side its size estimate
    // favors (at sf0.01 it picked the fact table — wrong at 100 TB).
    df.join(broadcast(stats), df(groupCol) <=> stats(groupCol))
      .drop(stats(groupCol))
      .withColumn(outCol,
        when(n > 1 && variance > 0, (v - mean) / sqrt(variance)))
      .drop("__s", "__s2", "__n")
  }

  /** Per-group Tukey (IQR) outlier fences for `valCol`: rows outside
    * [q1 − 1.5·IQR, q3 + 1.5·IQR] are flagged, not dropped — the robust
    * complement to [[zscore]] (quartiles ignore the outliers themselves,
    * where mean/stddev are dragged by them).
    *
    * Same scale shape as [[zscore]]: ONE group aggregate broadcast back
    * (#groups rows), the data side never shuffles — NOT a per-group
    * window. The exact `percentile` buffers each group's values inside
    * the aggregate; at corpus scale swap in approx_percentile exactly as
    * [[quantileFilterApprox]] does for [[quantileFilter]]. */
  def iqrOutliers(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val stats = df.groupBy(col(groupCol)).agg(
      expr(s"percentile($valCol, 0.25)").as("__q1"),
      expr(s"percentile($valCol, 0.75)").as("__q3"))
    val iqr = col("__q3") - col("__q1")
    df.join(broadcast(stats), df(groupCol) <=> stats(groupCol))
      .drop(stats(groupCol))
      .withColumn("lo_fence", col("__q1") - lit(1.5) * iqr)
      .withColumn("hi_fence", col("__q3") + lit(1.5) * iqr)
      .withColumn("is_outlier",
        col(valCol) < col("lo_fence") || col(valCol) > col("hi_fence"))
      .drop("__q1", "__q3")
  }

  /** Per-group winsorization: clamp `valCol` into its group's
    * [5%, 95%] quantile band (outliers are CAPPED, not dropped — the
    * standard treatment when the row must survive but its magnitude must
    * not dominate a downstream mean/mixture weight). Emits `outCol` beside
    * the original. Same scale shape as [[iqrOutliers]]: one aggregate
    * broadcast back, data never shuffles; swap in approx_percentile at
    * corpus scale as [[quantileFilterApprox]] does. */
  def winsorize(df: DataFrame, groupCol: String, valCol: String,
                outCol: String): DataFrame = {
    val stats = df.groupBy(col(groupCol)).agg(
      expr(s"percentile($valCol, 0.05)").as("__plo"),
      expr(s"percentile($valCol, 0.95)").as("__phi"))
    df.join(broadcast(stats), df(groupCol) <=> stats(groupCol))
      .drop(stats(groupCol))
      .withColumn(outCol,
        least(greatest(col(valCol).cast("double"), col("__plo")), col("__phi")))
      .drop("__plo", "__phi")
  }

  /** Deterministic corpus shuffle KEY: md5 of (salt, id). Training-data
    * pipelines need a reproducible global shuffle of document order per
    * epoch (salt = epoch); emitting the KEY instead of a global row_number
    * keeps it scale-sane — a total order exists (hash is unique modulo
    * md5 collisions, id breaks ties) and consumers range-partition-sort
    * by it, where a global `row_number()` would funnel 100 TB through one
    * window task. Pure map-side, rerun/cluster-size invariant. */
  def shuffleKey(df: DataFrame, idCol: String, salt: String): DataFrame =
    df.withColumn("shuffle_key",
      md5(concat(lit(salt + ":"), col(idCol).cast("string"))))

  /** Keep rows at or above the `minPct` quantile of `valCol` within their
    * group (e.g. "drop the bottom quartile of quality per language").
    * percent_rank with an id tiebreak is deterministic and engine-portable
    * (pure rank arithmetic — no interpolation of group aggregates).
    *
    * Skew note (same caveat as [[packBins]]): one window task per group —
    * a hot group serializes on a single core. At corpus scale, cut hot
    * groups with a distributed approximation instead: `percentile_approx`
    * per group (a map-side-combinable aggregate) then a map-side
    * `valCol >= threshold` filter — exactness at the boundary traded for
    * parallelism. */
  def quantileFilter(df: DataFrame, groupCol: String, valCol: String,
                     idCol: String, minPct: Double): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valCol).asc, col(idCol).asc)
    df.withColumn("val_pct_rank", percent_rank().over(w))
      .filter(col("val_pct_rank") >= minPct)
  }

  /** [[quantileFilter]]'s hot-group scale path, made concrete: the
    * per-group threshold comes from `percentile_approx` — a map-side-
    * combinable sketch aggregate, so a dominant group spreads over every
    * core instead of serializing into one window task — broadcast back and
    * applied as a map-side `>=` filter. The trade: the cut happens at a
    * sketch-approximate data value, not the exact percent_rank boundary
    * (off by at most the sketch error around the quantile: the GK sketch
    * runs at accuracy 10000, error ~ 1/10000). Survivor sets of the two
    * variants differ only at the boundary value — asserted in CorpusSpec.
    * Null group keys form their own group (null-safe join), matching
    * [[quantileFilter]]'s window semantics. */
  def quantileFilterApprox(df: DataFrame, groupCol: String, valCol: String,
                           minPct: Double): DataFrame = {
    require(minPct >= 0.0 && minPct <= 1.0, s"minPct must be in [0,1]: $minPct")
    val thresholds = df.groupBy(col(groupCol))
      .agg(percentile_approx(col(valCol), lit(minPct), lit(10000))
        .as("q_threshold"))
    df.join(broadcast(thresholds), df(groupCol) <=> thresholds(groupCol))
      .drop(thresholds(groupCol))
      .filter(col(valCol) >= col("q_threshold"))
  }

  /** Fixed-size token chunking with stride (LLM sequence prep): each
    * document yields ceil(n_tokens/stride) chunks of up to `chunkSize`
    * whitespace tokens starting every `stride` tokens (stride < chunkSize
    * → overlapping windows). Pure map-side explode — linear at 100 TB,
    * no shuffle. Empty documents yield no chunks. */
  def tokenChunks(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    // stride <= 0 would make sequence() throw deep in an executor;
    // chunkSize <= 0 would yield empty chunks. Fail fast on the driver.
    require(chunkSize > 0 && stride > 0,
      s"chunkSize and stride must be positive (got $chunkSize, $stride)")
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    val staged = df
      .select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__starts",
        when(col("__n") === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), col("__n") - 1, lit(stride))))
    staged
      .select(col(idCol), col("__toks"),
        posexplode(col("__starts")).as(Seq("chunk_id", "__start")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        size(slice(col("__toks"), col("__start") + 1, lit(chunkSize)))
          .cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1, lit(chunkSize)))
          .as("chunk_text"))
  }

  /** Offset-based sequence packing: within each shard (a natural corpus
    * partition — language, source, date), lay documents end-to-end in id
    * order and open a new fixed-capacity bin every `capacity` tokens.
    * bin = floor(tokens_before_this_doc / capacity) — exact BIGINT
    * arithmetic, so the layout is reproducible anywhere. Returns per-bin
    * occupancy. (True first-fit packing is inherently sequential; the
    * offset formula is the standard scalable approximation — a doc whose
    * tokens straddle a boundary is charged to the bin it starts in.)
    * One shuffle on the shard key; shards pack independently — at 100 TB
    * parallelism is the shard count, so shard by something with cardinality
    * (source × date), not a 3-value enum. */
  def packBins(df: DataFrame, shardCol: String, idCol: String,
               textCol: String, capacity: Int): DataFrame = {
    val nTok = graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long")
    val w = Window.partitionBy(col(shardCol))
      .orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__tok", nTok)
      .withColumn("__before", sum(col("__tok")).over(w) - col("__tok"))
      .withColumn("bin", floor(col("__before") / capacity).cast("long"))
      .groupBy(col(shardCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("bin_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
  }

  /** Histogram flattening by deterministic rejection sampling — the
    * length-bias correction pass: bin `valCol` into fixed-width buckets
    * and keep each row with probability n_min/n_bin (the uniform-target
    * rejection rate: target/current share normalized so the rarest bin
    * keeps everything — and an EXACT integer rational, so the keep
    * decision is engine-portable with no float subtlety). Acceptance is
    * the deterministic [[hashUnit]] draw — same survivors on any cluster
    * size, rerun, or incremental re-ingest. Reports per bin the
    * before/after counts and shares; share_after ≈ uniform up to hash
    * noise is the acceptance readout.
    *
    * Scale shape: one bin aggregate, a 1-row min/total broadcast, one
    * broadcast join of the #bins-sized rate table back onto the rows
    * (map-side keep filter), one kept-count aggregate — the corpus is
    * read twice and never shuffled beyond the two bin-keyed aggregates. */
  def matchDistribution(df: DataFrame, idCol: String, valCol: String,
                        binWidth: Long, salt: String): DataFrame = {
    require(binWidth >= 1, s"binWidth must be positive: $binWidth")
    val binned = df.select(col(idCol).as("__id"),
      floor(col(valCol) / binWidth).cast("long").as("bin"))
    // bin-grid frames (≤ #bins rows) each feed 2 consumers — cache them
    // or every reference re-runs the corpus binning aggregate upstream
    val counts = binned.groupBy(col("bin")).agg(count(lit(1)).as("n_before"))
      .cache()
    val stats = counts.agg(min(col("n_before")).as("__mn"),
      sum(col("n_before")).as("__tot"))
    val rates = counts.crossJoin(broadcast(stats))
      .select(col("bin"), col("n_before"), col("__tot"),
        (col("__mn").cast("double") / col("n_before")).as("__q"))
      .cache()
    val kept = binned.join(broadcast(rates.select(col("bin"), col("__q"))),
        Seq("bin"))
      .filter(hashUnit(col("__id"), salt) < col("__q"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_kept"))
      .cache()
    val totKept = kept.agg(sum(col("n_kept")).as("__tk"))
    rates.join(kept, Seq("bin"), "left").na.fill(0L, Seq("n_kept"))
      .crossJoin(broadcast(totKept))
      .select(col("bin"), col("n_before"), col("n_kept"),
        round(col("__q"), 6).as("q_keep"),
        round(col("n_before").cast("double") / col("__tot"), 6)
          .as("share_before"),
        round(col("n_kept").cast("double") / col("__tk"), 6)
          .as("share_after"))
  }

  /** Leave-one-out source ablation of a per-row metric — data-valuation
    * lite: for each group, the corpus metric mean WITHOUT that group
    * ((T − T_g)/(N − N_g)) and the ablation delta vs the global mean. A
    * positive delta means removing the source RAISES the average — the
    * source drags quality down; the cheapest principled answer to "which
    * source should the next curation pass cut", before anything
    * Shapley-shaped. All exact-integer sums into one double division per
    * group — engine-portable by construction.
    *
    * Scale shape: ONE map-combined (group, sum, count) aggregate over
    * the corpus + a 1-row totals broadcast; every per-group readout is
    * arithmetic on the group table. A single-group input reports null
    * loo/delta (there is no corpus left to compare against). */
  def sourceAblation(df: DataFrame, groupCol: String, metricCol: String): DataFrame = {
    val g = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_rows"), sum(col(metricCol)).as("__s"))
    val tot = g.agg(sum(col("n_rows")).as("__tn"), sum(col("__s")).as("__ts"))
    val mean = col("__s").cast("double") / col("n_rows")
    val looMean = when(col("__tn") > col("n_rows"),
      (col("__ts") - col("__s")).cast("double")
        / (col("__tn") - col("n_rows")))
    val globalMean = col("__ts").cast("double") / col("__tn")
    g.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_rows"),
        round(mean, 6).as("group_mean"),
        round(looMean, 6).as("loo_mean"),
        round(looMean - globalMean, 6).as("ablation_delta"))
  }

  /** Per-group quantile-rank normalization of a score column: replace the
    * raw score by its within-group percent rank, so one global threshold
    * filters every group at the SAME rate — the calibrated per-source
    * quality gate (a raw-score cut silently over-prunes whichever source
    * scores low wholesale; rank-normalizing makes "drop the worst 20%"
    * mean the same thing in every source). percent_rank is the exact
    * rational (rank−1)/(n−1) on integer ranks — bit-identical across
    * engines, no libm anywhere.
    *
    * Scale shape: ONE group-partitioned window (rank + count, no
    * buffering of values) — groups are sources/shards, numerous and
    * bounded; ties share a rank (schedule-independent), single-row
    * groups rank 0. */
  def quantileRank(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valCol).asc)
    df.withColumn("pct_rank", round(percent_rank().over(w), 6))
  }

  /** CCNet-style perplexity bucketing (public: Wenzek et al. LREC'20
    * "CCNet" §4.3): within each group (CCNet buckets PER LANGUAGE),
    * rank documents by a quality score where ASCENDING = better (CCNet
    * uses target-domain LM perplexity) and cut the ranking into `n`
    * equal-population buckets with ntile — bucket 1 is CCNet's "head"
    * (kept for training), bucket n its "tail" (discarded or
    * down-weighted). Equal POPULATION, not equal score range, is the
    * point: the split adapts to each language's score distribution
    * without per-language thresholds. Ordering ties break on `idCol`,
    * so the assignment is a deterministic, engine-portable function of
    * the input.
    *
    * Scale shape: ONE group-partitioned ntile window — per-group
    * sort, parallel across groups (languages), no join, no iteration.
    * Same window contract as [[quantileRank]]: the partition unit is
    * the natural curation unit, so no global sort is ever built. */
  def perplexityBuckets(df: DataFrame, groupCol: String, idCol: String,
                        scoreCol: String, n: Int = 3): DataFrame = {
    require(n >= 2, s"need at least 2 buckets: $n")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).asc, col(idCol).asc)
    df.withColumn("bucket", ntile(n).over(w))
  }

  /** Length-grouped batching audit (the fairseq/HF `group_by_length`
    * trick): per shard, sort documents by token count descending (id asc
    * tiebreak), cut into fixed `batchSize` batches, and report each
    * batch's dense-rectangle padding waste — `n_docs·max_len − Σlen`, the
    * pad tokens a (batch × max_len) tensor would burn. Length-sorted
    * batching is THE standard padding minimizer; this measures what it
    * actually saves on a given corpus (compare against a doc_id-ordered
    * run to quantify).
    *
    * Scale shape: one shard-partitioned rank window (same contract as
    * [[packBins]] — shards are the training-loader parallel unit, so the
    * global order nobody needs is never built) + one (shard, batch) hash
    * aggregate. Batches where every doc is empty report null pad_frac
    * (0/0 has no meaningful fraction). */
  def lengthGroupedBatches(df: DataFrame, shardCol: String, idCol: String,
                           textCol: String, batchSize: Int): DataFrame = {
    require(batchSize >= 1, s"batchSize must be positive: $batchSize")
    val nTok = graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long")
    val w = Window.partitionBy(col(shardCol))
      .orderBy(col("__tok").desc, col(idCol).asc)
    val waste = col("n_docs") * col("max_tokens") - col("sum_tokens")
    df.withColumn("__tok", nTok)
      .withColumn("__rn", row_number().over(w))
      .withColumn("batch", floor((col("__rn") - 1) / lit(batchSize)).cast("long"))
      .groupBy(col(shardCol), col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("__tok")).as("max_tokens"),
        sum(col("__tok")).as("sum_tokens"))
      .select(col(shardCol), col("batch"), col("n_docs"), col("max_tokens"),
        col("sum_tokens"), waste.as("padding_waste"),
        when(col("n_docs") * col("max_tokens") > 0,
          round(waste.cast("double") / (col("n_docs") * col("max_tokens")), 6))
          .as("pad_frac"))
  }

  /** Exact per-group percentiles via VALUE BINNING — the scale path for
    * Spark's `percentile`, whose aggregation buffer holds every value of a
    * group (OOM territory when one group is a terabyte). For columns with
    * bounded distinct values (quantities, scores, lengths, anything
    * integer-ish) the same exact interpolated result falls out of the
    * value-count histogram: rank r = p·(n−1), v_lo/v_hi = values at
    * ⌊r⌋/⌈r⌉ read off the cumulative counts, result = v_lo + (r−⌊r⌋)·
    * (v_hi − v_lo) — Spark's own formula, computed without materializing
    * rows.
    *
    * Scale shape: one map-combined hash aggregate to (group, value)
    * counts — shuffle ∝ DISTINCT values, not rows — then a per-group
    * window over the histogram (bounded by distinct-value count) and one
    * final aggregate. Output column per requested p: `p50`, `p95`, ... */
  def percentilesBinned(df: DataFrame, groupCol: String, valCol: String,
                        ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must be in [0,1]: $ps")
    val names = ps.map(p => s"p${math.round(p * 100)}")
    require(names.distinct.size == names.size,
      s"percentile labels collide after rounding: $names")
    val counts = df.filter(col(valCol).isNotNull)
      .groupBy(col(groupCol), col(valCol)).agg(count(lit(1)).as("__c"))
    val wOrd = Window.partitionBy(col(groupCol)).orderBy(col(valCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val staged = counts
      .withColumn("__cum", sum(col("__c")).over(wOrd))
      .withColumn("__n", sum(col("__c")).over(wAll))
    val aggs = ps.zipWithIndex.flatMap { case (p, i) =>
      val r = lit(p) * (col("__n") - 1).cast("double")
      val lo = floor(r)
      val hi = ceil(r)
      Seq(
        min(when(col("__cum") >= lo + 1, col(valCol))).as(s"__vlo$i"),
        min(when(col("__cum") >= hi + 1, col(valCol))).as(s"__vhi$i"),
        first(r - lo).as(s"__frac$i"))
    }
    val reduced = staged.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    val out = ps.indices.foldLeft(reduced) { (d, i) =>
      d.withColumn(names(i),
        col(s"__vlo$i") +
          col(s"__frac$i") * (col(s"__vhi$i") - col(s"__vlo$i")))
    }
    out.select((col(groupCol) +: names.map(col)).toIndexedSeq: _*)
  }

  /** Deterministic weighted sampling without replacement, k per group
    * (Efraimidis–Spirakis exponential race): each row draws
    * `es_key = −ln(u)/w` with `u` the engine-portable [[hashUnit]] (salt
    * "wsample") and
    * `w` its weight; the k SMALLEST keys per group win, giving inclusion
    * probability ∝ weight with no RNG state — rerun/cluster-size/
    * incremental-ingest invariant like every sampler here. Keys are
    * rounded to 9dp before ranking (id tiebreak) so a last-ulp `ln`
    * difference between engines cannot flip the boundary row. Rows with
    * non-positive weight never qualify.
    *
    * Scale shape: the key is pure map-side; selection is one per-group
    * window (row_number over groups that are numerous and individually
    * bounded). For a single global draw prefer orderBy(es_key).limit(k)
    * — TakeOrdered, no single-task window. */
  def weightedSample(df: DataFrame, groupCol: String, idCol: String,
                     weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"sample size must be >= 1: $k")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("es_key").asc, col(idCol).asc)
    df.filter(col(weightCol) > 0)
      .withColumn("es_key",
        round(-log(hashUnit(col(idCol), "wsample")) / col(weightCol), 9))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Per-group aggregate STATE (count/sum/min/max) in the mergeable shape
    * [[mergeAggState]] consumes — the incremental-ETL primitive: keep
    * yesterday's state table, aggregate only today's slice, merge. The
    * reference recomputes its daily window from scratch each run
    * (main.py:40 — a 5-day lookback re-read daily); state merge is the
    * set-oriented replacement that touches only the new data. */
  def aggState(df: DataFrame, groupCol: String, valCol: String): DataFrame =
    df.groupBy(col(groupCol)).agg(
      count(col(valCol)).as("state_cnt"),
      sum(col(valCol)).as("state_sum"),
      min(col(valCol)).as("state_min"),
      max(col(valCol)).as("state_max"))

  /** Merge aggregate states: count/sum re-add, min/max re-extremize —
    * exactly Spark's own partial/final aggregation contract, applied
    * across BATCHES instead of partitions. `mergeAggState(aggState(a),
    * aggState(b)) == aggState(a ∪ b)` for count/min/max exactly and for
    * sum up to float re-association (round before comparing).
    *
    * Scale shape: a union of two already-aggregated (group-cardinality)
    * tables and one hash aggregate — the 100 TB history is never re-read;
    * cost ∝ groups + new batch. */
  def mergeAggState(state: DataFrame, delta: DataFrame,
                    groupCol: String): DataFrame = {
    val want = Seq(groupCol, "state_cnt", "state_sum", "state_min", "state_max")
    Seq(state, delta).foreach { df =>
      require(want.forall(df.columns.contains),
        s"aggState schema required (${want.mkString(", ")}); got ${df.columns.mkString(", ")}")
    }
    state.unionByName(delta).groupBy(col(groupCol)).agg(
      sum(col("state_cnt")).as("state_cnt"),
      sum(col("state_sum")).as("state_sum"),
      min(col("state_min")).as("state_min"),
      max(col("state_max")).as("state_max"))
  }

  /** Approximate distinct-count STATE: one mergeable HLL (Datasketches)
    * sketch per group — the approximate counterpart of [[aggState]] for
    * COUNT(DISTINCT): exact distinct state is unbounded (the key set
    * itself), a sketch is KBs per group at any cardinality. Merge daily
    * states with [[mergeDistinctState]]; read with `hll_sketch_estimate`.
    * While sketches are in sparse (coupon) mode the union is lossless —
    * merged-then-estimated EQUALS built-from-scratch-then-estimated
    * (CorpusSpec pins this on a 97-key fixture). Past the sparse→HLL
    * promotion the union path may differ from a from-scratch sketch by
    * a small fraction of the rsd (measured ≤1% at 14k keys); both stay
    * inside the sketch's error envelope vs exact. */
  def distinctState(df: DataFrame, groupCol: String, keyCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(keyCol)).as("distinct_sketch"))

  /** Merge two per-group distinct-count states and estimate. */
  def mergeDistinctState(state: DataFrame, delta: DataFrame,
                         groupCol: String): DataFrame =
    state.unionByName(delta).groupBy(col(groupCol))
      .agg(hll_union_agg(col("distinct_sketch")).as("distinct_sketch"))
      .withColumn("n_distinct_est",
        hll_sketch_estimate(col("distinct_sketch")))

  /** Sketch-only distinct-set INTERSECTION estimate via
    * inclusion–exclusion: per group, est(A∩B) = est(A) + est(B) −
    * est(A∪B), where the union is one lossless-in-sparse-mode
    * [[mergeDistinctState]]-style `hll_union_agg` — the audience-overlap
    * / cross-slice-contamination readout ("how many distinct users did
    * BOTH things") computed from KB sketches, never from the key sets.
    * HLL sketches cannot intersect directly; inclusion–exclusion is the
    * standard derived estimator, and its error compounds: three ±rsd
    * estimates difference into an ABSOLUTE error ∝ the union size, so a
    * small true intersection under a huge union is where the estimate
    * degrades first — the returned `est_union`-relative error contract
    * reflects that (clamped at 0, it cannot go negative).
    *
    * Scale shape: two grouped sketch aggregates (map-side combined,
    * O(KB) state per group) + one sketch-union re-aggregate + a
    * #groups-row join — the raw key sets never shuffle. Groups present
    * on only one side have an empty other-side sketch: est_b = 0,
    * intersection 0 (full-outer with empty-sketch semantics via the
    * union aggregate; the per-side estimate joins are left joins). */
  def distinctIntersection(dfA: DataFrame, dfB: DataFrame,
                           groupCol: String, keyCol: String): DataFrame = {
    // cached: each side's sketch table (#groups rows of KB sketches)
    // feeds BOTH the union aggregate and its own estimate projection —
    // uncached, each corpus-sized sketch aggregate would run twice
    val a = distinctState(dfA, groupCol, keyCol).cache()
    val b = distinctState(dfB, groupCol, keyCol).cache()
    val union = mergeDistinctState(a, b, groupCol)
      .select(col(groupCol), col("n_distinct_est").as("est_union"))
    val estA = a.select(col(groupCol),
      hll_sketch_estimate(col("distinct_sketch")).as("est_a"))
    val estB = b.select(col(groupCol),
      hll_sketch_estimate(col("distinct_sketch")).as("est_b"))
    union
      .join(estA, Seq(groupCol), "left")
      .join(estB, Seq(groupCol), "left")
      .select(col(groupCol),
        coalesce(col("est_a"), lit(0L)).as("est_a"),
        coalesce(col("est_b"), lit(0L)).as("est_b"),
        col("est_union"),
        greatest(coalesce(col("est_a"), lit(0L))
          + coalesce(col("est_b"), lit(0L)) - col("est_union"), lit(0L))
          .as("est_intersection"))
  }

  /** Effective sample size under weights (Kish '65 design effect):
    * per group, ESS = (Σw)²/Σw² and the ESS/n ratio — how many
    * EQUALLY-WEIGHTED units a weighted collection is actually worth.
    * The acceptance readout for every weighted stage this engine ships:
    * count-preserving dedup weights, temperature mixes, importance
    * weights — a source whose volume is carried by a few heavy
    * survivors has ESS ≪ n, and statistics over it deserve the wider
    * error bars ESS implies (also the classic concentration readout:
    * ESS/n near 1/n means one unit IS the group).
    *
    * Scale shape: ONE map-side-combined hash aggregate (n, Σw, Σw²).
    * With integer (or dyadic) weights every sum is exact, so the two
    * closing divisions are bit-deterministic cross-engine and the
    * outputs are deliberately UNROUNDED (PORTABILITY.md rational-half
    * rule); float weights carry ordering noise — round at the call
    * site if you must feed those. Zero-total groups yield null. */
  def effectiveSampleSize(df: DataFrame, groupCol: String,
                          weightCol: String): DataFrame = {
    val w = col(weightCol).cast("double")
    df.filter(col(weightCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_units"),
        sum(w).as("__sw"), sum(w * w).as("__sww"))
      .select(col(groupCol), col("n_units"),
        col("__sw").as("sum_w"),
        when(col("__sww") > 0, col("__sw") * col("__sw") / col("__sww"))
          .as("ess"),
        when(col("__sww") > 0, (col("__sw") * col("__sw") / col("__sww"))
          / col("n_units").cast("double")).as("ess_ratio"))
  }

  /** EXACT heavy hitters via the two-phase sketch-then-recount pattern:
    * items whose frequency exceeds n/(k+1), computed without ever running
    * a full distinct-item aggregation.
    *
    * Phase 1 runs a Misra–Gries sketch ([[graft.functions.MisraGriesAggregator]])
    * as one global aggregate — each partition reduces to ≤ k counters
    * map-side, so the shuffle carries one O(k) row per partition no matter
    * how many distinct items exist. MG guarantees every item with true
    * count > n/(k+1) survives in the sketch (it only ever under-counts),
    * so the ≤ k surviving keys are a SUPERSET of the answer. The total
    * count rides in the SAME aggregate, and the ≤ k candidate keys +
    * total are a legitimate tiny-collect (like the IVF centroids), so
    * phase 2 is a single map-side `isin` filter + recount — map-side
    * partial aggregation collapses to ≤ k rows per partition because
    * only candidates remain — keeping items whose exact count clears the
    * threshold. Exactly TWO passes over the input, the minimum any
    * exact two-phase scheme can do.
    *
    * This is the 100 TB shape for "find the hot keys in a trillion-row
    * column": a full wordcount shuffles every distinct key; this shuffles
    * O(k · partitions) both passes. Output: (`item`, `cnt`), exact —
    * identical to `GROUP BY item HAVING count(*)·(k+1) > n`. */
  def heavyHitters(df: DataFrame, itemCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val items = df.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
    val mg = udaf(new graft.functions.MisraGriesAggregator(k))
    val row = items
      .agg(mg(col("item")).as("sketch"), count(lit(1)).as("total"))
      .head()
    val candidates = row.getMap[String, Long](0).keys.toSeq.sorted
    val total = row.getLong(1)
    if (candidates.isEmpty)
      return items.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
        .filter(lit(false))
    items.filter(col("item").isin(candidates: _*))
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > total)
  }

  /** Exact-total proportional stratified sample (largest-remainder /
    * Hamilton apportionment): allocate a global `budget` across groups
    * proportionally to size — floor quotas, then the largest fractional
    * remainders receive the leftover units — so Σ quota == budget
    * EXACTLY. [[stratifiedSample]] takes per-group FRACTIONS and lands
    * near a total; this takes the TOTAL (the "exactly-10M-doc eval
    * slice across sources" op) and derives the per-group counts. Each
    * group is then sampled to its quota with the same deterministic
    * md5 ordering [[capPerGroup]] uses.
    *
    * Quotas clamp at group size (the only case the delivered total can
    * fall short — budget > corpus returns everything). Apportionment is
    * pure integer arithmetic (exact cross-engine); budget·maxGroupSize
    * must stay < 2^63.
    *
    * Shape: one group-count aggregate; quota derivation is #groups-row
    * work (its global remainder-rank window is bounded by group
    * cardinality); one broadcast join back + one per-group rank
    * window. */
  def quotaSample(df: DataFrame, groupCol: String, idCol: String,
                  budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val tot = counts.agg(sum(col("__n")).as("__tot"))
    val base = counts.crossJoin(broadcast(tot))
      .withColumn("__q0", expr(s"($budget * __n) div __tot"))
      .withColumn("__rem", expr(s"($budget * __n) % __tot"))
    val leftover = base.agg((lit(budget) - sum(col("__q0"))).as("__left"))
    val wr = Window.orderBy(col("__rem").desc, col(groupCol).asc)
    val quotas = base.withColumn("__rk", row_number().over(wr))
      .crossJoin(broadcast(leftover))
      .withColumn("__quota", least(col("__n"),
        col("__q0") + when(col("__rk") <= col("__left"), 1L).otherwise(0L)))
      .select(col(groupCol), col("__quota"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.join(broadcast(quotas), groupCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__quota"))
      .drop("__rn", "__quota")
  }

  /** Count-min sketch build + point-estimate eval (public: Cormode &
    * Muthukrishnan '05): 4 md5 hash rows × `width` buckets, cell =
    * Σ counts of colliding items, estimate = min over rows — the
    * fixed-size frequency summary for streams/corpora too wide to
    * wordcount, with the one-sided guarantee est ≥ truth (collisions
    * only ever ADD). Returns the top-`topK` true items with
    * (item, true_cnt, cm_est) — the eval readout that sizes depth×width
    * before trusting the sketch alone in production (where only the
    * depth·width cells would be kept).
    *
    * Shape: one exact wordcount aggregate (the eval baseline), a
    * VOCAB-sized depth× fan-out into the sketch aggregate (≤ depth·width
    * rows out), and a topK·depth-row probe join — nothing data-sized
    * shuffles twice. Deterministic md5 bucketing ⇒ identical sketches on
    * any engine, rerun, or cluster size. */
  def countMinEstimates(df: DataFrame, itemCol: String,
                        width: Int = 256, topK: Int = 20): DataFrame = {
    require(width >= 2 && topK >= 1, s"need width>=2, topK>=1: $width/$topK")
    val counts = df.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
      .groupBy(col("item")).agg(count(lit(1)).as("true_cnt"))
    val hashed = counts
      .select(col("item"), col("true_cnt"),
        explode(sequence(lit(0), lit(3))).as("j"))
      .withColumn("bucket",
        conv(substring(md5(concat(col("j").cast("string"), lit(":"),
          col("item"))), 1, 8), 16, 10).cast("long") % width)
    val sketch = hashed.groupBy(col("j"), col("bucket"))
      .agg(sum(col("true_cnt")).as("__cell"))
    val top = counts
      .orderBy(col("true_cnt").desc, col("item").asc).limit(topK)
    top.join(hashed.drop("true_cnt"), Seq("item"))
      .join(sketch, Seq("j", "bucket"))
      .groupBy(col("item"), col("true_cnt"))
      .agg(min(col("__cell")).as("cm_est"))
  }

  /** Poisson(1) CDF thresholds P(X ≤ k), k = 0..7, as decimal literals.
    * [[bootstrapMeans]] and its DuckDB oracle both build their
    * inverse-CDF branch from these SAME strings, so the two engines parse
    * the identical decimal to the identical double and take the identical
    * branch for every hash — the resampling is bit-reproducible
    * cross-engine. P(X > 7) ≈ 1e-5 is folded into weight 8. */
  private[graft] val poissonCdfLiterals: Seq[String] = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712", "0.9999897508033253")

  /** Inverse Poisson(1) CDF of a staged uniform column (8-branch when
    * chain over [[poissonCdfLiterals]]). `u` must be a STAGED column
    * reference, not an inline expression — each branch references it. */
  private def poissonWeight(u: Column): Column =
    poissonCdfLiterals.zipWithIndex.foldRight(lit(8L): Column) {
      case ((t, k), acc) => when(u < t.toDouble, lit(k.toLong)).otherwise(acc)
    }

  /** Poisson bootstrap (public: Chamandy et al., "Estimating uncertainty
    * for massive data streams", Google TR'12): `replicates` deterministic
    * resamples of the corpus, each row entering replicate r with
    * multiplicity w = F⁻¹_Poisson(1)(hashUnit(r:id), salt "boot") — the
    * standard way
    * to put a confidence interval on ANY corpus mean without a second
    * pass, a shuffle, or an RNG (resampling n rows with replacement
    * needs coordination; independent Poisson(1) weights don't, and at
    * corpus n the totals concentrate identically).
    *
    * Output: one row per replicate (r, n_eff, boot_mean) — the spread of
    * boot_mean across replicates IS the sampling distribution of the
    * mean (quantile it for a CI). `valCol` must be integral: weighted
    * sums then stay exact integers, so the only float op is the final
    * division (engine-portable at the 6dp round).
    *
    * Shape: a replicates× map-side fan-out (explode of a literal id
    * range) into ONE map-side-combined hash aggregate on r — the shuffle
    * carries `replicates` rows per input partition, never the data. The
    * fan-out multiplies scan-side work by R: at 100 TB run it over the
    * (much smaller) per-doc stat table, not raw text — the input here IS
    * per-doc stats. */
  def bootstrapMeans(df: DataFrame, idCol: String, valCol: String,
                     replicates: Int = 32): DataFrame = {
    require(replicates > 0, s"replicates must be positive: $replicates")
    // integral-only input: a fractional column would TRUNCATE through the
    // long cast and every replicate mean would be silently wrong — make
    // the contract structural, not a docstring
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType)
        .contains(df.schema(valCol).dataType),
      s"bootstrapMeans needs an integral valCol (exact weighted sums); " +
        s"got ${df.schema(valCol).dataType} — pre-quantize (e.g. cents) " +
        "explicitly")
    // null metrics are excluded up front: sum() would skip their products
    // but their weights would still land in n_eff, silently biasing the
    // replicate means low
    df.filter(col(valCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        col(valCol).cast("long").as("__x"))
      .select(col("__id"), col("__x"),
        explode(sequence(lit(0), lit(replicates - 1))).as("r"))
      .withColumn("__u", hashUnit(
        concat(col("r").cast("string"), lit(":"), col("__id")), "boot"))
      .withColumn("__w", poissonWeight(col("__u")))
      .groupBy(col("r").cast("long").as("r"))
      .agg(sum(col("__w")).as("n_eff"),
        sum(col("__w") * col("__x")).as("__wsum"))
      .select(col("r"), col("n_eff"),
        round(when(col("n_eff") > 0,
          col("__wsum").cast("double") / col("n_eff").cast("double")),
          6).as("boot_mean"))
  }

  /** One domain-reweighting step, DoReMi-style (Xie et al., NeurIPS'23:
    * Group-DRO multiplicative-weights over domains; this is the
    * proxy-free single step): each source's mixture weight is its token
    * share scaled by exp(η · excess loss), η = 1, and renormalized —
    * up-weighting domains the reference model finds HARD relative to
    * the corpus average, the principled alternative to hand-tuned
    * [[temperatureMix]] exponents. Loss here is the per-token
    * cross-entropy of the corpus-wide unigram LM (the same
    * add-nothing MLE the loglik family scores with): domains whose
    * token mix diverges from the corpus read as high-loss and gain
    * weight; boilerplate-heavy domains lose it.
    *
    * Per source: n_tokens, loss_s = −Σ_t c_st·ln(c_t/N) / n_s, excess =
    * loss_s − corpus loss, weight ∝ share_s·exp(η·excess). ln runs per
    * DISTINCT (source, token) — vocabulary-sized, never token-instance
    * work; the probabilities are exact integer ratios and the log-sum
    * is the one float accumulation (outputs rounded).
    *
    * Shape: one (source, token) aggregate, one vocab aggregate off it,
    * an equi-join back, one per-source aggregate, a 1-row corpus
    * broadcast — shuffle ∝ distinct (source, token). */
  def domainReweight(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val st = docs.select(col(groupCol).as("__g"),
        explode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as("__w"))
      .groupBy(col("__g"), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val vocab = st.groupBy(col("__w")).agg(sum(col("__c")).as("__ct"))
    val total = st.agg(sum(col("__c")).cast("double").as("__nn"))
    val perSrc = st.join(vocab, Seq("__w"))
      .crossJoin(broadcast(total))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("n_tokens"),
        (-sum(col("__c").cast("double")
          * log(col("__ct").cast("double") / col("__nn")))
          / sum(col("__c")).cast("double")).as("__loss"))
    val corpus = perSrc.agg(
      sum(col("n_tokens")).cast("double").as("__tot"),
      (sum(col("__loss") * col("n_tokens").cast("double"))
        / sum(col("n_tokens")).cast("double")).as("__base"))
    val scored = perSrc.crossJoin(broadcast(corpus))
      .withColumn("__share",
        col("n_tokens").cast("double") / col("__tot"))
      .withColumn("__raw",
        col("__share") * exp(lit(1.0) * (col("__loss") - col("__base"))))
      .localCheckpoint()
    val norm = scored.agg(sum(col("__raw")).as("__z"))
    scored.crossJoin(broadcast(norm))
      .select(col("__g").as(groupCol), col("n_tokens"),
        round(col("__loss"), 6).as("loss"),
        round(col("__loss") - col("__base"), 6).as("excess_loss"),
        round(col("__share"), 6).as("share_before"),
        round(col("__raw") / col("__z"), 6).as("weight_after"))
  }

  /** Water-filling budget allocation across sources (the classical
    * max-min-fair / water-filling solution, e.g. Bertsekas & Gallager
    * "Data Networks" §6.5.2): given each source's token supply s_i and
    * a total budget B, allocate a_i = min(s_i, λ) with the water level
    * λ chosen so Σa_i = B — EVERY source below the level keeps all its
    * tokens, every source above is capped at the same level. THE
    * principled "cap the giants, keep the tails" mixture move:
    * [[temperatureMix]] reshapes shares smoothly, water-filling
    * enforces a hard budget with max-min fairness (no source is cut
    * before every larger source is cut to its size), which is what a
    * fixed training-token budget actually requires.
    *
    * λ in closed form, no iteration: sort sources by supply ascending;
    * at the first k where the remaining budget spread over the
    * remaining sources, λ_k = (B − Σ_{j<k} s_j)/(n−k+1), does not
    * exceed s_k, that λ_k IS the level. At the exact-budget boundary
    * (B = Σs) the level lands on the largest supply and cuts nothing;
    * B beyond every supply is impossible for a fraction ≤ 1, but a
    * null level still means "nothing binds". Allocations are exact arithmetic
    * over the supply table — UNROUNDED (deterministic division of
    * exact operands); only the ratio share_kept is unrounded-exact too.
    *
    * Shape: one per-source supply aggregate, one sort window + prefix
    * sums over the ≤#sources-row table, a 1-row λ broadcast — nothing
    * row-sized past the first aggregate. */
  def waterFill(docs: DataFrame, groupCol: String, supplyCol: Column,
                budgetFrac: Double): DataFrame = {
    require(budgetFrac > 0 && budgetFrac <= 1,
      s"budgetFrac must be in (0,1]: $budgetFrac")
    val entire = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val bySupply = Window.orderBy(col("supply").asc, col(groupCol).asc)
    val perSource = docs.groupBy(col(groupCol))
      .agg(sum(supplyCol).as("supply"))
      .withColumn("__tot", sum(col("supply")).over(entire))
      .withColumn("__n", count(lit(1)).over(entire))
      .withColumn("__b", col("__tot").cast("double") * budgetFrac)
      .withColumn("__k", row_number().over(bySupply))
      .withColumn("__cumBelow",
        sum(col("supply")).over(bySupply
          .rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__lamK",
        (col("__b") - coalesce(col("__cumBelow"), lit(0L)).cast("double"))
          / (col("__n") - col("__k") + 1).cast("double"))
    // the level is λ at the FIRST (smallest-k) feasible position — later
    // feasible λ_k are artifacts of "pretending" capped sources kept all;
    // none feasible ⇔ budget covers every supply ⇒ nothing binds
    val level = perSource
      .filter(col("__lamK") <= col("supply").cast("double"))
      .agg(min_by(col("__lamK"), col("__k")).as("__lambda"))
    val alloc = when(col("__lambda").isNotNull,
      least(col("supply").cast("double"), col("__lambda")))
      .otherwise(col("supply").cast("double"))
    perSource
      .crossJoin(broadcast(level))
      .select(col(groupCol), col("supply"),
        col("__lambda").as("water_level"),
        alloc.as("allocation"),
        when(col("supply") > 0, alloc / col("supply").cast("double"))
          .as("share_kept"))
  }
}
