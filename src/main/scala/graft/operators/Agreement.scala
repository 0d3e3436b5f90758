package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inter-annotator agreement and label-aggregation operators
  * (SURVEY.md §2b) — the labeling-QA layer of a training-data pipeline:
  * before a labeled corpus is trusted, measure how much the raters agree
  * beyond chance (Fleiss' kappa, Krippendorff's alpha, Kendall's W) and
  * collapse multi-rated items to a single label with an explicit support
  * fraction (majority vote).
  *
  * All four fold from the sparse (item, label) [or (rater, item)] cell
  * aggregate — one shuffle on the item key, partial aggregation map-side,
  * never a dense item×category grid — so they run at corpus scale. The
  * chance-corrected statistics are EXACT integer (or half-integer) ratios
  * up to the single final division wherever the design is balanced, and
  * are emitted UNROUNDED there (both engines divide the same two doubles);
  * only the variable-raters-per-item alpha carries order-dependent float
  * terms and rounds.
  */
object Agreement {

  /** Fleiss' kappa (Fleiss, Psych. Bull. '71): chance-corrected agreement
    * for N items each rated by exactly m raters over k categories.
    * With n_ij = raters assigning category j to item i, T = N·m,
    * S2 = Σ_ij n_ij², C_j = Σ_i n_ij, SC2 = Σ_j C_j²:
    *   P̄  = (S2 − T) / (T(m−1))          observed pairwise agreement
    *   P̄e = SC2 / T²                      chance agreement
    *   κ  = [(S2 − T)·T − SC2·(m−1)] / [(m−1)·(T² − SC2)]
    * The last form clears denominators, so every sum is an INTEGER and κ
    * is one exact integer ratio — emitted unrounded (both engines divide
    * the same two longs-as-doubles). Items whose rating count ≠ m are
    * DROPPED (the statistic is undefined for them; visible via n_items
    * against the caller's expectation), null items/labels filtered.
    *
    * Shape: one sparse groupBy(item, label) cell count, one per-item fold
    * to enforce m, two bounded folds for S2/SC2 — shuffle ∝ distinct
    * cells. Long arithmetic holds to ~3·10⁹ total ratings (T² < 2⁶³);
    * beyond that, swap the two products to DECIMAL(38,0). */
  def fleissKappa(ratings: DataFrame, itemCol: String, labelCol: String,
                  raters: Int): DataFrame = {
    require(raters >= 2, s"fleissKappa needs m >= 2 raters, got $raters")
    val cells = ratings
      .filter(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(itemCol).as("__i"), col(labelCol).as("__j"))
      .agg(count(lit(1)).as("__nij"))
    val perItem = cells.groupBy(col("__i"))
      .agg(sum(col("__nij")).as("__m"), sum(col("__nij") * col("__nij"))
        .as("__s2i"))
      .filter(col("__m") === raters.toLong)
      // the balanced item set feeds BOTH the S2 fold and the per-category
      // C_j fold below (via semi join); cached so the cell aggregate runs
      // once, not per consumer
      .cache()
    val s2 = perItem.agg(count(lit(1)).as("n_items"),
      sum(col("__s2i")).as("__s2"))
    val sc2 = cells
      .join(perItem.select(col("__i")), Seq("__i"), "left_semi")
      .groupBy(col("__j")).agg(sum(col("__nij")).as("__cj"))
      .agg(count(lit(1)).as("k_categories"),
        sum(col("__cj") * col("__cj")).as("__sc2"))
    val m = lit(raters.toLong)
    s2.crossJoin(broadcast(sc2))
      .withColumn("__t", col("n_items") * m)
      .select(col("n_items"), m.as("n_raters"), col("k_categories"),
        ((col("__s2") - col("__t")).cast("double")
          / (col("__t") * (m - 1L)).cast("double")).as("p_bar"),
        (col("__sc2").cast("double")
          / (col("__t") * col("__t")).cast("double")).as("p_e"),
        when(col("__t") * col("__t") =!= col("__sc2"),
          ((col("__s2") - col("__t")) * col("__t")
            - col("__sc2") * (m - 1L)).cast("double")
            / ((m - 1L) * (col("__t") * col("__t") - col("__sc2")))
              .cast("double")).as("kappa"))
  }

  /** Gwet's AC1 (Gwet, Br. J. Math. Stat. Psych. '08): the
    * prevalence-robust companion to [[fleissKappa]]. Kappa's chance term
    * Σπ_j² EXPLODES when one category dominates (the "kappa paradox":
    * 95% raw agreement can score κ ≈ 0 on a 95/5 label split — exactly
    * the shape of a rare-defect labeling task). AC1 replaces it with
    * P_e(γ) = Σ_j π_j(1−π_j)/(k−1), the probability of agreeing BY
    * ACCIDENT on a category a random rater is ambivalent about, which
    * stays bounded as prevalence skews. Same m-raters-per-item design as
    * kappa; with T = N·m, S2 = Σn_ij², SC2 = ΣC_j²:
    *   AC1 = [(S2−T)(k−1)T − (T²−SC2)(m−1)] / [(m−1)((k−2)T² + SC2)]
    * — denominators cleared, every sum an INTEGER, one exact final
    * division, emitted UNROUNDED. k is the OBSERVED category count
    * (AC1's chance model is defined over the categories in use).
    *
    * Shape: identical to [[fleissKappa]] — sparse cell count, per-item
    * m-filter, two bounded folds; shuffle ∝ distinct cells. Long
    * arithmetic holds to T ≈ 2·10⁶ ((k−1)T³-scale products past that →
    * DECIMAL(38,0)). */
  def gwetsAC1(ratings: DataFrame, itemCol: String, labelCol: String,
               raters: Int): DataFrame = {
    require(raters >= 2, s"gwetsAC1 needs m >= 2 raters, got $raters")
    val cells = ratings
      .filter(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(itemCol).as("__i"), col(labelCol).as("__j"))
      .agg(count(lit(1)).as("__nij"))
    val perItem = cells.groupBy(col("__i"))
      .agg(sum(col("__nij")).as("__m"),
        sum(col("__nij") * col("__nij")).as("__s2i"))
      .filter(col("__m") === raters.toLong)
      .cache()
    val s2 = perItem.agg(count(lit(1)).as("n_items"),
      sum(col("__s2i")).as("__s2"))
    val sc2 = cells
      .join(perItem.select(col("__i")), Seq("__i"), "left_semi")
      .groupBy(col("__j")).agg(sum(col("__nij")).as("__cj"))
      .agg(count(lit(1)).as("__k"), sum(col("__cj") * col("__cj"))
        .as("__sc2"))
    val m = lit(raters.toLong)
    s2.crossJoin(broadcast(sc2))
      .withColumn("__t", col("n_items") * m)
      .withColumn("__den", (m - 1L) * ((col("__k") - 2L) * col("__t")
        * col("__t") + col("__sc2")))
      .select(col("n_items"), m.as("n_raters"),
        col("__k").as("k_categories"),
        ((col("__s2") - col("__t")).cast("double")
          / (col("__t") * (m - 1L)).cast("double")).as("p_bar"),
        ((col("__t") * col("__t") - col("__sc2")).cast("double")
          / ((col("__k") - 1L) * col("__t") * col("__t")).cast("double"))
          .as("p_e_gamma"),
        when(col("__k") >= 2L && col("__den") =!= 0L,
          ((col("__s2") - col("__t")) * (col("__k") - 1L) * col("__t")
            - (col("__t") * col("__t") - col("__sc2")) * (m - 1L))
            .cast("double") / col("__den").cast("double")).as("ac1"))
  }

  /** Krippendorff's alpha, nominal metric (Krippendorff, "Content
    * Analysis" §12): chance-corrected agreement that, unlike
    * [[fleissKappa]], accepts a VARIABLE number of ratings per item —
    * the common real shape where some items got 2 raters and some 5.
    * From the coincidence-matrix identities, with m_i = ratings on item
    * i (items with m_i < 2 dropped — no pairable values), n = Σ m_i,
    * n_c = Σ_i n_ic, and o = Σ_i Σ_c n_ic(n_ic−1)/(m_i−1) the observed
    * same-same coincidence mass:
    *   α = 1 − (n−1)(n − o) / (n² − Σ_c n_c²)
    * n and n_c are integers, but o divides by a per-item (m_i−1), so its
    * sum is order-dependent float noise → α ROUNDS at 6 decimals
    * (convention: round noise-carrying values only).
    *
    * Shape: the same sparse (item, label) cell count as kappa, a per-item
    * m_i fold joined back broadcast-small per item... no — joined by key
    * (items are data-sized); both sides are the SAME cell aggregate, so
    * it is computed once (cached) and self-joined on the item key —
    * shuffle ∝ distinct cells either way. */
  def krippendorffAlpha(ratings: DataFrame, itemCol: String,
                        labelCol: String): DataFrame = {
    val cells = ratings
      .filter(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(itemCol).as("__i"), col(labelCol).as("__c"))
      .agg(count(lit(1)).as("__nic"))
      // consumed by the per-item fold AND the joined coincidence fold
      .cache()
    val perItem = cells.groupBy(col("__i"))
      .agg(sum(col("__nic")).as("__mi"))
      .filter(col("__mi") >= 2L)
    val joined = cells.join(perItem, Seq("__i"))
    val oAndN = joined.agg(
      sum(col("__nic")).as("__n"),
      sum(col("__nic").cast("double") * (col("__nic") - 1L).cast("double")
        / (col("__mi") - 1L).cast("double")).as("__o"))
    val nc2 = joined.groupBy(col("__c"))
      .agg(sum(col("__nic")).as("__nc"))
      .agg(count(lit(1)).as("k_categories"),
        sum(col("__nc") * col("__nc")).as("__snc2"))
    val items = perItem.agg(count(lit(1)).as("n_items"))
    oAndN.crossJoin(broadcast(nc2)).crossJoin(broadcast(items))
      .select(col("n_items"), col("k_categories"),
        col("__n").as("n_pairable"),
        round(col("__o"), 6).as("observed_coincidence"),
        round(when(col("__n") * col("__n") =!= col("__snc2"),
          lit(1.0) - (col("__n") - 1L).cast("double")
            * (col("__n").cast("double") - col("__o"))
            / (col("__n") * col("__n") - col("__snc2")).cast("double")),
          6).as("alpha"))
  }

  /** Kendall's coefficient of concordance W, tie-corrected (Kendall &
    * Babington Smith, Ann. Math. Stat. '39; Siegel & Castellan §9.5):
    * m raters each rank the same n items — how concordant are the m
    * rankings as a whole (the k-rater generalization of rank
    * correlation; W = 1 is identical orderings). With midranks r_ij,
    * item rank sums R_i, and per-rater tie groups of size t:
    *   S = Σ_i (R_i − m(n+1)/2)²
    *   W = 12·S / (m²(n³−n) − m·Σ_j Σ_t (t³−t))
    * Only items ranked by ALL m raters enter (an incomplete column makes
    * the rank sums incomparable; dropped items visible via n_items).
    * Midranks are exact halves, so S sums exact quarters and both sides
    * of the division are exact — W emitted UNROUNDED.
    *
    * Shape: one sparse (rater, item, value) cell aggregate from the
    * caller, completeness by a windowed count against the global rater
    * count, midranks via rater-partitioned windows on the bounded m×n
    * grid, one fold per sum — shuffle ∝ cells, never input rows. */
  def kendallW(cells: DataFrame, raterCol: String, itemCol: String,
               valCol: String): DataFrame = {
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val base = cells
      .filter(col(raterCol).isNotNull && col(itemCol).isNotNull &&
        col(valCol).isNotNull)
      .select(col(raterCol).as("__r"), col(itemCol).as("__it"),
        col(valCol).cast("double").as("__v"))
      .withColumn("__m", size(collect_set(col("__r")).over(all))
        .cast("long"))
    // completeness is enforced on DISTINCT raters, with the row count
    // required to agree: an item missing a rater but carrying a
    // duplicate (rater, item) cell has rows == m yet distinct < m —
    // row-count alone would pass it and corrupt the ranks. Malformed
    // items (dup cells or missing raters) degrade to DROPPED items,
    // never to a wrong statistic (documented cell-aggregate contract,
    // now enforced).
    val complete = base
      .withColumn("__cnt", count(lit(1)).over(
        Window.partitionBy(col("__it"))))
      .withColumn("__dr", size(collect_set(col("__r")).over(
        Window.partitionBy(col("__it")))).cast("long"))
      .filter(col("__cnt") === col("__m") && col("__dr") === col("__m"))
    val ranked = complete
      .withColumn("__minr", rank().over(Window.partitionBy(col("__r"))
        .orderBy(col("__v"))))
      .withColumn("__t", count(lit(1)).over(
        Window.partitionBy(col("__r"), col("__v"))))
      .withColumn("__rank", col("__minr").cast("double")
        + (col("__t") - 1).cast("double") / 2.0)
      // the bounded m×n rank grid feeds the per-item rank-sum fold AND
      // the per-rater tie fold; cached so the caller's cell aggregate
      // runs once
      .cache()
    val shape = ranked.agg(max(col("__m")).as("__mm"),
      countDistinct(col("__it")).as("__nn"))
    val rankSums = ranked.groupBy(col("__it"))
      .agg(sum(col("__rank")).as("__ri"))
      .crossJoin(broadcast(shape))
      .agg(max(col("__mm")).as("__mm"), max(col("__nn")).as("__nn"),
        sum((col("__ri") - col("__mm").cast("double")
          * (col("__nn") + 1L).cast("double") / 2.0)
          * (col("__ri") - col("__mm").cast("double")
            * (col("__nn") + 1L).cast("double") / 2.0)).as("__s"))
    val ties = ranked.groupBy(col("__r"), col("__v"))
      .agg(count(lit(1)).as("__tg"))
      .agg(sum(col("__tg") * col("__tg") * col("__tg") - col("__tg"))
        .as("__tt"))
    rankSums.crossJoin(broadcast(ties))
      .withColumn("__den",
        (col("__mm") * col("__mm")
          * (col("__nn") * col("__nn") * col("__nn") - col("__nn"))
          - col("__mm") * col("__tt")).cast("double"))
      .select(col("__nn").as("n_items"), col("__mm").as("n_raters"),
        col("__s").as("s_stat"),
        when(col("__den") > 0, lit(12.0) * col("__s") / col("__den"))
          .as("w"))
  }

  /** Dawid–Skene label model, hard-EM form (Dawid & Skene, JRSS-C '79;
    * classification-EM variant): the "beyond majority vote" label
    * aggregator — learn each RATER's confusion matrix from the data and
    * re-score every item by how much each rater's vote is actually worth,
    * so two colluding spammers stop outvoting one reliable annotator.
    * Init = majority vote (lexicographic tiebreak); each of two iterations
    * then
    * (1) counts confusion n(r, c→j) and class priors against the current
    * labels, (2) Laplace-smooths and re-labels every item with the
    * maximum-a-posteriori class under the plug-in model
    * p(c)·Π_ratings θ(r, c→j).
    *
    * EXACT ARITHMETIC, no floats anywhere: probabilities are scaled to
    * integers θ_int = ⌊(n+1)·10⁶/(den+K)⌋ (a floor of an exact rational —
    * identical in any engine), and the per-item score is the INTEGER
    * product prior·θ₁…θ_m carried in DECIMAL(38,0) — at most
    * (10⁶)^(m+1) ≤ 10³⁶ for m ≤ 5, inside decimal128 — compared exactly.
    * A float product/log-sum would make the argmax flip on last-ulp noise
    * between engines and between partition orders; the integer form makes
    * the whole fixed-point iteration bit-deterministic. At most 5
    * ratings per item enter (the caller supplies 1-based `ordCol`; the
    * decimal-width bound, documented above, is why).
    *
    * Shape per iteration: one join ratings⋈labels on the item key (the
    * only data-sized shuffle), confusion/prior folds to R·K² ≤ tiny rows,
    * the dense θ grid and priors BROADCAST back, candidate scores via a
    * ×K fan-out + one (item, class) aggregate, argmax via an item-
    * partitioned window over K rows. Ratings and each iteration's labels
    * are localCheckpoint'ed — the standard iterative-op seam here
    * (pageRank, kCore): without it iteration t's plan re-embeds t−1's
    * whole DAG and the scan count grows geometrically. Emits one row per
    * item: majority_label, ds_label, changed. */
  def dawidSkene(ratings: DataFrame, itemCol: String, raterCol: String,
                 labelCol: String, ordCol: String): DataFrame = {
    val scale = 1000000L
    val r = ratings
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull &&
        col(labelCol).isNotNull && col(ordCol) <= 5)
      .select(col(itemCol).as("__i"), col(raterCol).as("__r"),
        col(labelCol).as("__j"), col(ordCol).as("__o"))
      .localCheckpoint()
    val classes = r.select(col("__j").as("__c")).distinct()
      .localCheckpoint()
    val raters = r.select(col("__r")).distinct()
    val kN = classes.agg(count(lit(1)).as("__k"))
    // majority init — votes desc, label asc (the reproducible tiebreak)
    val w0 = Window.partitionBy(col("__i"))
    val lab0 = r.groupBy(col("__i"), col("__j"))
      .agg(count(lit(1)).as("__v"))
      .withColumn("__rn", row_number().over(
        w0.orderBy(col("__v").desc, col("__j").asc)))
      .filter(col("__rn") === 1)
      .select(col("__i"), col("__j").as("__cur"))
      .localCheckpoint()

    var labels = lab0
    for (_ <- 1 to 2) {
      val joined = r.join(labels, Seq("__i"))
      val conf = joined.groupBy(col("__r"), col("__cur"), col("__j"))
        .agg(count(lit(1)).as("__cnt"))
      val den = conf.groupBy(col("__r"), col("__cur"))
        .agg(sum(col("__cnt")).as("__den"))
      val grid = raters
        .crossJoin(classes.select(col("__c").as("__cur")))
        .crossJoin(classes.select(col("__c").as("__j")))
        .join(conf, Seq("__r", "__cur", "__j"), "left")
        .join(den, Seq("__r", "__cur"), "left")
        .crossJoin(broadcast(kN))
        .select(col("__r"), col("__cur").as("__c"), col("__j"),
          floor((coalesce(col("__cnt"), lit(0L)) + 1L) * scale
            / (coalesce(col("__den"), lit(0L)) + col("__k")))
            .cast("long").as("__theta"))
      val nItems = labels.agg(count(lit(1)).as("__n"))
      val priors = classes.select(col("__c"))
        .join(labels.groupBy(col("__cur").as("__c"))
          .agg(count(lit(1)).as("__pc")), Seq("__c"), "left")
        .crossJoin(broadcast(nItems)).crossJoin(broadcast(kN))
        .select(col("__c"),
          floor((coalesce(col("__pc"), lit(0L)) + 1L) * scale
            / (col("__n") + col("__k"))).cast("long").as("__p"))
      val cand = r
        .crossJoin(broadcast(classes.select(col("__c"))))
        .join(broadcast(grid), Seq("__r", "__c", "__j"))
      val factors = (1 to 5).map(k =>
        max(when(col("__o") === k, col("__theta"))).as(s"__f$k"))
      val score = (1 to 5)
        .map(k => coalesce(col(s"__f$k"), lit(1L)).cast("decimal(7,0)"))
        .foldLeft(col("__p").cast("decimal(7,0)"))(_ * _)
      labels = cand.groupBy(col("__i"), col("__c"))
        .agg(factors.head, factors.tail: _*)
        .join(broadcast(priors), Seq("__c"))
        .withColumn("__s", score)
        .withColumn("__rn", row_number().over(
          w0.orderBy(col("__s").desc, col("__c").asc)))
        .filter(col("__rn") === 1)
        .select(col("__i"), col("__c").as("__cur"))
        .localCheckpoint()
    }
    lab0.select(col("__i").as(itemCol),
        col("__cur").as("majority_label"))
      .join(labels.select(col("__i").as(itemCol),
        col("__cur").as("ds_label")), Seq(itemCol))
      .withColumn("changed", col("majority_label") =!= col("ds_label"))
  }

  /** Majority-vote label aggregation: collapse an (item, label) rating
    * table to one row per item — the winning label, its vote count, the
    * item's total ratings, and the support fraction votes/total (an
    * exact integer ratio, UNROUNDED). Ties break deterministically to
    * the lexicographically smallest label (the reproducibility contract
    * a training-data build needs; a random tiebreak would change the
    * corpus between runs). The per-item confidence column is what a
    * downstream quality gate thresholds on (e.g. keep support ≥ 2/3).
    *
    * Shape: sparse (item, label) count, then a per-item argmax by
    * (votes desc, label asc) via one window row_number — two shuffles on
    * the item key, both ∝ distinct cells. */
  def majorityLabel(ratings: DataFrame, itemCol: String,
                    labelCol: String): DataFrame = {
    val cells = ratings
      .filter(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(itemCol), col(labelCol))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col(itemCol))
    cells
      .withColumn("n_ratings", sum(col("votes")).over(w))
      .withColumn("__rn", row_number().over(
        w.orderBy(col("votes").desc, col(labelCol).asc)))
      .filter(col("__rn") === 1)
      .select(col(itemCol), col(labelCol).as("majority_label"),
        col("votes"), col("n_ratings"),
        (col("votes").cast("double") / col("n_ratings").cast("double"))
          .as("support"))
  }

  /** Cronbach's alpha (public: Cronbach, Psychometrika '51) — internal
    * consistency of a k-item scale over continuous measurements:
    *   α = k/(k−1) · (1 − Σ_i s²_i / s²_T)
    * with s²_i the sample variance of item i across subjects and s²_T
    * the sample variance of the subject TOTALS. The continuous
    * reliability readout beside [[fleissKappa]] (categorical) and
    * ICC(1): "do the k probes of one construct move together" — for a
    * labeling pipeline, whether a rubric's sub-scores are coherent
    * enough to sum into one quality score.
    *
    * Complete-case: subjects with exactly `items` cells AND `items`
    * DISTINCT item keys (the kendallW duplicate-cell enforcement —
    * malformed subjects drop, never skew). Variances use the exact
    * sum/sum-of-squares identity with the SAME association both engines
    * evaluate: (Σx² − Σx·Σx/n)/(n−1).
    *
    * Shape: one data-sized cell pass; the per-subject completeness fold
    * and per-item folds are shuffle ∝ subjects / items; the k item
    * variances then fold to one row. Outputs round 6dp (the item-sum and
    * the variances carry order-dependent float addition).
    * Degenerate s²_T = 0 (or < 2 complete subjects) yields null alpha. */
  def cronbachAlpha(df: DataFrame, subjectCol: String, itemCol: String,
                    valCol: String, items: Int): DataFrame = {
    require(items >= 2, s"items must be >= 2: $items")
    val cells = df
      .filter(col(subjectCol).isNotNull && col(itemCol).isNotNull &&
        col(valCol).isNotNull)
      .select(col(subjectCol).as("__s"), col(itemCol).cast("string").as("__i"),
        col(valCol).cast("double").as("__x"))
    val subj = cells.groupBy(col("__s"))
      .agg(count(lit(1)).as("__cnt"),
        countDistinct(col("__i")).cast("long").as("__di"),
        sum(col("__x")).as("__tot"))
      .filter(col("__cnt") === items && col("__di") === items)
    val okCells = cells.join(subj.select(col("__s")), Seq("__s"), "left_semi")
    val nD = col("__n").cast("double")
    val itemVar = okCells.groupBy(col("__i"))
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__sx"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .select(when(col("__n") > 1,
        (col("__sxx") - col("__sx") * col("__sx") / nD) / (nD - 1.0))
        .as("__vi"))
      .agg(sum(col("__vi")).as("__sumItemVar"))
    val totVar = subj
      .agg(count(lit(1)).as("n_subjects"), sum(col("__tot")).as("__st"),
        sum(col("__tot") * col("__tot")).as("__stt"))
      .select(col("n_subjects"),
        when(col("n_subjects") > 1,
          (col("__stt") - col("__st") * col("__st")
            / col("n_subjects").cast("double"))
            / (col("n_subjects").cast("double") - 1.0)).as("__vt"))
    val k = lit(items.toDouble)
    totVar.crossJoin(itemVar)
      .select(col("n_subjects"), lit(items.toLong).as("k_items"),
        round(col("__sumItemVar"), 6).as("sum_item_var"),
        round(col("__vt"), 6).as("total_var"),
        round(when(col("__vt") > 0,
          k / (k - 1.0) * (lit(1.0) - col("__sumItemVar") / col("__vt"))),
          6).as("alpha"))
  }

  /** Lin's concordance correlation coefficient (public: Lin,
    * Biometrics'89) — agreement between two CONTINUOUS measurements of
    * the same items: CCC = 2·cov/(σx² + σy² + (μx − μy)²), Pearson r
    * discounted by the location shift (μx − μy) and the scale mismatch
    * (σx vs σy). The continuous face of this module's κ family: two
    * quality scorers can correlate at r = 0.99 and still disagree
    * systematically — CCC is the number that catches it. Uses Lin's
    * original population (n-denominator) moments.
    *
    * Scale shape: ONE aggregate of five moments; all outputs are
    * ratios/means of fixed magnitude, so the float sums' relative
    * error (~√n·ε) stays far below 6dp at any corpus size. Degenerate
    * denominator (both spreads zero AND equal means) yields null. */
  def linCcc(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
    val m = base.agg(count(lit(1)).as("n"),
      avg(col("__x")).as("__mx"), avg(col("__y")).as("__my"),
      avg(col("__x") * col("__x")).as("__mxx"),
      avg(col("__y") * col("__y")).as("__myy"),
      avg(col("__x") * col("__y")).as("__mxy"))
    val vx = col("__mxx") - col("__mx") * col("__mx")
    val vy = col("__myy") - col("__my") * col("__my")
    val cov = col("__mxy") - col("__mx") * col("__my")
    val dm = col("__mx") - col("__my")
    val den = vx + vy + dm * dm
    m.select(col("n"),
      round(col("__mx"), 6).as("mean_x"),
      round(col("__my"), 6).as("mean_y"),
      round(when(den > 0, lit(2.0) * cov / den), 6).as("ccc"),
      round(when(vx > 0 && vy > 0, cov / sqrt(vx * vy)), 6)
        .as("pearson_r"),
      // the bias-correction factor C_b = CCC / r isolates HOW the
      // scorers disagree: 1 = pure correlation loss, < 1 = systematic
      // location/scale shift
      round(when(vx > 0 && vy > 0 && cov =!= 0.0,
        (lit(2.0) * cov / den) / (cov / sqrt(vx * vy))), 6)
        .as("c_b"))
  }

  /** Bland–Altman limits of agreement (public: Bland & Altman, Lancet
    * '86 — THE method-comparison statistic): for paired measurements of
    * the same unit, the bias (mean difference), the limits
    * bias ± 1.96·sd, and the share of units falling outside them —
    * "can method B replace method A", which correlation famously cannot
    * answer (two methods can correlate at 0.99 and still disagree by a
    * constant). Input is a unit frame with two INTEGER-valued
    * measurement columns (counts, cents — the caller quantizes), so
    * every moment is an exact integer fold.
    *
    * Scale shape: one exact moment aggregate over the differences, the
    * 1-row limits broadcast back, one outside-count aggregate — two
    * passes, no window, no sort. */
  def blandAltman(units: DataFrame, m1Col: String, m2Col: String): DataFrame = {
    val d = (col(m1Col).cast("decimal(38,0)")
      - col(m2Col).cast("decimal(38,0)"))
    val base = units
      .filter(col(m1Col).isNotNull && col(m2Col).isNotNull)
      .select(d.as("__d"))
    val mom = base.agg(count(lit(1)).as("n"), sum(col("__d")).as("__s"),
      sum(col("__d") * col("__d")).as("__ss"))
    val nD = col("n").cast("double")
    val meanD = col("__s").cast("double") / nD
    val sdD = sqrt((col("n").cast("decimal(38,0)") * col("__ss")
      - col("__s") * col("__s")).cast("double") /
      (col("n") * (col("n") - 1)).cast("double"))
    // n > 1 guard: a single paired unit has no sd (0/0 → NaN, which
    // propagates into the limits and diverges across engines) — null
    // out sd, the limits, and the outside counts like the sibling
    // degenerate-count operators (cochranC, smdBalance)
    val lim = mom.select(col("n"), meanD.as("__m"),
      when(col("n") > 1, sdD).as("__sd"),
      when(col("n") > 1, meanD - lit(1.96) * sdD).as("__lo"),
      when(col("n") > 1, meanD + lit(1.96) * sdD).as("__hi"))
    base.crossJoin(broadcast(lim))
      .agg(max(col("n")).as("n"),
        round(max(col("__m")), 6).as("bias"),
        round(max(col("__sd")), 6).as("sd_diff"),
        round(max(col("__lo")), 6).as("loa_lower"),
        round(max(col("__hi")), 6).as("loa_upper"),
        when(max(col("n")) > 1,
          sum(when(col("__d").cast("double") < col("__lo")
            || col("__d").cast("double") > col("__hi"), 1L).otherwise(0L)))
          .as("n_outside"))
      .withColumn("pct_outside", round(col("n_outside").cast("double")
        / col("n").cast("double"), 6))
  }

  /** Borda-count rank aggregation (public: Borda 1781; the baseline
    * every rank-fusion paper compares against): each voter ranks the
    * candidates, a candidate earns (k − rank) points per ballot
    * (midrank on ties, so tied candidates split the points), and the
    * consensus is the point order. The multi-judge consensus beside
    * [[kendallW]]'s agreement COEFFICIENT — W says "do the voters
    * agree", Borda says "on what".
    *
    * Input is a (voter, candidate, score) frame — higher score = better.
    * Scale shape: rank-within-voter over the bounded voter×candidate
    * grid (the kendallW window contract), one candidate aggregate,
    * one final rank over the ≤k-row result. Midranks are dyadic, sums
    * exact. */
  def bordaCount(ballots: DataFrame, voterCol: String, candCol: String,
                 scoreCol: String): DataFrame = {
    val wv = Window.partitionBy(col(voterCol)).orderBy(col(scoreCol).desc)
    val ranked = ballots
      .filter(col(scoreCol).isNotNull)
      .withColumn("__minr", rank().over(wv))
      .withColumn("__ties", count(lit(1)).over(
        Window.partitionBy(col(voterCol), col(scoreCol))))
      .withColumn("__k", count(lit(1)).over(
        Window.partitionBy(col(voterCol))))
      // midrank -> points = k - midrank (tied candidates split points)
      .withColumn("__pts", col("__k").cast("double")
        - (col("__minr").cast("double")
          + (col("__ties") - 1).cast("double") / 2.0))
    ranked.groupBy(col(candCol))
      .agg(count(lit(1)).as("n_ballots"),
        round(sum(col("__pts")), 6).as("borda_points"))
      .withColumn("borda_rank", rank().over(
        Window.orderBy(col("borda_points").desc, col(candCol))))
  }
}
