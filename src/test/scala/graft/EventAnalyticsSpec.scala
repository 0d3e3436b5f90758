package graft

import graft.operators.EventAnalytics
import org.apache.spark.sql.functions.col
import java.sql.Timestamp

/** Event-behavior analytics (SURVEY.md §2b): transitions, funnels,
  * cohort retention — hand-computed expectations on a constructed log. */
class EventAnalyticsSpec extends SparkSuite {
  import spark.implicits._

  private def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  // user 1: view → click → purchase (full funnel)
  // user 2: view → purchase → click (purchase BEFORE click: depth 2 only)
  // user 3: click only (never enters the view funnel)
  // user 4: view only (depth 1)
  private def events = Seq(
    (1L, ts(1), 1L, "view"), (1L, ts(2), 2L, "click"), (1L, ts(3), 3L, "purchase"),
    (2L, ts(1), 4L, "view"), (2L, ts(2), 5L, "purchase"), (2L, ts(3), 6L, "click"),
    (3L, ts(1), 7L, "click"),
    (4L, ts(5), 8L, "view")
  ).toDF("user_id", "ts", "event_id", "event_type")

  test("funnelSteps: strict ordering, partial depths, non-entrants excluded") {
    val out = EventAnalytics.funnelSteps(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .as[(Long, Long)].collect().toMap
    // user1 → 3 steps, user2 → 2 (purchase precedes click), user4 → 1;
    // user3 never did 'view' → absent
    assert(out === Map(3L -> 1L, 2L -> 1L, 1L -> 1L))
  }

  test("transitionCounts: lag pairs per user, first events excluded") {
    val out = EventAnalytics.transitionCounts(events,
        "user_id", "ts", "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      ("view", "click") -> 1L,
      ("click", "purchase") -> 1L,
      ("view", "purchase") -> 1L,
      ("purchase", "click") -> 1L))
  }

  test("cohortRetention: same-day cohort, distinct users per offset") {
    val d1 = Timestamp.valueOf("2024-01-01 09:00:00")
    val d2 = Timestamp.valueOf("2024-01-02 23:00:00")
    val d3 = Timestamp.valueOf("2024-01-03 01:00:00")
    val ev = Seq(
      (1L, d1), (1L, d2), (1L, d2),  // active day 0 and 1 (dup same day)
      (2L, d2), (2L, d3)             // cohort Jan 2, active offsets 0 and 1
    ).toDF("user_id", "ts")
    val out = EventAnalytics.cohortRetention(ev, "user_id", "ts")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out === Map(
      ("2024-01-01 00:00:00.0", 0L) -> 1L,
      ("2024-01-01 00:00:00.0", 1L) -> 1L,
      ("2024-01-02 00:00:00.0", 0L) -> 1L,
      ("2024-01-02 00:00:00.0", 1L) -> 1L))
  }

  test("eventSequences: exact motif counts, short streams contribute none") {
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val events = Seq(
      (1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"), (1L, ts(3), 3L, "c"),
      (1L, ts(4), 4L, "a"), (1L, ts(5), 5L, "b"), (1L, ts(6), 6L, "c"),
      (2L, ts(1), 7L, "a"), (2L, ts(2), 8L, "b")   // too short for n=3
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = EventAnalytics.eventSequences(events,
        "user_id", "ts", "event_id", "event_type", n = 3, topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // user 1 stream abcabc: windows abc, bca, cab, abc
    assert(out === Map("a>b>c" -> 2L, "b>c>a" -> 1L, "c>a>b" -> 1L),
      out.toString)
    intercept[IllegalArgumentException](EventAnalytics.eventSequences(
      events, "user_id", "ts", "event_id", "event_type", 1, 10))
  }

  test("eventSequences: a null type mid-window kills the window, not the separator") {
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // stream a, NULL, c, a: every 3-window contains the null → no motifs
    // (concat_ws would silently have emitted the truncated "a>c" and
    // "c>a" as fake 3-grams); 2-windows away from the null still count
    val events = Seq(
      (1L, ts(1), 1L, Option("a")), (1L, ts(2), 2L, Option.empty[String]),
      (1L, ts(3), 3L, Option("c")), (1L, ts(4), 4L, Option("a"))
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out3 = EventAnalytics.eventSequences(events,
        "user_id", "ts", "event_id", "event_type", n = 3, topK = 10)
      .collect()
    assert(out3.isEmpty, out3.mkString(","))
    val out2 = EventAnalytics.eventSequences(events,
        "user_id", "ts", "event_id", "event_type", n = 2, topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out2 === Map("c>a" -> 1L), out2.toString)
  }

  test("timeDecayAttribution: dyadic half-life credits, window + bounds") {
    def ts(s: String) = Timestamp.valueOf(s)
    // user 1 purchase at 10:00; touches at 09:50 (Δ10m → w=1),
    // 08:30 (Δ90m → 1 half-life → w=1/2), 05:00 (outside 4h lookback),
    // 10:05 (after conversion — excluded). credits: 1/(3/2)=2/3, (1/2)/(3/2)=1/3
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), "purchase"),
      (1L, ts("2024-01-01 09:50:00"), "click"),
      (1L, ts("2024-01-01 08:30:00"), "view"),
      (1L, ts("2024-01-01 05:00:00"), "click"),
      (1L, ts("2024-01-01 10:05:00"), "click"),
      (2L, ts("2024-01-01 12:00:00"), "purchase")  // no touches → no rows
    ).toDF("user_id", "ts", "event_type")
    val out = EventAnalytics.timeDecayAttribution(events, "user_id", "ts",
        "event_type", "purchase", Seq("click", "view"),
        lookbackMinutes = 240, halfLifeMinutes = 60)
      .collect().map(r => (r.getLong(0), r.getTimestamp(2)) ->
        ((r.getString(3), r.getDouble(4)))).toMap
    assert(out.size === 2, out.toString)
    assert(out((1L, ts("2024-01-01 09:50:00"))) === (("click", 0.666667)))
    assert(out((1L, ts("2024-01-01 08:30:00"))) === (("view", 0.333333)))
    // per-conversion credits sum to 1 (within the 6dp round)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 2e-6)
    intercept[IllegalArgumentException](
      EventAnalytics.timeDecayAttribution(events, "user_id", "ts",
        "event_type", "purchase", Seq("purchase"), 240, 60))

    // at-least-once replay: duplicating the whole feed changes nothing
    val replayed = EventAnalytics.timeDecayAttribution(
        events.unionAll(events), "user_id", "ts",
        "event_type", "purchase", Seq("click", "view"), 240, 60)
      .collect().map(r => (r.getLong(0), r.getTimestamp(2)) ->
        ((r.getString(3), r.getDouble(4)))).toMap
    assert(replayed === out, replayed.toString)
  }

  test("kaplanMeier: hand-checked product-limit steps, exhaustion pins S to 0") {
    // u1: dies day0; u2: censored day2; u3: dies day2; u4: dies day5
    val ev = Seq(
      (1L, "2024-01-01 09:00:00", 1L, "purchase"),
      (2L, "2024-01-01 09:00:00", 2L, "view"),
      (2L, "2024-01-03 09:00:00", 3L, "error"),
      (3L, "2024-01-01 09:00:00", 4L, "view"),
      (3L, "2024-01-03 09:00:00", 5L, "purchase"),
      (4L, "2024-01-01 09:00:00", 6L, "view"),
      (4L, "2024-01-06 09:00:00", 7L, "purchase")
    ).toDF("user_id", "s", "event_id", "event_type")
      .withColumn("ts", col("s").cast("timestamp")).drop("s")
    val out = EventAnalytics.kaplanMeier(ev, "user_id", "ts", "event_id",
      "event_type", "purchase")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // S(0) = 3/4; S(2) = 3/4 · 2/3 = 1/2; S(5): d = n_risk → exactly 0
    assert(out === Map(
      0L -> ((4L, 1L, 0L, 0.75)),
      2L -> ((3L, 1L, 1L, 0.5)),
      5L -> ((1L, 1L, 0L, 0.0))))
  }

  test("nelsonAalen: hand-computed cumulative hazard, KM-identical risk grid") {
    // u1: dies day0; u2: censored day2; u3: dies day2 ->
    // H(0) = 1/3, H(2) = 1/3 + 1/2; var 1/9, 1/9 + 1/4
    val ev = Seq(
      (1L, "2024-01-01 09:00:00", 1L, "purchase"),
      (2L, "2024-01-01 09:00:00", 2L, "view"),
      (2L, "2024-01-03 09:00:00", 3L, "error"),
      (3L, "2024-01-01 09:00:00", 4L, "view"),
      (3L, "2024-01-03 09:00:00", 5L, "purchase")
    ).toDF("user_id", "s", "event_id", "event_type")
      .withColumn("ts", col("s").cast("timestamp")).drop("s")
    val out = EventAnalytics.nelsonAalen(ev, "user_id", "ts", "event_id",
      "event_type", "purchase")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(out === Map(
      0L -> ((3L, 1L, 0L, 0.333333, 0.111111, 0.716531)),
      2L -> ((2L, 1L, 1L, 0.833333, 0.361111, 0.434598))))
  }

  test("kaplanMeier/nelsonAalen: empty events give no rows; one terminal event one step") {
    val empty = Seq.empty[(Long, Timestamp, Long, String)]
      .toDF("user_id", "ts", "event_id", "event_type")
    for (f <- Seq(EventAnalytics.kaplanMeier _, EventAnalytics.nelsonAalen _))
      assert(f(empty, "user_id", "ts", "event_id", "event_type", "purchase")
        .collect().isEmpty)
    // one user whose only event is terminal: a day-0 death, n_risk 1
    val one = Seq((1L, ts(1), 1L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val km = EventAnalytics.kaplanMeier(one, "user_id", "ts", "event_id",
      "event_type", "purchase").collect()
    assert(km.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))).toSeq === Seq((0L, 1L, 1L, 0L, 0.0)))
    val na = EventAnalytics.nelsonAalen(one, "user_id", "ts", "event_id",
      "event_type", "purchase").collect()
    assert(na.map(r => (r.getLong(0), r.getLong(1), r.getDouble(4),
      r.getDouble(5), r.getDouble(6))).toSeq ===
      Seq((0L, 1L, 1.0, 1.0, 0.367879)))
    // a lone censored lifetime has no event time: no step at all
    val censored = Seq((1L, ts(1), 1L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
    assert(EventAnalytics.kaplanMeier(censored, "user_id", "ts", "event_id",
      "event_type", "purchase").collect().isEmpty)
    assert(EventAnalytics.nelsonAalen(censored, "user_id", "ts", "event_id",
      "event_type", "purchase").collect().isEmpty)
  }

  test("associationRules: hand-checked support/confidence/lift, duplicates collapse") {
    // u1:{a,b}, u2:{a,b,c}, u3:{a} — the repeated (u1,a) row must not count twice
    val ev = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"),
      (2L, "c"), (3L, "a")).toDF("user_id", "event_type")
    val out = EventAnalytics.associationRules(ev, "user_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7)))).toMap
    assert(out.size === 6)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a→b: 2 of 3 users, conf 2/3, lift exactly 1 (independent given coverage)
    assert(out(("a", "b")) ===
      ((3L, 2L, 2L, r6(2.0 / 3), r6(2.0 / 3), 1.0)))
    // c→b: conf 1, lift (1/3)/((1/3)(2/3)) = 1.5
    assert(out(("c", "b")) === ((1L, 2L, 1L, r6(1.0 / 3), 1.0, 1.5)))
  }

  test("rfm: quantile-threshold scores, anchor from corpus max day") {
    // five users, one event each except u5 (3 events, biggest spend,
    // most recent); recency in whole days from the newest day
    def d(day: Int, min: Int) =
      Timestamp.valueOf(f"2024-02-$day%02d 10:$min%02d:00")
    val ev = Seq(
      (1L, d(1, 0), 10.0), (2L, d(2, 0), 20.0), (3L, d(3, 0), 30.0),
      (4L, d(4, 0), 40.0),
      (5L, d(5, 0), 25.0), (5L, d(5, 30), 25.0), (5L, d(5, 45), 25.0)
    ).toDF("user_id", "ts", "value")
    val out = EventAnalytics.rfm(ev, "user_id", "ts", "value")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 5)
    // recency: u1=4 days … u5=0 days; u5 most recent+frequent+top spend
    assert(out(1L).getLong(1) === 4L && out(5L).getLong(1) === 0L)
    assert(out(5L).getLong(2) === 3L && out(5L).getDouble(3) === 75.0)
    assert(out(5L).getInt(4) === 5 && out(5L).getInt(5) === 5 &&
      out(5L).getInt(6) === 5 && out(5L).getString(7) === "555")
    // u1: least recent (score 1), tied-low frequency, lowest monetary
    assert(out(1L).getInt(4) === 1 && out(1L).getInt(6) === 1 &&
      out(1L).getString(7) === "111")
    // frequency ties (u1-u4 all 1 event) share the low score bucket
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_).getInt(5) === 1))
    // scores stay within 1..5
    assert(out.values.forall(r =>
      (4 to 6).forall(i => r.getInt(i) >= 1 && r.getInt(i) <= 5)))
  }

  test("interArrivalStats: exact second gaps; single-event users dropped") {
    def t(sec: Int) = Timestamp.valueOf(
      f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    val ev = Seq(
      (1L, t(0), 1L), (1L, t(10), 2L), (1L, t(40), 3L), (1L, t(100), 4L),
      (2L, t(5), 5L),
      (3L, t(0), 6L), (3L, t(7), 7L)
    ).toDF("user_id", "ts", "event_id")
    val out = EventAnalytics.interArrivalStats(ev, "user_id", "ts", "event_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    // u1 gaps: 10,30,60 → mean 100/3 (composed exactly as the engine
    // does: micro mean first, ÷10⁶ second), median 30, max 60
    assert(out(1L).getLong(1) === 3L)
    assert(out(1L).getDouble(2) === (100000000.0 / 3.0) / 1000000.0)
    assert(out(1L).getDouble(3) === 30.0 && out(1L).getDouble(4) === 60.0)
    // u3: one gap of 7s → all stats 7
    assert(out(3L).getDouble(2) === 7.0 && out(3L).getDouble(3) === 7.0)
    // u2 has a single event → no gaps → absent
    assert(!out.contains(2L))
    // tie order: same-ts events ordered by event_id
    val tie = Seq((9L, t(0), 2L), (9L, t(0), 1L), (9L, t(5), 3L))
      .toDF("user_id", "ts", "event_id")
    val tr = EventAnalytics.interArrivalStats(tie, "user_id", "ts", "event_id")
      .collect().head
    assert(tr.getLong(1) === 2L && tr.getDouble(4) === 5.0) // gaps 0,5
  }

  test("stationaryDistribution: two-state chain converges to exact pi") {
    // chain: a→b always, b→a 1/2, b→b 1/2 → π = (1/3, 2/3)
    // build per-user streams that realize those transition counts:
    // u1: a b b a b ; u2: a b a b b  → counts: a→b 4, b→a 2, b→b 2
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val ev = Seq(
      (1L, t(1), 1L, "a"), (1L, t(2), 2L, "b"), (1L, t(3), 3L, "b"),
      (1L, t(4), 4L, "a"), (1L, t(5), 5L, "b"),
      (2L, t(1), 6L, "a"), (2L, t(2), 7L, "b"), (2L, t(3), 8L, "a"),
      (2L, t(4), 9L, "b"), (2L, t(5), 10L, "b")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = EventAnalytics.stationaryDistribution(ev, "user_id", "ts",
        "event_id", "event_type", iters = 40)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(out("a") - 1.0 / 3) < 1e-6, out.toString)
    assert(math.abs(out("b") - 2.0 / 3) < 1e-6, out.toString)

    // absorbing state keeps its mass via the implicit self-loop:
    // a→b, b has no outgoing edge → all mass ends on b
    val abs = Seq((1L, t(1), 1L, "a"), (1L, t(2), 2L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val pa = EventAnalytics.stationaryDistribution(abs, "user_id", "ts",
        "event_id", "event_type", iters = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pa("b") === 1.0 && pa("a") === 0.0, pa.toString)

    // transition-less type (a single-event user's sole event) is a real
    // state: it surfaces with its empirical share and keeps its
    // uniform-start mass via the self-loop — a→b drains a, b and c hold
    val tl = Seq((1L, t(1), 1L, "a"), (1L, t(2), 2L, "b"),
      (3L, t(1), 3L, "c")).toDF("user_id", "ts", "event_id", "event_type")
    val po = EventAnalytics.stationaryDistribution(tl, "user_id", "ts",
        "event_id", "event_type", iters = 8).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(po.keySet === Set("a", "b", "c"), po.toString)
    assert(po("c") === ((0.333333, 0.333333)), po.toString)
    assert(po("a")._1 === 0.0 && po("b")._1 === 0.666667, po.toString)
  }

  test("conversionLatency: strictly-after rule, exact latency stats") {
    def t(sec: Int) = Timestamp.valueOf(
      f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    // u1: view → purchase 10 s later (converts, 10 s)
    // u2: view only (no conversion)
    // u3: purchase BEFORE its only view (strictly-after ⇒ no conversion)
    // u4: view → purchase 30 s later (converts, 30 s)
    val ev = Seq(
      ("g", 1L, t(0), "view"), ("g", 1L, t(10), "purchase"),
      ("g", 2L, t(0), "view"),
      ("g", 3L, t(5), "purchase"), ("g", 3L, t(6), "view"),
      ("g", 4L, t(0), "view"), ("g", 4L, t(30), "purchase")
    ).toDF("grp", "user_id", "ts", "event_type")
    val r = EventAnalytics.conversionLatency(ev, "grp", "user_id", "ts",
        "view", "purchase").collect().head
    assert(r.getLong(1) === 4L && r.getLong(2) === 2L)
    assert(r.getDouble(3) === 0.5)
    assert(r.getDouble(4) === 20.0) // p50 of {10,30}
    assert(r.getDouble(6) === 20.0) // mean
    // a user whose purchase ties the first view's timestamp exactly
    // does NOT convert (strictly after)
    val tie = Seq(("g", 9L, t(0), "view"), ("g", 9L, t(0), "purchase"))
      .toDF("grp", "user_id", "ts", "event_type")
    val rt = EventAnalytics.conversionLatency(tie, "grp", "user_id", "ts",
        "view", "purchase").collect().head
    assert(rt.getLong(1) === 1L && rt.getLong(2) === 0L)
  }

  test("markovEntropy: deterministic states, hand-checked mixed state") {
    // u1: A B A B → A→B ×2, B→A ×1; u2: B A → B→A ×1; u3: A C → A→C ×1
    // state A: {B:2, C:1} → h = ln3 − 2ln2/3; state B: {A:2} → h = 0
    // h_rate = 3·h_A/5; marginal dst {B:2, A:2, C:1} →
    // h_marg = ln5 − 4ln2/5
    val ev = Seq(
      (1L, ts(1), 1L, "A"), (1L, ts(2), 2L, "B"),
      (1L, ts(3), 3L, "A"), (1L, ts(4), 4L, "B"),
      (2L, ts(1), 5L, "B"), (2L, ts(2), 6L, "A"),
      (3L, ts(1), 7L, "A"), (3L, ts(2), 8L, "C")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = EventAnalytics.markovEntropy(ev, "user_id", "ts",
      "event_id", "event_type").collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("A", "B"))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val hA = math.log(3.0) - 2.0 * math.log(2.0) / 3.0
    assert(out("A").getLong(1) === 3L && out("B").getLong(1) === 2L)
    assert(out("A").getDouble(2) === r6(hA))
    assert(out("B").getDouble(2) === 0.0)
    val hRate = 3.0 * hA / 5.0
    val hMarg = math.log(5.0) - (2.0 * math.log(2.0)
      + 2.0 * math.log(2.0)) / 5.0
    assert(out("A").getDouble(3) === r6(hRate))
    assert(out("A").getDouble(4) === r6(hMarg))
    assert(out("A").getDouble(5) === r6(hMarg - hRate))
  }

  test("captureRecapture: hand-checked Chapman estimate") {
    // 4 users before only, 2 in both windows, 3 after only:
    // n1=6, n2=5, m=2 → N̂ = 7·6/3 − 1 = 13; SE = √(7·6·4·3/(9·4)) = √14
    val before = (1 to 6).map(u =>
      (u.toLong, Timestamp.valueOf("2024-01-05 10:00:00")))
    val after = (5 to 9).map(u =>
      (u.toLong, Timestamp.valueOf("2024-01-20 10:00:00")))
    val ev = (before ++ after).toDF("user_id", "t")
    val r = EventAnalytics.captureRecapture(ev, "user_id", "t",
      "2024-01-16 00:00:00").collect().head
    assert(r.getLong(0) === 6L && r.getLong(1) === 5L && r.getLong(2) === 2L)
    assert(r.getDouble(3) === 13.0)
    assert(r.getDouble(4) === BigDecimal(math.sqrt(14.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("logRank: hand-checked O/E/V ladder, symmetric zero") {
    import org.apache.spark.sql.functions.col
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // A: events at 1,3; B: event at 2, censored at 4.
    // t=1: n=4, E=½, V=¼; t=2: n=3, E=⅓, V=2⁄9; t=3: n=2, E=½, V=¼
    // O_A=2, E_A=4/3, ΣV=13/18 → z = (2/3)/√(13/18)
    val units = Seq(("a", 1L, true), ("a", 3L, true),
      ("b", 2L, true), ("b", 4L, false)).toDF("g", "dur", "ev")
    val r = EventAnalytics.logRank(units, "g", "dur", col("ev"), "a", "b")
      .collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getLong(2) === 2L)
    assert(r.getDouble(3) === r6(4.0 / 3.0))
    val sv = 0.25 + 2.0 / 9.0 + 0.25
    assert(r.getDouble(4) === r6((2.0 - 4.0 / 3.0) / math.sqrt(sv)))
    assert(r.getDouble(5) ===
      r6((2.0 - 4.0 / 3.0) * (2.0 - 4.0 / 3.0) / sv))
    // identical curves → O = E at every time → z = 0 exactly
    val same = Seq(("a", 1L, true), ("a", 2L, true),
      ("b", 1L, true), ("b", 2L, true)).toDF("g", "dur", "ev")
    val s = EventAnalytics.logRank(same, "g", "dur", col("ev"), "a", "b")
      .collect().head
    assert(s.getDouble(4) === 0.0 && s.getDouble(5) === 0.0)
  }
}
