package graft

import graft.operators.Joins
import org.apache.spark.sql.functions.col

/** Join-shaped operators: entity merge suffixing (reference/chat.py:119-132),
  * dedup-vs-destination (reference/manutencao.py:12-62), upsert (K3). */
class JoinsSpec extends SparkSuite {
  import spark.implicits._

  test("fullOuterMerge suffixes collisions and coalesces keys") {
    val chats = Seq(("10", "open"), ("11", "closed")).toDF("cust", "status")
    val tickets = Seq(("11", "Resolvido"), ("12", "Aberto")).toDF("cust2", "status")
    val out = Joins.fullOuterMerge(chats, tickets, "cust", "cust2")
    assert(out.columns.toSeq === Seq("merge_key", "status_chat", "status_ticket"))
    val rows = out.collect().map(r =>
      (r.getString(0), Option(r.getString(1)), Option(r.getString(2)))).toSet
    assert(rows === Set(
      ("10", Some("open"), None),
      ("11", Some("closed"), Some("Resolvido")),
      ("12", None, Some("Aberto"))))
  }

  test("dedupAgainst drops rows whose key exists in destination, per key") {
    val batch = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("n_ticket", "v")
    val dest = Seq((2L, "x")).toDF("n_ticket", "other")
    val out = Joins.dedupAgainst(batch, dest, Seq("n_ticket"))
    assert(out.select("n_ticket").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
  }

  test("dedupAgainst is idempotent") {
    val batch = Seq((1L, "a"), (2L, "b")).toDF("n_ticket", "v")
    val dest = Seq((2L, "x")).toDF("n_ticket", "other")
    val once = Joins.dedupAgainst(batch, dest, Seq("n_ticket"))
    val twice = Joins.dedupAgainst(once, dest, Seq("n_ticket"))
    assert(once.collect().toSet === twice.collect().toSet)
  }

  test("dedupAgainst ignores null destination keys") {
    val batch = Seq((1L, "a")).toDF("n_ticket", "v")
    val dest = Seq((Option.empty[Long], "x")).toDF("n_ticket", "other")
    assert(Joins.dedupAgainst(batch, dest, Seq("n_ticket")).count() === 1)
  }

  test("dedupAgainstBloom matches dedupAgainst exactly (incl. undersized sketch)") {
    // 200 batch rows, half already in the destination; expectedItems=8 is
    // far below the destination's 100 keys, saturating the sketch — the
    // false-positive rate climbs but the exact-join backstop keeps the
    // result bit-identical to the plain anti-join.
    val batch = (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v")
    val dest = (1L to 100L).map(i => (i * 2, "d")).toDF("k", "w")
    val exact = Joins.dedupAgainst(batch, dest, Seq("k")).collect().toSet
    val bloom = Joins.dedupAgainstBloom(batch, dest, Seq("k"),
      expectedItems = 8L).collect().toSet
    assert(bloom === exact)
    assert(bloom.size === 100)
  }

  test("dedupAgainstBloom: empty destination keeps the whole batch") {
    val batch = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val dest = Seq.empty[(Long, String)].toDF("k", "w")
    assert(Joins.dedupAgainstBloom(batch, dest, Seq("k")).count() === 2)
  }

  test("dedupAgainstBloom: null batch keys are kept (anti-join null semantics)") {
    val batch = Seq((Option(1L), "dup"), (Option.empty[Long], "nullkey"))
      .toDF("k", "v")
    val dest = Seq((1L, "d")).toDF("k", "w")
    val out = Joins.dedupAgainstBloom(batch, dest, Seq("k"))
    assert(out.select("v").as[String].collect().toSeq === Seq("nullkey"))
  }

  test("dedupAgainstBloom folds multiple key columns like dedupAgainst") {
    val batch = Seq((1L, "x", "a"), (2L, "y", "b"), (3L, "z", "c"))
      .toDF("k1", "k2", "v")
    val dest = Seq((2L, "nope"), (99L, "z")).toDF("k1", "k2")
    // dedupAgainst's using-joins move each key column first; compare on a
    // fixed projection since only the row SET is the contract.
    val exact = Joins.dedupAgainst(batch, dest, Seq("k1", "k2"))
      .select("k1", "k2", "v").collect().toSet
    val bloom = Joins.dedupAgainstBloom(batch, dest, Seq("k1", "k2"))
      .select("k1", "k2", "v").collect().toSet
    assert(bloom === exact)
    assert(bloom.map(_.getString(2)) === Set("a"))
  }

  test("upsert replaces matched keys and appends unmatched updates") {
    val dest = Seq((1L, "old"), (2L, "keep")).toDF("k", "v")
    val updates = Seq((1L, "new"), (9L, "ins")).toDF("k", "v")
    val out = Joins.upsert(dest, updates, "k").as[(Long, String)].collect().toSet
    assert(out === Set((1L, "new"), (2L, "keep"), (9L, "ins")))
  }

  test("diffSnapshots classifies insert/delete/update/unchanged, null-safe") {
    val oldSnap = Seq(
      (1L, Option("a")), (2L, Option("b")),
      (3L, Option.empty[String]), (4L, Option("gone"))).toDF("k", "v")
    val newSnap = Seq(
      (1L, Option("a")),            // unchanged
      (2L, Option("B")),            // update
      (3L, Option("now-set")),      // update: null -> value must be an update
      (5L, Option("fresh"))         // insert; 4 deleted
    ).toDF("k", "v")
    val out = Joins.diffSnapshots(oldSnap, newSnap, "k", Seq("v"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.getString(2))))).toMap
    assert(out === Map(
      1L -> (("unchanged", Some("a"))),
      2L -> (("update", Some("B"))),
      3L -> (("update", Some("now-set"))),
      4L -> (("delete", None)),
      5L -> (("insert", Some("fresh")))))
  }

  test("applyDiff(old, diffSnapshots(old, new)) reconstructs new exactly") {
    val oldSnap = Seq((1L, "a"), (2L, "b"), (4L, "gone"), (7L, "same"))
      .toDF("k", "v")
    val newSnap = Seq((1L, "a2"), (2L, "b"), (5L, "fresh"), (7L, "same"))
      .toDF("k", "v")
    val diff = Joins.diffSnapshots(oldSnap, newSnap, "k", Seq("v"))
    val rebuilt = Joins.applyDiff(oldSnap, diff, "k", Seq("v"))
    assert(rebuilt.collect().toSet === newSnap.collect().toSet)
  }

  test("unionSlices tolerates column drift") {
    val s1 = Seq((1L, "x")).toDF("k", "a")
    val s2 = Seq((2L, 5.0)).toDF("k", "b")
    val out = Joins.unionSlices(Seq(s1, s2))
    assert(out.columns.sorted.toSeq === Seq("a", "b", "k"))
    assert(out.count() === 2)
  }

  test("enrichLeftWithError keeps misses with the error marker (chat.py:234-236)") {
    val fact = Seq((1L, "t1"), (2L, "t2"), (3L, "t3")).toDF("num", "title")
    val dim = Seq((1L, "open"), (3L, "closed")).toDF("num", "status")
    val out = Joins.enrichLeftWithError(fact, dim, "num")
    assert(out.count() === 3, "misses must be kept, not dropped")
    val rows = out.select("num", "status", "error").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)))).toSet
    assert(rows === Set(
      (1L, Some("open"), None),
      (2L, None, Some("chat not found")),
      (3L, Some("closed"), None)))
  }

  test("enrichLeftWithError rejects an error-column collision") {
    val fact = Seq((1L, "boom")).toDF("num", "error")
    val dim = Seq((1L, "open")).toDF("num", "status")
    intercept[IllegalArgumentException] {
      Joins.enrichLeftWithError(fact, dim, "num")
    }
  }

  test("scd2Versions: chained validity windows, tie broken deterministically") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val updates = Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, "open"),
      (1L, t("2024-01-02 10:00:00"), 2L, "pending"),
      (1L, t("2024-01-02 10:00:00"), 3L, "closed"), // same instant: tie on id
      (2L, t("2024-01-05 09:00:00"), 4L, "open")
    ).toDF("k", "ts", "id", "status")
    val out = Joins.scd2Versions(updates, "k", "ts", "id")
      .select("id", "valid_to", "is_current").collect()
      .map(r => r.getLong(0) -> ((Option(r.getTimestamp(1)), r.getBoolean(2)))).toMap
    assert(out(1L) === ((Some(t("2024-01-02 10:00:00")), false)))
    assert(out(2L) === ((Some(t("2024-01-02 10:00:00")), false)),
      "tie: id 2 versions before id 3")
    assert(out(3L) === ((None, true)))
    assert(out(4L) === ((None, true)), "each key has its own current version")
  }

  test("rangeJoinBucketed: exact containment incl. boundaries, no dup pairs") {
    val points = Seq(0L, 5L, 10L, 15L, 23L, 99L).toDF("pt")
    val intervals = Seq(
      ("a", 5L, 15L),   // spans buckets 0..1 (width 10); catches 5,10,15
      ("b", 10L, 10L),  // degenerate single-point interval
      ("c", 0L, 23L),   // spans 3 buckets
      ("d", 50L, 40L)   // hi < lo → dropped
    ).toDF("name", "lo", "hi")
    val out = Joins.rangeJoinBucketed(points, "pt", intervals, "lo", "hi", 10L)
      .select("name", "pt").as[(String, Long)].collect().toSeq
    assert(out.length === out.distinct.length, "each pair appears exactly once")
    assert(out.toSet === Set(
      ("a", 5L), ("a", 10L), ("a", 15L),
      ("b", 10L),
      ("c", 0L), ("c", 5L), ("c", 10L), ("c", 15L), ("c", 23L)))
  }

  test("rangeJoinBucketed matches a plain inequality join on random data") {
    val points = (1L to 300L).map(i => i * 7 % 200).toDF("pt")
    val intervals = (1L to 40L).map(i => (i, (i * 13) % 150, (i * 13) % 150 + (i % 25)))
      .toDF("iv_id", "lo", "hi")
    val bucketed = Joins.rangeJoinBucketed(points, "pt", intervals, "lo", "hi", 8L)
      .groupBy("iv_id").count()
    val naive = points.join(intervals,
        col("pt") >= col("lo") && col("pt") <= col("hi"))
      .groupBy("iv_id").count()
    assert(bucketed.exceptAll(naive).count() === 0)
    assert(naive.exceptAll(bucketed).count() === 0)
  }

  test("empty-input guard shape: empty frame with expected schema unions cleanly") {
    // reference/main.py:73-83: one empty source → synthesize empty DF
    val s1 = Seq((1L, "x")).toDF("k", "a")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s1.schema)
    assert(Joins.unionSlices(Seq(s1, empty)).count() === 1)
  }

  test("maintainAgg: incremental state equals full recompute; zero-count keys retire") {
    import org.apache.spark.sql.functions._
    val base = Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("k", "v")
    val baseAgg = base.groupBy($"k")
      .agg(count(lit(1)).as("cnt"), sum($"v").as("sum_val"))
    // insert into a, delete b entirely, insert a brand-new key c
    val delta = Seq(("a", "I", 30L), ("b", "D", 5L), ("c", "I", 7L))
      .toDF("k", "op", "v")
    val out = Joins.maintainAgg(baseAgg, delta, "k", "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map("a" -> ((3L, 60L)), "c" -> ((1L, 7L))))
    // contract: maintainAgg(agg(base), delta) == agg(base patched by delta)
    val patched = Seq(("a", 10L), ("a", 20L), ("a", 30L), ("c", 7L))
      .toDF("k", "v")
    val full = patched.groupBy($"k")
      .agg(count(lit(1)).as("cnt"), sum($"v").as("sum_val")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === full)
  }

  test("maintainAgg: a null group key folds into the base state, not a forked row") {
    import org.apache.spark.sql.functions._
    val base = Seq((Some("a"), 10L), (None, 5L), (None, 3L)).toDF("k", "v")
    val baseAgg = base.groupBy($"k")
      .agg(count(lit(1)).as("cnt"), sum($"v").as("sum_val"))
    val delta = Seq((Option.empty[String], "I", 2L)).toDF("k", "op", "v")
    val out = Joins.maintainAgg(baseAgg, delta, "k", "v").collect()
      .map(r => Option(r.getString(0)) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.size === 2)
    assert(out(None) === ((3L, 10L)), s"null-key state must merge: $out")
    assert(out(Some("a")) === ((1L, 10L)))
  }

  test("maintainAgg: unknown op fails loudly instead of skewing state") {
    import org.apache.spark.sql.functions._
    val baseAgg = Seq(("a", 1L, 10L)).toDF("k", "cnt", "sum_val")
    val bad = Seq(("a", "UPSERT", 1L)).toDF("k", "op", "v")
    val ex = intercept[Exception] {
      Joins.maintainAgg(baseAgg, bad, "k", "v").collect()
    }
    assert(ex.getMessage != null)
  }

  test("AQE splits a skewed sort-merge join at runtime; saltedJoin matches it bit-for-bit") {
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      // force a shuffle join: AQE skew handling never applies to broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      val pad = "x" * 64
      // 90% of rows share key 0 → one shuffle partition ~18k × ~80B,
      // far past the 16k threshold and 2× the median
      val big = spark.range(0, 20000).select(
        org.apache.spark.sql.functions.when($"id" < 18000, 0L)
          .otherwise($"id" % 100).as("key"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit(pad), $"id").as("payload"))
      val small = spark.range(0, 100).select($"id".as("key"), ($"id" * 2).as("v"))

      val joined = big.join(small, Seq("key"))
      val rows = joined.collect()
      assert(rows.length === 20000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true") || finalPlan.contains("isSkewJoin=true"),
        s"expected AQE to mark the SMJ as skew-handled; got:\n$finalPlan")

      // identity contract: saltedJoin produces exactly the plain join's
      // result — it's a physical-distribution rewrite, not a semantic one
      val salted = Joins.saltedJoin(big, small, "key", buckets = 8)
      assert(salted.collect().map(_.toSeq).toSet === rows.map(_.toSeq).toSet)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("joinCardEstimate: histogram count is exact, independence formula matches") {
    val left = Seq(1L, 1L, 2L, 3L).toDF("lk")
    val right = Seq(1L, 2L, 2L, 4L).toDF("rk")
    val r = Joins.joinCardEstimate(left, "lk", right, "rk").collect().head
    assert(r.getLong(0) === 4L && r.getLong(1) === 4L)
    assert(r.getLong(2) === 3L && r.getLong(3) === 3L)
    assert(r.getDouble(4) === 5.333333)        // 4·4/3
    assert(r.getLong(5) === 4L)                // 2·1 + 1·2
    assert(r.getDouble(6) === 1.333333)
    // disjoint keys: actual 0, ratio null
    val disjoint = Joins.joinCardEstimate(left, "lk",
      Seq(9L).toDF("rk"), "rk").collect().head
    assert(disjoint.getLong(5) === 0L && disjoint.isNullAt(6))
  }
}
