package graft

import graft.operators.Sinks
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

class SinksSpec extends SparkSuite {
  import spark.implicits._

  private def tempPath(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-sink-").toFile
    d.deleteOnExit()
    new java.io.File(d, "dest").getAbsolutePath
  }

  private val seed = StructType(Seq(
    StructField("chat_id", StringType), StructField("n_ticket", StringType)))

  test("createIfMissing creates once with the seed schema") {
    val path = tempPath()
    assert(Sinks.createIfMissing(spark, path, seed))
    assert(!Sinks.createIfMissing(spark, path, seed)) // second call: no-op
    val dest = Sinks.readEvolved(spark, path)
    assert(dest.schema.fieldNames.toSeq === Seq("chat_id", "n_ticket"))
    assert(dest.count() === 0)
  }

  /** A destination created with the seed schema, then two appends, the
    * second bringing a NEW column (ALLOW_FIELD_ADDITION). */
  private def evolvedDestination(): String = {
    val path = tempPath()
    Sinks.createIfMissing(spark, path, seed)
    Sinks.appendEvolving(Seq(("c1", "t1")).toDF("chat_id", "n_ticket"), path)
    Sinks.appendEvolving(
      Seq(("c2", "t2", "open")).toDF("chat_id", "n_ticket", "status"), path)
    path
  }

  test("appendEvolving + readEvolved: union schema, null backfill") {
    val dest = Sinks.readEvolved(spark, evolvedDestination())
    assert(dest.schema.fieldNames.toSet === Set("chat_id", "n_ticket", "status"))
    assert(dest.count() === 2)
    val byChat = dest.collect().map(r =>
      r.getString(r.fieldIndex("chat_id")) ->
        Option(r.get(r.fieldIndex("status")))).toMap
    assert(byChat("c1") === None)          // old rows: new column null
    assert(byChat("c2") === Some("open"))
  }

  test("appendAtomic: torn writes invisible, replay idempotent, schema evolves") {
    val root = tempPath()
    // a tab or newline in the id would corrupt the tab-separated snapshot
    // registry on compaction — rejected up front
    intercept[IllegalArgumentException](Sinks.appendAtomic(
      Seq(("x", "y")).toDF("chat_id", "n_ticket"), root, "b\t1"))
    assert(Sinks.appendAtomic(
      Seq(("c1", "t1")).toDF("chat_id", "n_ticket"), root, "b1"))

    // a writer that died mid-job: partial garbage part-file in an
    // UNPUBLISHED batch dir (no manifest) + an in-progress manifest —
    // a directory-listing reader would scan the garbage and crash
    val crashed = new java.io.File(s"$root/data/b2", "part-00000.parquet")
    crashed.getParentFile.mkdirs()
    java.nio.file.Files.write(crashed.toPath,
      "not a parquet file".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/_manifests/.b2.inprogress"),
      "data/b2/part-00000.parquet".getBytes("UTF-8"))
    // the manifest view is clean while the torn write is on disk
    assert(Sinks.readCommitted(spark, root).count() === 1)
    intercept[Exception](
      spark.read.parquet(s"$root/data/b2").collect()) // listing would die

    // replaying a COMMITTED batch id is a no-op skip
    assert(!Sinks.appendAtomic(
      Seq(("dup", "dup")).toDF("chat_id", "n_ticket"), root, "b1"))
    assert(Sinks.readCommitted(spark, root).count() === 1)

    // retry of the crashed batch under its own id rewrites + publishes
    assert(Sinks.appendAtomic(
      Seq(("c2", "t2", "open")).toDF("chat_id", "n_ticket", "status"),
      root, "b2"))
    val dest = Sinks.readCommitted(spark, root)
    assert(dest.schema.fieldNames.toSet === Set("chat_id", "n_ticket", "status"))
    assert(dest.count() === 2)
    val byChat = dest.collect().map(r =>
      r.getString(r.fieldIndex("chat_id")) ->
        Option(r.get(r.fieldIndex("status")))).toMap
    assert(byChat("c1") === None && byChat("c2") === Some("open"))
  }

  test("appendAtomic: race loser commits nothing and cleans up after itself") {
    val root = tempPath()
    assert(Sinks.appendAtomic(
      Seq(("c1", "t1")).toDF("chat_id", "n_ticket"), root, "b1"))
    // force a second attempt of the SAME batch id past the fast-path
    // check — the zombie-driver interleaving: it writes its attempt dir,
    // writes its manifest temp, then LOSES the publish rename
    assert(!Sinks.appendAtomicAttempt(
      Seq(("zombie", "z1")).toDF("chat_id", "n_ticket"), root, "b1",
      fastPathCheck = false))
    val dest = Sinks.readCommitted(spark, root)
    assert(dest.count() === 1)
    assert(dest.collect().head.getString(0) === "c1",
      "the winner's rows, never the zombie's")
    // the loser removed its own attempt dir and manifest temp
    val dataDirs = new java.io.File(s"$root/data").listFiles().map(_.getName)
    assert(dataDirs.length === 1 && dataDirs.head.startsWith("b1-"))
    val temps = new java.io.File(s"$root/_manifests").listFiles()
      .map(_.getName).filter(_.endsWith(".inprogress"))
    assert(temps.isEmpty)
  }

  test("appendAtomic: concurrent same-batch attempts — exactly one publishes") {
    (1 to 3).foreach { round =>
      val root = tempPath()
      val dfA = Seq(("a", "tA")).toDF("chat_id", "n_ticket")
      val dfB = Seq(("b", "tB")).toDF("chat_id", "n_ticket")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val gate = new java.util.concurrent.CountDownLatch(1)
      def attempt(df: org.apache.spark.sql.DataFrame) =
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            gate.await()
            // skip the fast path so both racers really reach the commit
            Sinks.appendAtomicAttempt(df, root, s"race-$round",
              fastPathCheck = false)
          }
        })
      val (fa, fb) = (attempt(dfA), attempt(dfB))
      gate.countDown()
      val (ra, rb) = (fa.get(), fb.get())
      pool.shutdown()
      assert(ra ^ rb, s"exactly one attempt must win (got $ra/$rb)")
      val dest = Sinks.readCommitted(spark, root)
      assert(dest.count() === 1, "one committed copy, never torn/merged")
      val winner = dest.collect().head.getString(0)
      assert(winner === (if (ra) "a" else "b"),
        "the committed rows belong to the attempt that reported success")
    }
  }

  test("appendAtomic stress: racing writers over many batch ids, exactly-once each") {
    val root = tempPath()
    val ids = (1 to 5).map(i => s"sb$i")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val gate = new java.util.concurrent.CountDownLatch(1)
    // 3 writers per id with DISTINCT payloads; a mix of fast-path-checked
    // and forced-through attempts (the zombie shape)
    val futures = for (id <- ids; t <- 1 to 3) yield {
      val payload = s"$id-w$t"
      (id, payload, pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          gate.await()
          Sinks.appendAtomicAttempt(
            Seq((payload, "x")).toDF("chat_id", "n_ticket"), root, id,
            fastPathCheck = t % 2 == 0)
        }
      }))
    }
    gate.countDown()
    val outcomes = futures.map { case (id, p, f) => (id, p, f.get()) }
    pool.shutdown()
    ids.foreach { id =>
      assert(outcomes.count(o => o._1 == id && o._3) === 1,
        s"exactly one winner for $id: $outcomes")
    }
    val winners = outcomes.collect { case (_, p, true) => p }.toSet
    val dest = Sinks.readCommitted(spark, root)
    assert(dest.count() === ids.size.toLong)
    assert(dest.collect().map(_.getString(0)).toSet === winners,
      "committed rows are exactly the reported winners' payloads")
    // every loser cleaned up after itself: nothing for the vacuum even
    // with a zero age gate
    assert(Sinks.vacuumUnpublished(spark, root, minAgeMs = 0L) === 0)
    assert(Sinks.readCommitted(spark, root).count() === ids.size.toLong)
  }

  test("compactManifests: one snapshot replaces the loose log, replays still skip") {
    val root = tempPath()
    assert(Sinks.appendAtomic(
      Seq(("c1", "t1")).toDF("chat_id", "n_ticket"), root, "b1"))
    assert(Sinks.appendAtomic(
      Seq(("c2", "t2", "open")).toDF("chat_id", "n_ticket", "status"), root, "b2"))

    assert(Sinks.compactManifests(spark, root) === 2)
    val names = new java.io.File(s"$root/_manifests").listFiles().map(_.getName)
    assert(names.count(_.endsWith(".snapshot")) === 1)
    assert(!names.exists(_.endsWith(".manifest")), "loose log absorbed")

    // reads resolve through the snapshot: same rows, same evolved schema
    val dest = Sinks.readCommitted(spark, root)
    assert(dest.count() === 2)
    assert(dest.schema.fieldNames.toSet === Set("chat_id", "n_ticket", "status"))

    // replay detection survives the loose manifests' removal — BOTH at
    // the fast path and at the commit point itself
    assert(!Sinks.appendAtomic(
      Seq(("dup", "d")).toDF("chat_id", "n_ticket"), root, "b1"))
    assert(!Sinks.appendAtomicAttempt(
      Seq(("dup", "d")).toDF("chat_id", "n_ticket"), root, "b2",
      fastPathCheck = false))
    assert(Sinks.readCommitted(spark, root).count() === 2)

    // the log keeps rolling: new batches stay loose until the next
    // compaction, which folds them INTO the prior snapshot's history
    assert(Sinks.appendAtomic(
      Seq(("c3", "t3")).toDF("chat_id", "n_ticket"), root, "b3"))
    assert(Sinks.readCommitted(spark, root).count() === 3)
    assert(Sinks.compactManifests(spark, root) === 1)
    val names2 = new java.io.File(s"$root/_manifests").listFiles().map(_.getName)
    assert(names2.count(_.endsWith(".snapshot")) === 1
      && !names2.exists(_.endsWith(".manifest")))
    assert(Sinks.readCommitted(spark, root).count() === 3)
    assert(!Sinks.appendAtomic(
      Seq(("dup", "d")).toDF("chat_id", "n_ticket"), root, "b3"))
    // nothing loose left: compaction without input is a no-op
    assert(Sinks.compactManifests(spark, root) === 0)
  }

  test("vacuumUnpublished reclaims aged orphans, spares committed and in-flight") {
    val root = tempPath()
    assert(Sinks.appendAtomic(
      Seq(("c1", "t1")).toDF("chat_id", "n_ticket"), root, "b1"))

    // an AGED orphan: a crashed attempt's dir + abandoned manifest temp
    val oldOrphan = new java.io.File(s"$root/data/b9-dead", "part-00000.parquet")
    oldOrphan.getParentFile.mkdirs()
    java.nio.file.Files.write(oldOrphan.toPath, "garbage".getBytes("UTF-8"))
    val oldTemp = new java.io.File(s"$root/_manifests/.b9.dead.inprogress")
    java.nio.file.Files.write(oldTemp.toPath, "data/b9-dead/x".getBytes("UTF-8"))
    val past = System.currentTimeMillis() - 60000
    assert(oldOrphan.setLastModified(past) && oldOrphan.getParentFile.setLastModified(past))
    assert(oldTemp.setLastModified(past))

    // a YOUNG orphan: could be an in-flight attempt — must survive
    val young = new java.io.File(s"$root/data/b10-live", "part-00000.parquet")
    young.getParentFile.mkdirs()
    java.nio.file.Files.write(young.toPath, "inflight".getBytes("UTF-8"))

    assert(Sinks.vacuumUnpublished(spark, root, minAgeMs = 30000) === 1)
    assert(!oldOrphan.getParentFile.exists(), "aged orphan reclaimed")
    assert(!oldTemp.exists(), "abandoned manifest temp reclaimed")
    assert(young.getParentFile.exists(), "in-flight attempt untouched")
    val dest = Sinks.readCommitted(spark, root)
    assert(dest.count() === 1 && dest.collect().head.getString(0) === "c1",
      "committed data unaffected by the vacuum")
  }

  test("jsonl and csv round-trip with schema fidelity") {
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .limit(500)
    val schema = orders.schema
    val base = java.nio.file.Files.createTempDirectory("graft-fmt-").toString

    Sinks.writeJsonl(orders, s"$base/jsonl")
    val fromJson = Sinks.readJsonl(spark, s"$base/jsonl", schema)
    assert(fromJson.schema === schema)
    assert(fromJson.exceptAll(orders).isEmpty && orders.exceptAll(fromJson).isEmpty)

    Sinks.writeCsv(orders, s"$base/csv")
    val fromCsv = Sinks.readCsv(spark, s"$base/csv", schema)
    assert(fromCsv.schema === schema)
    assert(fromCsv.exceptAll(orders).isEmpty && orders.exceptAll(fromCsv).isEmpty)
  }

  test("orc round-trip: schema travels in the file, filters push down") {
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .limit(500)
    val base = java.nio.file.Files.createTempDirectory("graft-orc-").toString
    Sinks.writeOrc(orders, s"$base/orc")
    val back = Sinks.readOrc(spark, s"$base/orc")
    // no schema argument needed — ORC carries the types
    assert(back.schema === orders.schema)
    assert(back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty)
    // predicate reaches the ORC scan like a parquet PushedFilters
    val plan = back.filter(col("o_orderkey") < 100L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), " +
      "LessThan(o_orderkey,100)]"), plan.take(600))
  }

  test("writeSorted: disjoint per-file ranges, sorted within each file") {
    val path = tempPath()
    // shuffled input so the layout is earned, not inherited
    val df = scala.util.Random.shuffle((1L to 1000L).toList)
      .map(i => (i, s"v$i")).toDF("ts", "v")
    Sinks.writeSorted(df, "ts", files = 4, path)

    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    assert(files.size === 4, s"expected 4 range files, got ${files.size}")
    // per-file [min,max] ranges must not overlap → file-level skipping works
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("ts")), max(col("ts"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"file ranges overlap: $ranges")
      case _ =>
    }
    // rows inside each file are sorted → row-group stats are tight
    files.foreach { f =>
      val ts = spark.read.parquet(f).select("ts").as[Long].collect().toSeq
      assert(ts === ts.sorted, s"file $f not internally sorted")
    }
    // nothing lost
    assert(spark.read.parquet(path).count() === 1000)
  }

  test("mortonKey interleaves bits: known values, monotone locality") {
    // x=0b101 (5), y=0b011 (3): x bits at even positions → 1_0_1 = 0b010001
    // (17), y bits at odd positions → 0b001010 (10); key = 0b011011 = 27
    val rows = Seq((5L, 3L), (0L, 0L), (7L, 7L), (1L, 0L), (0L, 1L))
      .toDF("x", "y")
      .select(Sinks.mortonKey(col("x"), col("y"), bits = 3).as("z"))
      .as[Long].collect().toSeq
    assert(rows === Seq(27L, 0L, 63L, 1L, 2L))
  }

  test("writeZOrdered: disjoint z-ranges AND both dimensions cluster") {
    val path = tempPath()
    // a 32x32 grid, shuffled — earned layout again
    val grid = scala.util.Random.shuffle(
      (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)).toList)
      .toDF("x", "y")
    Sinks.writeZOrdered(grid, "x", "y", files = 4, path, bits = 5)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    assert(files.size === 4)
    // each file covers a compact sub-rectangle of the plane: with 1024
    // cells over 4 z-contiguous files, each file ≈ one 16×16 quadrant
    // (a single-column sort would span the full 0..31 in the other
    // dimension) → min/max pruning works for predicates on EITHER column.
    // Tolerance 24: repartitionByRange boundaries are sample-approximate,
    // so a file may lap slightly into the next quadrant.
    files.foreach { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head()
      assert(r.getLong(1) - r.getLong(0) <= 24, s"x span too wide in $f: $r")
      assert(r.getLong(3) - r.getLong(2) <= 24, s"y span too wide in $f: $r")
    }
    assert(spark.read.parquet(path).count() === 1024)
  }

  test("compact: rewrites a fragmented directory to the computed file count") {
    val in = tempPath()
    val out = tempPath()
    // 500 rows scattered over 20 tiny files
    spark.range(500).selectExpr("id", "id * 2 AS v")
      .repartition(20).write.parquet(in)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(in), spark.sparkContext.hadoopConfiguration)
    def parquetFiles(p: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .count(_.getPath.getName.endsWith(".parquet"))
    assert(parquetFiles(in) === 20)
    // a huge target collapses everything into one file
    val n = graft.operators.Sinks.compact(spark, in, out, 1L << 30)
    assert(n === 1 && parquetFiles(out) === 1)
    // rows survive byte-identically
    assert(spark.read.parquet(out).orderBy("id").collect().toSeq ===
      spark.read.parquet(in).orderBy("id").collect().toSeq)
    intercept[IllegalArgumentException](
      graft.operators.Sinks.compact(spark, in, in, 100))
    // path aliases must not defeat the self-overwrite guard
    intercept[IllegalArgumentException](
      graft.operators.Sinks.compact(spark, in, in + "/", 100))
  }

  test("dedup-vs-destination composes with the evolved read (reference flow)") {
    val path = tempPath()
    Sinks.appendEvolving(Seq(("c1", "t1")).toDF("chat_id", "n_ticket"), path)
    val batch = Seq(("c1", "t1"), ("c3", "t3")).toDF("chat_id", "n_ticket")
    val fresh = graft.operators.Joins.dedupAgainst(
      batch, Sinks.readEvolved(spark, path), Seq("n_ticket"))
    assert(fresh.select("n_ticket").as[String].collect().toSeq === Seq("t3"))
  }

  test("readCommitted: the footer-merged schema equals mergeSchema's, with no Spark job") {
    val root = tempPath()
    assert(Sinks.appendAtomic(
      Seq(("c1", "t1")).toDF("chat_id", "n_ticket"), root, "b1"))
    // an added column, a batch missing a column, a reordered batch
    assert(Sinks.appendAtomic(
      Seq(("c2", "t2", "open")).toDF("chat_id", "n_ticket", "status"), root, "b2"))
    assert(Sinks.appendAtomic(Seq("c3").toDF("chat_id"), root, "b3"))
    assert(Sinks.appendAtomic(
      Seq(("closed", 7L, "t4", "c4")).toDF("status", "score", "n_ticket", "chat_id"),
      root, "b4"))
    val expected = spark.read.option("mergeSchema", "true")
      .parquet(Sinks.committedFiles(spark, root): _*).schema
    val (dest, jobs) = jobsDuring(Sinks.readCommitted(spark, root))
    assert(dest.schema === expected)
    assert(dest.schema.fieldNames.toSeq === Seq("chat_id", "n_ticket", "status", "score"))
    assert(jobs === 0, s"readCommitted started $jobs Spark jobs")
    // a second read hits the footer cache and still starts no job
    assert(jobsDuring(Sinks.readCommitted(spark, root).schema)._2 === 0)
    val byChat = dest.collect().map(r => r.getString(0) -> r).toMap
    assert(byChat.keySet === Set("c1", "c2", "c3", "c4"))
    assert(byChat("c3").isNullAt(1) && byChat("c1").isNullAt(2))
    assert(byChat("c4").getString(1) === "t4" && byChat("c4").getLong(3) === 7L)
  }

  test("readCommitted: a wiped root recreated with reused batch ids serves no stale schema") {
    val root = tempPath()
    assert(Sinks.appendAtomic(
      Seq(("c1", "t1")).toDF("chat_id", "n_ticket"), root, "b1"))
    assert(Sinks.readCommitted(spark, root).schema.fieldNames.toSeq ===
      Seq("chat_id", "n_ticket"))
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(wipe))
      f.delete()
    }
    wipe(new java.io.File(root))
    assert(Sinks.appendAtomic(Seq((1L, "x")).toDF("score", "label"), root, "b1"))
    val again = Sinks.readCommitted(spark, root)
    assert(again.schema.fieldNames.toSeq === Seq("score", "label"))
    assert(again.collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "x")))
  }

  test("readEvolved: mergeSchema's schema with no Spark job, hidden files skipped") {
    val path = evolvedDestination()
    // files Spark's listing skips: a reader that took them for data
    // would fail on their footers
    Seq("_junk", ".junk", "_SUCCESS").foreach(n => java.nio.file.Files.write(
      java.nio.file.Paths.get(path, n), "not a parquet file".getBytes("UTF-8")))
    val expected = spark.read.option("mergeSchema", "true").parquet(path).schema
    val (dest, jobs) = jobsDuring(Sinks.readEvolved(spark, path))
    assert(jobs === 0, s"readEvolved started $jobs Spark jobs")
    assert(dest.schema === expected)
    assert(dest.schema.fieldNames.toSeq === Seq("chat_id", "n_ticket", "status"))
    assert(dest.count() === 2)
  }

  test("readCommitted over 40 batches: no listing or schema job") {
    val root = tempPath()
    (1 to 40).foreach { i =>
      assert(Sinks.appendAtomic(Seq((s"c$i", s"t$i")).toDF("chat_id", "n_ticket"),
        root, f"b$i%02d"))
    }
    assert(Sinks.committedFiles(spark, root).size === 40)
    // cold (the footers are read here) and warm
    (1 to 2).foreach { _ =>
      val (schema, jobs) = jobsDuring(Sinks.readCommitted(spark, root).schema)
      assert(jobs === 0, s"readCommitted started $jobs Spark jobs")
      assert(schema.fieldNames.toSeq === Seq("chat_id", "n_ticket"))
    }
    assert(Sinks.readCommitted(spark, root).count() === 40)
  }
}
