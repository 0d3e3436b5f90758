package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterReader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.types.StructType

/** Keyed state record for [[EventStreams.runningUserStats]]. */
case class UserStat(user_id: Long, n_events: Long, last_us: Long)

/** A session in progress, carried as keyed state by
  * [[EventStreams.statefulSessions]]. */
case class OpenSession(start_us: Long, end_us: Long, n: Long, v: Double)

/** One completed session emitted by [[EventStreams.statefulSessions]]. */
case class SessionOut(user_id: Long, session_start_us: Long,
                      session_end_us: Long, n_events: Long,
                      session_value: Double)

/** Bounded memory carried per key by [[EventStreams.ewmaStream]]: the
  * last 15 values, newest first. */
case class EwmaMemory(recent: List[Double])

/** One smoothed point emitted by [[EventStreams.ewmaStream]]. `ewma` is
  * UNROUNDED — bit-equal to the batch twin's pre-round value; round at
  * the consumer. */
case class EwmaPoint(user_id: Long, us: Long, event_id: Long,
                     value: Double, ewma: Double)

/** One shard's Misra–Gries summary emitted by
  * [[EventStreams.streamingHeavyHitters]] after each micro-batch:
  * `counters` holds ≤ k (item → lower-bound estimate) entries;
  * `processed` is the shard's exact stream length (the error bound's
  * denominator). */
case class ShardSketch(shard: Int, counters: Map[String, Long],
                       processed: Long)

/** Structured Streaming surface over the `events` table (SURVEY.md §2b).
  *
  * The reference is daily batch; this is the north-star streaming extension.
  * Batch/stream parity is by construction: [[tumblingCounts]] applies the
  * same transformation to a static or streaming frame, so the DuckDB oracle
  * validates the batch twin and StreamingSpec asserts stream == batch.
  *
  * Scale posture: watermark bounds state; tumbling windows shuffle once on
  * (window, event_type); `dropDuplicatesWithinWatermark` bounds dedup state.
  *
  * STATE-STORE posture: Spark's default HDFSBackedStateStoreProvider keeps
  * every partition's state as an in-heap map — fine for the bounded states
  * here at test scale, but an executor-memory cliff when key cardinality
  * grows with the corpus. Per-operator state sizes (each also noted on the
  * operator): [[statefulSessions]] ONE 4-scalar record per OPEN session
  * (watermark-timeout bounded); [[runningUserStats]] one 3-scalar record
  * per distinct user (unbounded in users — pair with a TTL policy);
  * [[ewmaStream]] ≤ 16 doubles per user; [[streamingHeavyHitters]]
  * shards × k counters, CONSTANT in stream length; dedup state = event ids
  * inside the watermark. At 100-TB user cardinality, run the unbounded-key
  * operators under the RocksDB provider
  * (`spark.sql.streaming.stateStore.providerClass =
  * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`,
  * native off-heap + spill-to-disk, incremental checkpointing) — results
  * are provider-invariant, pinned bit-for-bit by StreamingSpec's RocksDB
  * profile test across all three keyed-state shapes.
  */
object EventStreams {

  /** Tumbling-window count/sum per event type. Works on static and
    * streaming frames alike (watermark is a no-op in batch). */
  def tumblingCounts(events: DataFrame, windowLength: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding-window variant: 1-hour windows every 15 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Per-window distribution-drift finalizer: given window×type counts
    * (from [[tumblingCounts]], streaming or batch) and a static reference
    * share table `(event_type, p_ref)`, the Jensen–Shannon divergence of
    * each window's type distribution against the reference — the live
    * "did this hour's traffic mix shift" monitor, same arithmetic as
    * `Stats.jsDivergence` (bounded [0, ln 2]; a type absent from a
    * window still contributes its finite ½p_ref·ln 2 via the grid, and
    * symmetrically a type absent from the REFERENCE — a brand-new live
    * event type, the strongest mix-shift signal — contributes its
    * ½p_w·ln 2 term because the grid vocabulary is the union of the
    * reference types and the types observed in any window, with p_ref
    * coalesced to 0 for ref-absent types).
    * In streaming, run it over the aggregated sink inside `foreachBatch`
    * (the [[dedupedIngest]] composition pattern) — chaining a second
    * aggregation inside the same streaming query is not supported;
    * StreamingSpec pins streaming-counts→finalizer ≡ batch twin.
    *
    * Scale shape: one windows × union-vocabulary grid (bounded by the
    * calendar × type vocabulary, never event rows) + one hash aggregate
    * back to windows. */
  def windowDrift(counts: DataFrame, ref: DataFrame): DataFrame = {
    // the totals frame already holds one row per window, so it IS the
    // window list — and the probe side re-aliases every column so the
    // wt↔counts self-lineage join cannot produce conflicting attribute
    // references (a Deduplicate-over-view variant of this tripped
    // Spark's resolver)
    val wt = counts.groupBy(col("window_start")).agg(sum(col("n")).as("__wt"))
    val probe = counts.select(col("window_start").as("__ws"),
      col("event_type").as("__et"), col("n").as("__cn"))
    // vocabulary = ref types ∪ observed types (full-outer on event_type,
    // p_ref coalesced to 0): a type live traffic introduced that the
    // reference has never seen still carries its probability mass into
    // the JSD sum instead of being silently dropped by a ref-only grid
    val vocab = counts.select(col("event_type")).distinct()
      .join(ref, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("p_ref"), lit(0.0)).as("p_ref"))
    val grid = wt.crossJoin(vocab)
      .join(probe,
        col("window_start") === col("__ws") && col("event_type") === col("__et"),
        "left")
      .withColumn("n", coalesce(col("__cn"), lit(0L)))
    val pw = col("n").cast("double") / col("__wt")
    val m = (pw + col("p_ref")) / lit(2.0)
    def half(x: Column): Column =
      when(x > lit(0.0), x * log(x / m) / lit(2.0)).otherwise(lit(0.0))
    grid.groupBy(col("window_start"))
      .agg(max(col("__wt")).as("n_events"),
        round(sum(half(pw) + half(col("p_ref"))), 6).as("jsd"))
  }

  /** Session spans via Spark's native `session_window` (30-minute gap):
    * one row per (user, session) with start (first event ts), end (last
    * event ts + gap) and aggregates. Works on static and streaming
    * frames; the batch twin is oracle-checked (q_session_window in
    * [[graft.queries.EventQueries]]), stream/batch parity is asserted in
    * StreamingSpec. */
  def sessionSpans(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Stream-stream interval join (attribution): each purchase matched to
    * every click by the same user in the preceding 30 minutes. The ONE
    * join shape Structured Streaming can run unbounded: an equi-join on
    * the user key plus a both-sided time-range condition, with watermarks
    * on both inputs — the range bound + watermark lets Spark expire join
    * state, so state is O(events within 30 minutes + watermark), not
    * O(stream).
    *
    * Works identically on a static events frame (watermarks no-op, the
    * range condition rides the user_id hash join as a post-filter — NOT a
    * nested-loop join), which is how the batch twin q_interval_join is
    * oracle-checked; stream/batch parity is asserted in StreamingSpec. */
  def attributedPurchases(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(purchases,
        col("click_user") === col("user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 minutes"))
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("value"))
  }

  /** Stream-static enrichment: left-join a streaming fact against a
    * static (or slowly-refreshed) dimension — the streaming counterpart
    * of Joins.enrichLeft. No state, no watermark requirement: the static
    * side is re-planned (and a broadcast dim re-broadcast) every
    * micro-batch, which is also what picks up dim-table updates between
    * batches. Output is append-safe. At stream scale keep the dimension
    * broadcast-able; a beyond-broadcast dim wants pre-bucketed layouts on
    * both sides instead ([[graft.operators.Sinks.writeBucketed]]).
    * Works identically on a static fact frame — the batch twin
    * q_stream_enrich is oracle-checked, parity pinned in StreamingSpec. */
  def enrichedStream(facts: DataFrame, dim: DataFrame,
                     factKey: String, dimKey: String): DataFrame =
    facts.join(broadcast(dim), col(factKey) === col(dimKey), "left")

  /** Streaming dedup on event_id bounded by the watermark. */
  def dedupedStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-user running totals carried in explicit keyed state — the
    * `mapGroupsWithState` shape for custom streaming state the built-in
    * aggregates can't express (per-key counters, custom session logic,
    * model state). Emits the updated stat for every key touched by a
    * micro-batch; state size is O(distinct users), bounded in production
    * by a state TTL/timeout policy. Works identically on a static frame
    * (single "batch"), which is how the parity spec pins semantics. */
  def runningUserStats(events: DataFrame): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserStat, UserStat](GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          val prev = state.getOption.getOrElse(UserStat(user, 0L, Long.MinValue))
          var n = prev.n_events
          var last = prev.last_us
          rows.foreach { case (_, us) => n += 1; if (us > last) last = us }
          val updated = UserStat(user, n, last)
          state.update(updated)
          updated
      }
  }

  /** Gap-based sessionization with EXPLICIT keyed state — the
    * `flatMapGroupsWithState` shape for session logic the built-in
    * `session_window` can't express (per-session custom folds, mid-session
    * emissions, model state). Events are folded in (ts, event_id) order;
    * a gap > 30 minutes closes the session and emits it.
    *
    * Batch vs stream: on a BOUNDED input end-of-data closes every session,
    * so the batch twin passes `emitOpen = true` and emits the final open
    * session per user too (this is what the DuckDB oracle checks — same
    * sessions as the lag/sum formulation). In streaming, pass
    * `emitOpen = false` (more data may still extend the open session): it
    * stays in state with an event-time timeout of end + gap, and the
    * timeout path emits it once the watermark passes — callers must set a
    * watermark on `ts` upstream. State per key is ONE OpenSession record
    * (4 scalars), not the event list — O(users) state, watermark-bounded.
    *
    * Within one invocation the group's rows are buffered to sort by
    * (ts, event_id): per-key-per-batch volume, the same bound every
    * mapGroups carries; the cross-batch accumulation lives in the
    * 4-scalar state, never a growing buffer. */
  def statefulSessions(events: DataFrame,
                       emitOpen: Boolean = false): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60L * 1000000L
    events
      // the raw ts column rides along untouched: the streaming planner
      // requires the WATERMARKED event-time attribute to reach the
      // stateful operator's input (a unix_micros projection of it loses
      // the watermark tag and fails analysis)
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"), col("value").cast("double"), col("ts"))
      .as[(Long, Long, Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) { (user, rows, state) =>
        if (state.hasTimedOut) {
          // watermark passed end + gap: nothing can extend this session
          val s = state.get
          state.remove()
          Iterator(SessionOut(user, s.start_us, s.end_us, s.n, s.v))
        } else {
          val sorted = rows.toVector.sortBy { case (_, us, eid, _, _) => (us, eid) }
          val out = Vector.newBuilder[SessionOut]
          var open = state.getOption
          sorted.foreach { case (_, us, _, v, _) =>
            open match {
              // within gap of the open session on EITHER side: extend with
              // min/max so a cross-batch out-of-order event can never move
              // the session end backwards (or leave start unextended)
              case Some(o) if us >= o.start_us - gapUs && us <= o.end_us + gapUs =>
                open = Some(OpenSession(math.min(o.start_us, us),
                  math.max(o.end_us, us), o.n + 1, o.v + v))
              case Some(o) if us > o.end_us + gapUs =>
                out += SessionOut(user, o.start_us, o.end_us, o.n, o.v)
                open = Some(OpenSession(us, us, 1L, v))
              case Some(_) =>
                // stray older than (start - gap): its session was already
                // flushed — emit as its own closed singleton, keep the
                // open session untouched
                out += SessionOut(user, us, us, 1L, v)
              case None =>
                open = Some(OpenSession(us, us, 1L, v))
            }
          }
          open.foreach { o =>
            if (emitOpen) {
              out += SessionOut(user, o.start_us, o.end_us, o.n, o.v)
              state.remove()
            } else {
              // timeout is in millis event time; fires once watermark > it
              val flushAtMs = o.end_us / 1000L + gapUs / 1000L
              val wm =
                try state.getCurrentWatermarkMs()
                catch { case _: UnsupportedOperationException => Long.MinValue }
              if (flushAtMs <= wm) {
                // the watermark has ALREADY passed end + gap — a new key
                // whose events sit behind the global watermark (bulk
                // ingest of historical files: other keys advanced the
                // watermark before this key's first batch). A timeout in
                // the past is illegal to register; flush now, which is
                // exactly what the timeout branch would have done
                // (r13: found by the sf1 StreamScale 10x probe)
                out += SessionOut(user, o.start_us, o.end_us, o.n, o.v)
                state.remove()
              } else {
                state.update(o)
                state.setTimeoutTimestamp(flushAtMs)
              }
            }
          }
          out.result().iterator
        }
      }
  }

  /** Read an events parquet path as a stream (for tests/demos: one file =
    * one micro-batch). Takes the RAW on-disk schema (nanos-as-long) and
    * applies the same ts normalization as the batch loader, so batch and
    * stream pipelines see identical frames.
    *
    * The file stream source requires a DIRECTORY (it watches for new files);
    * a single-file path is staged into a temp dir first, which also models
    * the production layout (a landing directory parquet files arrive in).
    * `maxFilesPerTrigger` bounds each micro-batch (None = all available). */
  def readEventStream(spark: SparkSession, path: String, rawSchema: StructType,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val p = java.nio.file.Paths.get(path)
    val dir =
      if (java.nio.file.Files.isRegularFile(p)) {
        val d = java.nio.file.Files.createTempDirectory("graft-stream-")
        java.nio.file.Files.copy(p, d.resolve(p.getFileName))
        d.toFile.deleteOnExit()
        d.toString
      } else path
    val reader0 = spark.readStream.schema(rawSchema)
    val reader = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
    graft.Tables.normalizeEventTs(reader.parquet(dir))
  }

  /** Streaming ingestion with cross-batch dedup against the destination —
    * the reference's dedupe-then-append flow (manutencao.py T16 +
    * main.py K1) as a streaming sink: each micro-batch anti-joins the
    * destination's current keys and appends only unseen rows, so replayed
    * or overlapping batches (at-least-once sources) ingest idempotently.
    * `foreachBatch` is the standard bridge from a stream to batch-only
    * sinks/joins; the dedup is a broadcast anti-join on the key column. */
  def dedupedIngest(stream: DataFrame, destPath: String, keyCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fresh =
          if (new java.io.File(destPath).exists())
            graft.operators.Joins.dedupAgainst(
              batch, graft.operators.Sinks.readEvolved(spark, destPath), Seq(keyCol))
          else batch
        graft.operators.Sinks.appendEvolving(fresh, destPath)
      }
      .start()

  /** [[dedupedIngest]] with warehouse-grade commit semantics: each
    * micro-batch anti-joins the COMMITTED destination state
    * ([[graft.operators.Sinks.readCommitted]]) and appends via the
    * manifest protocol ([[graft.operators.Sinks.appendAtomic]]), keyed
    * on Structured Streaming's epoch id. Epoch ids are stable across
    * restarts ONLY under a durable checkpoint — without one Spark falls
    * back to a temporary checkpoint, epoch ids restart at 0 with
    * different batch composition, and the manifest's replay check turns
    * into silent batch loss (a fresh batch skipped because a PREVIOUS
    * run's epoch 0 already committed). `checkpointDir` is therefore a
    * required parameter, not an option: with it, the sink-side batch id
    * and the source-side offset log advance together, closing both
    * failure modes plain parquet append leaves open — a writer crash
    * mid-append leaves only an unpublished (invisible) attempt dir, and
    * the replayed epoch after recovery (offsets committed, sink
    * manifest committed, checkpoint commit lost) skips exactly the
    * batch that already published (exactly-once per epoch; StreamingSpec
    * pins the replay by deleting the checkpoint's commit record). The
    * key anti-join stays as defense in depth against upstream replays
    * that arrive under a NEW epoch. */
  def dedupedIngestAtomic(stream: DataFrame, destRoot: String, keyCol: String,
                          checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        val fresh =
          if (graft.operators.Sinks.committedFiles(spark, destRoot).nonEmpty)
            graft.operators.Joins.dedupAgainst(
              batch, graft.operators.Sinks.readCommitted(spark, destRoot),
              Seq(keyCol))
          else batch
        graft.operators.Sinks.appendAtomic(
          fresh, destRoot, f"epoch-$epochId%012d")
        ()
      }
      .start()

  /** Streaming NEAR-dup ingestion — [[dedupedIngest]]'s fuzzy sibling:
    * each micro-batch first drops exact id replays against the
    * destination (idempotent at-least-once ingest), then runs the
    * incremental MinHash-LSH admission (16 hashes in bands of 4,
    * [[graft.operators.Dedup.admitNearDups]]): batch docs that are
    * near-duplicates of an accepted destination doc — or of a lower-id
    * doc in the same batch — are rejected, survivors append. Per-batch
    * work ∝ batch (the destination contributes one band equi-join +
    * candidate token lookups), mirroring incrementalClusters'
    * batch-incremental contract; the batch twin q_neardup_admit runs the
    * identical admission over a 2-batch replay of the documents table
    * and is oracle-checked end-to-end (band hashes, Jaccard re-rank,
    * keep-first admission). StreamingSpec pins stream == batch-twin on
    * the same split. */
  def nearDupIngest(stream: DataFrame, destPath: String, idCol: String,
                    textCol: String, threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val fresh =
          if (new java.io.File(destPath).exists()) {
            val dest = graft.operators.Sinks.readEvolved(spark, destPath)
            val unseen = graft.operators.Joins.dedupAgainst(batch, dest, Seq(idCol))
            graft.operators.Dedup.admitNearDups(unseen, dest, idCol, textCol,
              16, 4, threshold)
          } else
            graft.operators.Dedup.admitNearDups(batch, batch.filter(lit(false)),
              idCol, textCol, 16, 4, threshold)
        graft.operators.Sinks.appendEvolving(fresh, destPath)
      }
      .start()

  /** Streaming CUSUM anomaly monitor — the live face of
    * [[graft.operators.TimeSeries.cusumDaily]]: each micro-batch folds
    * its per-day event counts into a persisted `(day, n_events)` state
    * table (work ∝ batch; the state is bounded by the CALENDAR, never
    * the stream), then re-runs
    * [[graft.operators.TimeSeries.cusumOverCounts]] — the batch
    * operator's OWN finalizer, shared code, not a reimplementation —
    * over the accumulated table and overwrites `<statePath>/alarms`.
    * After any prefix of batches, the alarm table EQUALS cusumDaily on
    * the union of events seen so far (StreamingSpec pins it) — the
    * windowDrift/incrementalClusters batch-incremental contract applied
    * to change-point monitoring. Recomputing the CUSUM over the day
    * grid per batch is deliberate: the statistic's mean/σ and prefix
    * extrema shift with every new day, so "incremental CUSUM state"
    * would be wrong the moment history re-baselines; over a bounded
    * day table the recompute is trivially cheap.
    *
    * The day-count state is localCheckpoint-materialized before its
    * overwrite (read-then-overwrite on the same path needs the read
    * finished first). At-least-once caveat: day-count folding ADDS, so
    * a replayed batch double-counts — feed this from an exactly-once
    * source or compose with [[dedupedIngest]]'s anti-join upstream
    * (how StreamingSpec's replay case runs it). */
  def cusumMonitor(stream: DataFrame, statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val countsPath = s"$statePath/day_counts"
        val bCounts = batch
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"))
        val merged =
          if (new java.io.File(countsPath).exists())
            FooterReader.read(spark, countsPath).unionByName(bCounts)
              .groupBy(col("day"))
              .agg(sum(col("n_events")).as("n_events"))
          else bCounts
        merged.localCheckpoint().write.mode("overwrite").parquet(countsPath)
        graft.operators.TimeSeries
          .cusumOverCounts(FooterReader.read(spark, countsPath))
          .write.mode("overwrite").parquet(s"$statePath/alarms")
      }
      .start()

  /** Streaming mixture-SPRT monitor: the always-valid-p twin of
    * [[cusumMonitor]], same architecture — foreachBatch folds per-day
    * (trials, successes) into calendar-bounded parquet state, then
    * re-runs [[graft.operators.Stats.msprtOverCounts]] — the BATCH
    * operator's OWN finalizer, shared code — so after ANY batch prefix
    * the monitor table bit-equals `msprtDaily` on the events seen so
    * far (StreamingSpec-pinned on both prefixes). Deliberate recompute:
    * the running-min p re-bases as days fill in, and the state is one
    * row per day. Peeking safety carries over verbatim: p_always_valid
    * is monotone, so the stream can alarm at ANY micro-batch without
    * α-inflation. Same at-least-once caveat as [[cusumMonitor]]:
    * count folding adds, so route replays through [[dedupedIngest]]
    * upstream. A trial is an event, a success a `purchase` event; the
    * null rate is p0 = 0.2 with mixing scale tau = 0.05. */
  def msprtMonitor(stream: DataFrame, statePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val countsPath = s"$statePath/day_counts"
        val bCounts = batch
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("n_success"))
        val merged =
          if (new java.io.File(countsPath).exists())
            FooterReader.read(spark, countsPath).unionByName(bCounts)
              .groupBy(col("day"))
              .agg(sum(col("n_events")).as("n_events"),
                sum(col("n_success")).as("n_success"))
          else bCounts
        merged.localCheckpoint().write.mode("overwrite").parquet(countsPath)
        graft.operators.Stats
          .msprtOverCounts(FooterReader.read(spark, countsPath), 0.2, 0.05)
          .write.mode("overwrite").parquet(s"$statePath/monitor")
      }
      .start()

  /** Sharded streaming Misra–Gries heavy hitters (public: Misra & Gries
    * '82; the streaming face of [[graft.operators.Corpus.heavyHitters]],
    * whose Aggregator supplies the IDENTICAL reduce/merge arithmetic):
    * items are routed to `shards` keyed-state sketches by the portable
    * md5 shard hash, each micro-batch folds its (sorted) items into the
    * shard's ≤ k counters, and the updated [[ShardSketch]] is emitted.
    * Because the shard hash partitions the item space, each item lives in
    * exactly ONE shard, so the union of shard sketches inherits the MG
    * guarantee per shard: true − processed/(k+1) ≤ estimate ≤ true —
    * every item with frequency > processed/(k+1) is RETAINED. State is
    * shards × k counters, constant in stream length; the decrement
    * amortizes so per-item cost is O(1).
    *
    * Within an invocation the batch's items fold in sorted order — MG
    * contents are arrival-order-dependent, and sorting makes the result
    * a deterministic function of the batch contents (the guarantee
    * itself holds under any order). Works identically on a static frame
    * (single batch) — how StreamingSpec pins parity against a direct
    * Aggregator fold. */
  def streamingHeavyHitters(events: DataFrame, itemCol: String, k: Int,
                            shards: Int): Dataset[ShardSketch] = {
    import events.sparkSession.implicits._
    require(k > 0 && shards > 0, s"need k/shards > 0: $k/$shards")
    val agg = new graft.functions.MisraGriesAggregator(k)
    val shard = (conv(substring(md5(col(itemCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % shards).cast("int")
    events
      .filter(col(itemCol).isNotNull)
      .select(shard.as("shard"), col(itemCol).cast("string").as("item"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[ShardSketch, ShardSketch](GroupStateTimeout.NoTimeout) {
        (shardId, rows, state) =>
          val prev = state.getOption
            .getOrElse(ShardSketch(shardId, Map.empty, 0L))
          val items = rows.map(_._2).toVector.sorted
          val folded = items.foldLeft(prev.counters)(agg.reduce)
          val updated = ShardSketch(shardId, folded,
            prev.processed + items.length)
          state.update(updated)
          updated
      }
  }

  /** Streaming twin of [[graft.operators.TimeSeries.ewmaHalving]]: the
    * same truncated α=1/2 EWMA, but carried as keyed state so each event
    * is smoothed the moment it arrives instead of re-windowing a batch.
    * State per key is the last 15 values (lookback 16) — a FIXED-size
    * deque, so total state is O(keys · 16) regardless of stream
    * length (no timeout needed for boundedness; add one if key churn
    * demands eviction).
    *
    * Parity is BIT-exact by construction, not approximate: the per-point
    * arithmetic (newest-first zip with the dyadic weight vector, left
    * fold, 1 − 2^{-len} normalizer) replays the batch operator's
    * `aggregate(zip_with(...))` evaluation order double-for-double —
    * StreamingSpec pins stream == batch on both a static frame and a
    * replayed MemoryStream. Within a micro-batch, events are re-ordered
    * by (ts, event_id); ACROSS batches arrival order is trusted (the
    * watermark discipline that would buffer stragglers belongs to the
    * source, as in statefulSessions).
    *
    * Null values must be filtered upstream (the batch twin does the
    * same) — a null inside the memory would misalign the weights. */
  def ewmaStream(events: DataFrame): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    val lookback = 16
    val weights = (0 until lookback).map(j => 1.0 / (1L << (j + 1))).toArray
    events
      .filter(col("value").isNotNull)
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"), col("value").cast("double"), col("ts"))
      .as[(Long, Long, Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaMemory, EwmaPoint](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (user, rows, state) =>
        val sorted = rows.toVector.sortBy { case (_, us, eid, _, _) => (us, eid) }
        var recent = state.getOption.map(_.recent).getOrElse(Nil)
        val out = sorted.map { case (_, us, eid, v, _) =>
          val hist = v :: recent.take(lookback - 1)
          // identical evaluation order to the batch twin: products in
          // newest-first order, left fold from 0.0, dyadic normalizer
          val num = hist.iterator.zip(weights.iterator)
            .map { case (x, w) => x * w }.foldLeft(0.0)(_ + _)
          val den = 1.0 - 1.0 / (1L << hist.length)
          recent = hist
          EwmaPoint(user, us, eid, v, num / den)
        }
        state.update(EwmaMemory(recent.take(lookback - 1)))
        out.iterator
      }
  }
}
