package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterReader
import org.apache.spark.sql.types.StructType

/** Sink-side semantics of the reference pipeline (SURVEY.md §2: K1, K2).
  *
  * The reference appends to a warehouse table with schema evolution
  * (reference/main.py:136-142, WRITE_APPEND + ALLOW_FIELD_ADDITION) and
  * creates the destination with a seed schema on first run
  * (reference/main.py:127-134). Here the destination is a parquet path:
  * appends are partition-parallel writes, schema evolution is parquet
  * `mergeSchema` on read, and create-if-missing is an empty first write.
  * Every parquet read here ([[readEvolved]], [[readCommitted]],
  * [[compact]]) goes through [[FooterReader]], which lists and reads
  * footers on the driver from a per-file cache: no read starts a Spark
  * job for its schema or its file listing.
  * (On a cluster the same calls target a Delta/Iceberg table and K3
  * becomes a real MERGE — Joins.upsert holds the set-oriented semantics.)
  */
object Sinks {

  /** K1: append a batch, tolerating new columns (schema evolution). The
    * write itself is append-only and distributed; readers see the union
    * schema via [[readEvolved]]. */
  def appendEvolving(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** Read an evolved destination: union schema across all appended batches
    * (absent columns null-backfilled), the ALLOW_FIELD_ADDITION read view.
    * The schema is `mergeSchema`'s, merged on the driver from cached
    * footers ([[FooterReader]]), so the read starts no Spark job. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    FooterReader.readMerged(spark, path)

  // ------------------------------------------------------- atomic commit
  //
  // Plain parquet append is NOT atomic: a writer that dies mid-job leaves
  // partial part-files that directory-listing readers (readEvolved, the
  // T16 anti-join) happily scan — the one failure mode the reference gets
  // covered for free by BigQuery load jobs (reference/main.py:136-142
  // blocks on job.result(); a failed load publishes nothing). The
  // manifest protocol below restores that guarantee on a plain
  // filesystem: each ATTEMPT writes to its own unique directory
  // `data/<batchId>-<attemptId>/` (readers never list data/), and a batch
  // becomes visible only when `_manifests/<batchId>.manifest` — naming
  // that attempt's part-files — is published by a rename that FAILS if
  // the destination exists (FileContext + Options.Rename.NONE, the
  // create-fails-if-exists commit point lakehouse log stores use on
  // HDFS-semantics filesystems). Consequences:
  //   * a crash before publish leaves only an invisible orphan dir;
  //   * a replayed batch id (at-least-once upstream, driver retry) is
  //     detected and skipped — load-job idempotence, not just atomicity;
  //   * two CONCURRENT attempts of the same batch id (zombie driver +
  //     retry) cannot interfere: they write disjoint attempt dirs, and
  //     exactly one rename wins — the loser's files are never named by
  //     any manifest, so it can (and does) delete them. A plain
  //     FileSystem.rename would be wrong here: on RawLocalFileSystem it
  //     OVERWRITES an existing destination, letting both racers believe
  //     they committed.
  // Orphaned attempt dirs from crashed/raced attempts are reclaimed by
  // [[vacuumUnpublished]] (age-gated so in-flight attempts survive).

  private def fsFor(spark: SparkSession, root: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  /** K1 with warehouse-grade commit semantics: append `df` under `root`
    * atomically (see the protocol comment above). Returns false — and
    * leaves no visible state — when `batchId` already committed, whether
    * detected up front or by losing the publish race at the rename. */
  def appendAtomic(df: DataFrame, root: String, batchId: String): Boolean =
    appendAtomicAttempt(df, root, batchId, fastPathCheck = true)

  /** The full attempt path, with the already-committed fast-path check
    * switchable so the race-loser branch is deterministically testable
    * (SinksSpec pre-commits the batch id, then forces a second attempt
    * through write → publish → lose → clean up). The SNAPSHOT check is
    * never skippable: once [[compactManifests]] absorbs a batch's loose
    * manifest, the rename-no-overwrite commit point alone can no longer
    * detect a replay of that id — the snapshot registry is the other
    * half of the commit protocol, not an optimization. */
  private[graft] def appendAtomicAttempt(df: DataFrame, root: String,
                                         batchId: String,
                                         fastPathCheck: Boolean): Boolean = {
    // strict charset: the id becomes a filename AND a field in the
    // tab-separated snapshot format — a tab or newline would silently
    // corrupt the compacted registry
    require(batchId.nonEmpty && batchId.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"batchId must be [A-Za-z0-9._-]+: '$batchId'")
    val spark = df.sparkSession
    val fs = fsFor(spark, root)
    val manifestDir = new org.apache.hadoop.fs.Path(root, "_manifests")
    val manifest = new org.apache.hadoop.fs.Path(manifestDir, s"$batchId.manifest")
    if (fastPathCheck && fs.exists(manifest)) return false
    if (snapshotBatches(spark, root).contains(batchId)) return false
    val attemptId = java.util.UUID.randomUUID().toString
    val attemptDirName = s"$batchId-$attemptId"
    val dataDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, "data"), attemptDirName)
    df.write.mode("errorifexists").parquet(dataDir.toString)
    val parts = fs.listStatus(dataDir).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") || n.startsWith("part-")).sorted
    fs.mkdirs(manifestDir)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      manifest.toUri, spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(manifestDir,
      s".$batchId.$attemptId.inprogress")
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE),
      org.apache.hadoop.fs.Options.CreateOpts.createParent())
    try {
      out.write(parts.map(n => s"data/$attemptDirName/$n").mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.hsync()
    } finally out.close()
    // The commit point — a rename that FAILS if the destination exists,
    // under an in-process lock per (root, batchId). The lock matters on
    // LOCAL filesystems, where ChecksumFs's no-overwrite rename is
    // check-then-act over two files (data + crc) and two same-JVM racers
    // can interleave into a torn manifest/crc pair (caught by the
    // SinksSpec stress test); a single Spark driver is the only writer a
    // local destination can have, so the lock covers exactly the
    // concurrency that exists there. On HDFS-semantics filesystems the
    // rename itself is atomic-exclusive server-side, covering racers in
    // OTHER JVMs too — the same layering Delta's HDFS log store uses.
    val won = Sinks.commitLockFor(root, batchId).synchronized {
      // re-check BOTH halves of the committed registry inside the lock:
      // a slow zombie that passed the pre-write checks while the rival
      // attempt committed — and whose loose manifest compaction then
      // absorbed — must not republish over committed data
      // guard against the vacuum race: if this attempt outlived
      // vacuumUnpublished's minAgeMs, the data dir (and any of the parts
      // the manifest names) may be gone — publishing the manifest anyway
      // would commit a batch whose files were deleted (silent data loss
      // on read). The age gate is probabilistic; this existence re-check
      // inside the commit lock is the deterministic backstop. See the
      // minAgeMs contract note on [[vacuumUnpublished]].
      if (fs.exists(manifest) || snapshotBatches(spark, root).contains(batchId))
        false
      else if (!fs.exists(dataDir)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(
          s"appendAtomic attempt for batch '$batchId' lost its data dir " +
          s"$dataDir before publish (vacuumUnpublished minAgeMs too low " +
          "for this attempt's duration?) — aborting instead of committing " +
          "a manifest over deleted files")
      } else {
        try {
          fc.rename(tmp, manifest, org.apache.hadoop.fs.Options.Rename.NONE)
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.nio.file.FileAlreadyExistsException |
               _: org.apache.hadoop.fs.ParentNotDirectoryException => false
        }
      }
    }
    if (!won) {
      // lost the race: another attempt of this batch id committed first.
      // Nothing we wrote is referenced anywhere — clean up and report.
      fs.delete(tmp, false)
      fs.delete(dataDir, true)
    }
    won
  }

  // Striped commit locks: bounded (a long-lived stream commits one fresh
  // batch id per micro-batch forever — a per-key map would grow without
  // end), and collisions only serialize two unrelated commits, never
  // break exclusion.
  private val commitLocks = Array.fill(64)(new Object)
  private def commitLockFor(root: String, batchId: String): Object =
    commitLocks(math.floorMod(s"$root#$batchId".hashCode, commitLocks.length))

  // Published manifests and snapshots are immutable (they appear whole,
  // by rename, and are never rewritten), so their contents are cached
  // process-wide: each committedFiles call costs ONE directory listing
  // plus a read of only the files not yet seen — per-batch reader work
  // stays O(new batches), not O(all batches ever committed) (the
  // long-lived-stream trap: dedupedIngestAtomic consults the committed
  // set every micro-batch). Entries for files that disappear (vacuum,
  // compaction) are dropped on the next call. [[compactManifests]]
  // bounds the LISTING too — after compaction the directory holds one
  // snapshot plus only the manifests published since.
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.ConcurrentHashMap[String, Seq[String]]]()

  // Cache key carries length + modification time from the listing, not
  // just the file name: published files are immutable while they exist,
  // but a destination root can be wiped and recreated in the same JVM
  // with a reused batch id — a name-only key would then serve the OLD
  // file's contents (wrong committed list, false replay-skip). A
  // recreated same-named file differs in mtime (or length) and misses.
  private def manifestCacheKey(st: org.apache.hadoop.fs.FileStatus): String =
    s"${st.getPath.getName}#${st.getLen}#${st.getModificationTime}"

  private def cachedLines(fs: org.apache.hadoop.fs.FileSystem,
                          cache: java.util.concurrent.ConcurrentHashMap[String, Seq[String]],
                          st: org.apache.hadoop.fs.FileStatus): Seq[String] =
    cache.computeIfAbsent(manifestCacheKey(st), { _ =>
      val in = fs.open(st.getPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    })

  /** One listing of `_manifests/`, merged through the caches into the
    * committed registry: batchId → relative part paths, from snapshots
    * (compacted history) and loose manifests (recent batches). A batch
    * present in both (the compaction crash window between snapshot
    * publish and loose-manifest deletion) dedups to the loose copy —
    * contents are identical by construction. */
  private def committedRegistry(spark: SparkSession, root: String)
      : scala.collection.immutable.SortedMap[String, Seq[String]] = {
    val fs = fsFor(spark, root)
    val manifestDir = new org.apache.hadoop.fs.Path(root, "_manifests")
    if (!fs.exists(manifestDir))
      return scala.collection.immutable.SortedMap.empty
    val qualifiedRoot = fs.makeQualified(new org.apache.hadoop.fs.Path(root)).toString
    val cache = manifestCache.computeIfAbsent(qualifiedRoot,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]())
    val present = fs.listStatus(manifestDir)
      .filter(st => st.getPath.getName.endsWith(".manifest") ||
        st.getPath.getName.endsWith(".snapshot"))
      .sortBy(_.getPath.getName).toSeq
    cache.keySet().retainAll(
      scala.jdk.CollectionConverters.SeqHasAsJava(
        present.map(manifestCacheKey)).asJava)
    var reg = scala.collection.immutable.SortedMap.empty[String, Seq[String]]
    // snapshots first (oldest to newest), loose manifests last: later
    // writes win, and all copies of a batch id are identical anyway
    present.filter(_.getPath.getName.endsWith(".snapshot")).foreach { s =>
      cachedLines(fs, cache, s).filter(_.nonEmpty).map(_.split('\t')).collect {
        case Array(id, rel) => (id, rel)
      }.groupBy(_._1).foreach { case (id, pairs) =>
        reg += id -> pairs.map(_._2).toSeq
      }
    }
    present.filter(_.getPath.getName.endsWith(".manifest")).foreach { m =>
      val id = m.getPath.getName.stripSuffix(".manifest")
      reg += id -> cachedLines(fs, cache, m).filter(_.nonEmpty)
    }
    reg
  }

  /** Batch ids recorded in snapshots (absorbed loose manifests) —
    * consulted by the commit path (see [[appendAtomicAttempt]]). ONE
    * directory listing + cached snapshot reads; ids still loose are
    * covered by the commit path's own `fs.exists(manifest)` check, so
    * this deliberately parses only `.snapshot` files. */
  private def snapshotBatches(spark: SparkSession, root: String): Set[String] = {
    val fs = fsFor(spark, root)
    val manifestDir = new org.apache.hadoop.fs.Path(root, "_manifests")
    if (!fs.exists(manifestDir)) return Set.empty
    val snaps = fs.listStatus(manifestDir)
      .filter(_.getPath.getName.endsWith(".snapshot"))
    if (snaps.isEmpty) return Set.empty
    val qualifiedRoot = fs.makeQualified(new org.apache.hadoop.fs.Path(root)).toString
    val cache = manifestCache.computeIfAbsent(qualifiedRoot,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]())
    snaps.sortBy(_.getPath.getName).iterator.flatMap { s =>
      cachedLines(fs, cache, s).iterator
        .filter(_.nonEmpty).map(_.takeWhile(_ != '\t'))
    }.toSet
  }

  /** The committed file list under an atomic destination: every path
    * named by a published manifest or snapshot, in (batch, part) order.
    * Empty when nothing has committed — including when partial data
    * dirs exist. */
  def committedFiles(spark: SparkSession, root: String): Seq[String] =
    committedRegistry(spark, root).values.flatten.toSeq
      .map(rel => new org.apache.hadoop.fs.Path(root, rel).toString)

  /** Fold every loose manifest (and prior snapshot) into ONE snapshot
    * file — the Delta/Iceberg-log-style compaction that keeps a
    * long-lived destination's `_manifests/` listing O(recent batches)
    * instead of O(all batches ever committed). The snapshot records
    * `batchId<TAB>relpath` lines, so BOTH reader resolution and the
    * commit path's replay detection survive the loose manifests'
    * removal. Publication is the same rename-no-overwrite commit point
    * as appendAtomic; the crash windows are all benign: tmp-only →
    * invisible; snapshot published but absorbed files not yet deleted →
    * readers dedup by batch id; concurrent appendAtomic publishing a NEW
    * manifest during compaction → it was not in the listing, stays
    * loose, absorbed next time. Run it as single-writer maintenance
    * (like [[vacuumUnpublished]]); a lost snapshot-name race aborts as a
    * no-op. Returns the number of loose manifests absorbed. */
  def compactManifests(spark: SparkSession, root: String): Int = {
    val fs = fsFor(spark, root)
    val manifestDir = new org.apache.hadoop.fs.Path(root, "_manifests")
    if (!fs.exists(manifestDir)) return 0
    val entries = fs.listStatus(manifestDir).map(_.getPath)
    val loose = entries.filter(_.getName.endsWith(".manifest")).sortBy(_.getName)
    val snaps = entries.filter(_.getName.endsWith(".snapshot")).sortBy(_.getName)
    if (loose.isEmpty) return 0
    val reg = committedRegistry(spark, root)
    val nextIdx = snaps.lastOption
      .map(_.getName.stripSuffix(".snapshot").toLong + 1).getOrElse(0L)
    val name = f"$nextIdx%012d.snapshot"
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      manifestDir.toUri, spark.sparkContext.hadoopConfiguration)
    // attempt-unique tmp: two concurrent compactions must not truncate
    // each other's in-progress file (they share nextIdx; only the rename
    // is the race, and exactly one wins it)
    val tmp = new org.apache.hadoop.fs.Path(manifestDir,
      s".$name.${java.util.UUID.randomUUID()}.inprogress")
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE),
      org.apache.hadoop.fs.Options.CreateOpts.createParent())
    try {
      out.write(reg.iterator.flatMap { case (id, rels) =>
        rels.map(rel => s"$id\t$rel")
      }.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.hsync()
    } finally out.close()
    try fc.rename(tmp, new org.apache.hadoop.fs.Path(manifestDir, name),
      org.apache.hadoop.fs.Options.Rename.NONE)
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException =>
        fs.delete(tmp, false)
        return 0 // lost a concurrent compaction race: their snapshot holds
    }
    // the new snapshot is live — absorbed files are now redundant copies
    loose.foreach(m => fs.delete(m, false))
    snaps.foreach(s => fs.delete(s, false))
    loose.length
  }

  /** Reclaim attempt directories that no published manifest names and
    * that are older than `minAgeMs` — the maintenance half of the commit
    * protocol: crashed attempts and race losers that never cleaned up
    * leave invisible-but-real bytes under `data/` forever (the reference
    * gets this for free from BigQuery load jobs, main.py:136-142). The
    * age gate keeps IN-FLIGHT attempts safe: a dir younger than the gate
    * may belong to a writer that has not reached its commit point yet.
    * Also sweeps abandoned `.inprogress` manifest temps on the same
    * gate. Committed data and published manifests are never touched, so
    * readers are unaffected mid-vacuum. Returns the number of orphan
    * data dirs removed.
    *
    * CONTRACT: `minAgeMs` must exceed the longest possible attempt
    * duration (write + list + manifest publish), or vacuum can delete a
    * slow attempt's data dir between its part listing and its rename.
    * The commit path carries a deterministic backstop — it re-checks the
    * data dir exists inside the commit lock and ABORTS (throws) rather
    * than publish a manifest over deleted files — so an undersized gate
    * degrades to a retried task, never to silent data loss. */
  def vacuumUnpublished(spark: SparkSession, root: String, minAgeMs: Long): Int = {
    require(minAgeMs >= 0, s"minAgeMs must be >= 0: $minAgeMs")
    val fs = fsFor(spark, root)
    val cutoff = System.currentTimeMillis() - minAgeMs
    // dirs named by any committed manifest (second path segment of each
    // `data/<attemptDir>/<part>` line) stay, regardless of age
    val published = committedFiles(spark, root)
      .map(p => new org.apache.hadoop.fs.Path(p).getParent.getName).toSet
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    val removed =
      if (!fs.exists(dataDir)) 0
      else fs.listStatus(dataDir)
        .filter(st => st.isDirectory && !published.contains(st.getPath.getName)
          && st.getModificationTime < cutoff)
        .count { st => fs.delete(st.getPath, true); true }
    val manifestDir = new org.apache.hadoop.fs.Path(root, "_manifests")
    if (fs.exists(manifestDir))
      fs.listStatus(manifestDir)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".inprogress")
          && st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, false))
    removed
  }

  /** [[readEvolved]] over an atomic destination: union schema across the
    * COMMITTED batches only — torn writes, in-flight batches and orphaned
    * data dirs are invisible because readers resolve the manifest set,
    * never the directory listing.
    *
    * The committed part-files go to [[FooterReader]] as the statuses the
    * manifests name, so the read neither lists them again (a Spark job
    * past 32 files) nor infers their schema in a job: the union schema is
    * `mergeSchema`'s (`StructType.merge` in path order), merged on the
    * driver from footers cached per file. A committed part-file is never
    * rewritten, so each call reads the footers of only the batches it has
    * not seen. */
  def readCommitted(spark: SparkSession, root: String): DataFrame = {
    val files = committedFiles(spark, root)
    require(files.nonEmpty, s"no committed batches under $root")
    val fs = fsFor(spark, root)
    FooterReader.readMergedFiles(spark,
      fs.makeQualified(new org.apache.hadoop.fs.Path(root)).toString,
      files.map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(f))))
  }

  /** Format round-trip helpers: the engine is format-agnostic (any
    * DataFrameReader source), but JSONL matters specifically because the
    * reference's upstream is JSON documents — landing raw API pages as
    * JSONL and reading them back with an enforced schema is the standard
    * ingest layout. CSV requires the explicit schema (no type fidelity in
    * the format itself). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** ORC round-trip — the OTHER columnar warehouse format next to
    * parquet: typed schema travels in the file, and filters/projections
    * push down to stripes exactly like parquet row groups (SinksSpec
    * pins PushedFilters in the scan plan). Interop surface for
    * Hive-lineage warehouses. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Write partitioned by a (low-cardinality, typically time-derived)
    * column: each value becomes a directory, and any query filtering on it
    * prunes whole partitions at planning time (PartitionFilters in the
    * scan) — the reference's 7-day window splitting (ticket.py:31-38)
    * turned into the storage layout, and the first-order scan optimization
    * at 100 TB. Pair with `Relational.timeBucket` for the partition key. */
  def writePartitioned(df: DataFrame, partitionCol: String, path: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Write a table bucketed (and sorted) on a join key: the shuffle happens
    * once at write time, and every later join/aggregate on that key plans
    * with NO exchange on this side (asserted in BucketedJoinSpec). The
    * partitioning contract big fact-to-fact joins need at 100 TB — pair
    * with identical bucket counts on both join sides. */
  def writeBucketed(df: DataFrame, key: String, buckets: Int, table: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table) // managed table in the session warehouse

  /** Write range-sorted on an ordering column (typically event time):
    * `repartitionByRange` gives each output file a DISJOINT value range
    * and `sortWithinPartitions` orders rows inside each file, so parquet
    * min/max statistics prune at two levels on any range predicate —
    * whole files at planning/runtime, then row groups inside surviving
    * files. The complement to [[writePartitioned]]: partitioning prunes on
    * the coarse derived key (day), the sorted layout prunes WITHIN a
    * partition (hour/minute ranges) without directory explosion — at
    * 100 TB you want both. `files` sizes the range buckets; disjointness
    * is asserted file-by-file in SinksSpec. */
  def writeSorted(df: DataFrame, sortCol: String, files: Int, path: String): Unit = {
    require(files > 0, s"files must be positive: $files")
    df.repartitionByRange(files, org.apache.spark.sql.functions.col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)
  }

  /** Morton (Z-order) key: interleave the low `bits` bits of two
    * non-negative integer columns — bit i of `x` lands at position 2i,
    * bit i of `y` at 2i+1 (public: Morton '66; the layout behind every
    * lakehouse OPTIMIZE ZORDER). Sorting by the interleaved key clusters
    * BOTH dimensions at once, so a range predicate on EITHER column prunes
    * files/row groups via parquet min/max stats — where a single-column
    * sort ([[writeSorted]]) only ever prunes on its one column.
    *
    * Pure per-row bit arithmetic (a static fold of shift/and/or — one
    * codegen'd projection, no shuffle, no UDF). Inputs must be
    * non-negative; bits above `bits` are ignored (values alias into the
    * low range — acceptable for clustering, wrong for equality, so keep
    * `bits` ≥ the max value's width). */
  def mortonKey(x: Column, y: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31]: $bits")
    import org.apache.spark.sql.functions._
    (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x.cast("long"), b).bitwiseAND(1L), 2 * b))
        .bitwiseOR(shiftleft(shiftright(y.cast("long"), b).bitwiseAND(1L), 2 * b + 1))
    }
  }

  /** Write Z-ordered on two dimensions: range-partition + sort on the
    * Morton key of (xCol, yCol), so each output file covers a compact
    * rectangle-ish region of the (x, y) plane and min/max skipping works
    * for predicates on either column. Same two-level pruning story as
    * [[writeSorted]], generalized to two dimensions. */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String, files: Int,
                    path: String, bits: Int = 21): Unit = {
    require(files > 0, s"files must be positive: $files")
    import org.apache.spark.sql.functions.col
    df.withColumn("__zkey", mortonKey(col(xCol), col(yCol), bits))
      .repartitionByRange(files, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ⌈current-bytes / targetBytes⌉ files. THE maintenance job every
    * append-heavy table needs — a year of incremental micro-batches
    * leaves thousands of KB-sized files, and at 100 TB the scan's task
    * count (and the NameNode/listing pressure) is driven by file count,
    * not data size. Sizing from the CURRENT on-disk footprint (not row
    * counts) keeps the math right under compression and wide/narrow
    * schemas alike. Writes to a NEW directory — Spark cannot safely
    * overwrite an input path it is still reading; callers swap
    * directories atomically afterwards. Returns the file count written. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inDir), spark.sparkContext.hadoopConfiguration)
    // compare QUALIFIED paths — a raw string check lets trailing-slash /
    // relative / scheme aliases smuggle an in-place overwrite through,
    // and overwrite-while-reading deletes the input mid-job
    val qIn = fs.makeQualified(new org.apache.hadoop.fs.Path(inDir))
    val qOut = fs.makeQualified(new org.apache.hadoop.fs.Path(outDir))
    require(qIn != qOut, "compact cannot overwrite its input in place")
    val totalBytes = fs.getContentSummary(qIn).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    FooterReader.read(spark, inDir)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outDir)
    nFiles
  }

  /** K2: create the destination with a seed schema iff missing; returns
    * true when it created. Mirrors get_table-or-create
    * (reference/main.py:127-134): an empty write materializes the path
    * with the seed schema so later appends/evolved reads line up. */
  def createIfMissing(spark: SparkSession, path: String, seed: StructType): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(p)) false
    else {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], seed)
        .write.mode("overwrite").parquet(path)
      true
    }
  }
}
