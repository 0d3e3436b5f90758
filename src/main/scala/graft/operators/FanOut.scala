package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scan-width fan-out for CPU-dense operators over unsplittable inputs
  * (optimization guide §2.5 "Input skew: one huge unsplittable file …
  * repartition immediately after the read").
  *
  * A parquet file is splittable only at row-group boundaries; the
  * harness tables are written as ONE row group per file, so every scan
  * yields a single non-empty task regardless of cores — and with it the
  * whole pre-exchange pipeline: tokenize/explode, shingle hashing,
  * vector math, self-join pair generation and partial aggregation all
  * run serially while 31 cores idle (measured: q_kcore's pair build was
  * a 3-task stage with 3.6 s of single-threaded CPU on a 32-core
  * session). The fix is the guide's: repartition right after the read,
  * paying one exchange of the RAW scan rows (a few MB here) to run the
  * expensive projection at session width.
  *
  * Scale-adaptive, not local-tuned: the width test recomputes the scan
  * split arithmetic Spark itself uses (maxSplitBytes = min(
  * maxPartitionBytes, max(openCostInBytes, bytes/parallelism))) from
  * the plan's leaf bytes, and only fans out when the resulting scan
  * width is below the session width AND the input is small enough that
  * the extra exchange is bounded by one scan split per core (bytes ≤
  * width · maxPartitionBytes). At warehouse scale either condition
  * fails — inputs split wide on their own — and this is an exact
  * no-op, leaving plans byte-identical. An unknown input size
  * ([[Sizing.leafBytes]] is `None`) is a no-op too.
  */
object FanOut {

  /** `df` hash-repartitioned on `keys` to session width when its leaf
    * scan is provably narrower than the session width (see object doc);
    * `df` unchanged otherwise. With a key the exchange is reusable by a
    * downstream groupBy/join on the same key (guide §2.4); keyless
    * callers get round-robin. */
  def widen(df: DataFrame, keys: Column*): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val width = conf.numShufflePartitions
    val narrow = Sizing.leafBytes(df).exists { b =>
      val maxSplit = math.min(conf.filesMaxPartitionBytes,
        math.max(conf.filesOpenCostInBytes, b / math.max(1, width)))
      val scanWidth = (b + maxSplit - 1) / math.max(1L, maxSplit)
      scanWidth < width && b <= width.toLong * conf.filesMaxPartitionBytes
    }
    if (!narrow) df
    else if (keys.nonEmpty) df.repartition(width, keys: _*)
    else df.repartition(width)
  }
}
