package graft.operators

import org.apache.spark.sql.DataFrame

/** The one input-size measurement behind the scale-adaptive operators
  * ([[FanOut.widen]], `Graph.edgeWidth`, [[Prefix.isWide]]): the
  * optimized plan's summed leaf `sizeInBytes`. Each caller keeps its own
  * decision formula over it. */
object Sizing {

  /** Leaves without statistics report Spark's saturated default size,
    * so any sum at or above this is unknown, not large. */
  private val Unknown = BigInt(1) << 47

  /** Summed leaf bytes of `df`'s optimized plan; `None` when any leaf's
    * size is unknown (the sum reaches 2⁴⁷). */
  def leafBytes(df: DataFrame): Option[Long] = {
    val bytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (bytes >= Unknown) None else Some(bytes.toLong)
  }
}
