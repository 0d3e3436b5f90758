package graft.operators

import org.apache.spark.sql.SparkSession

/** One execution of a data-dependent fixpoint loop with its round
  * telemetry — the shape every convergence loop in the engine returns
  * (connected components, label propagation, k-core, k-truss, landmark
  * BFS). `perRound` holds each executed round's single count, the one
  * action that decides whether the loop goes on: 0 is the fixpoint
  * witness, and `None` marks a round that ran without probing (it cannot
  * end the loop). `converged` is false when the cap, not the data, ended
  * the loop, so a partially converged result is observable. A run whose
  * probe before round 1 already read 0 executes no round and is
  * converged. */
final case class Rounds[A](result: A, perRound: Seq[Option[Long]],
                           converged: Boolean) {
  def rounds: Int = perRound.length
}

object Rounds {

  /** Drives `round(1)`, `round(2)`, … until a round's count is 0 or `cap`
    * rounds have run; `before` is the count probed ahead of round 1, if
    * any (0 runs no round). Each round's jobs carry the description
    * `"<op> round <i>"`, so a job listing attributes them to their round;
    * the caller's description is back in place when this returns.
    * `result` is read once the loop is over. Adds no action of its own. */
  def run[A](spark: SparkSession, op: String, cap: Int, before: Option[Long])
            (round: Int => Option[Long])(result: => A): Rounds[A] = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    val trace = scala.collection.mutable.ArrayBuffer.empty[Option[Long]]
    def fixpoint = trace.lastOption.getOrElse(before).contains(0L)
    try {
      while (trace.length < cap && !fixpoint) {
        sc.setJobDescription(s"$op round ${trace.length + 1}")
        trace += round(trace.length + 1)
      }
    } finally sc.setJobDescription(caller)
    Rounds(result, trace.toSeq, fixpoint)
  }
}
