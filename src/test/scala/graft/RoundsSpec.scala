package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.{Dedup, Graph, Rounds}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The shared round driver: every data-dependent fixpoint loop returns
  * the one [[Rounds]] shape, and tags its round jobs for `graft.Profile`. */
class RoundsSpec extends SparkSuite {
  import spark.implicits._

  /** Each loop operator over a `src`/`dst` edge list, with its cap. */
  private val loops: Seq[(String, Int, DataFrame => Rounds[DataFrame])] = Seq(
    ("duplicateClusters", 20, { e =>
      val nodes = e.select($"src".as("doc_id"))
        .union(e.select($"dst".as("doc_id"))).distinct()
      val run = Dedup.duplicateClustersRun(nodes,
        e.select($"src".as("id_a"), $"dst".as("id_b")), "doc_id")
      Rounds(run.clusters, run.perRound, run.converged)
    }),
    ("labelPropagation", 8, e => Graph.labelPropagationRun(e, 8)),
    ("kCore", 30, e => Graph.kCoreRun(e, 2)),
    ("kTruss", 20, e => Graph.kTrussRun(e, 3)),
    ("landmarkDistances", 4, e => Graph.landmarkDistancesRun(e, 4, 4)))

  test("the five loops on degenerate inputs: no throw, deterministic, " +
    "consistent telemetry") {
    val inputs = Seq(
      "empty" -> Seq.empty[(Long, Long)],
      "one edge" -> Seq((1L, 2L)),
      "self-loops only" -> Seq((1L, 1L), (2L, 2L)))
    for ((op, cap, run) <- loops; (input, pairs) <- inputs) {
      val edges = pairs.toDF("src", "dst")
      val (a, b) = (run(edges), run(edges))
      val what = s"$op on $input: $a"
      assert(a.result.collect().map(_.toString).sorted ===
        b.result.collect().map(_.toString).sorted, what)
      assert(a.perRound === b.perRound && a.converged === b.converged, what)
      assert(a.rounds <= cap, what)
      // a run with no round is one whose first probe found nothing to do
      assert(a.converged ===
        (a.rounds == 0 || a.perRound.flatten.lastOption.contains(0L)), what)
    }
  }

  test("round jobs carry '<op> round <i>'; the caller's description is " +
    "restored") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties.getProperty("spark.job.description"))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("caller")
      val chain = (0L until 6L).map(i => (i, i + 1)).toDF("src", "dst")
      val run = loops.head._3(chain)
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      run.result.collect()
      eventually(timeout(10.seconds)) {
        val descs = seen.asScala.toSet
        assert((1 to run.rounds).forall(i => descs(s"duplicateClusters round $i")),
          descs)
        assert(descs("caller"), descs)
      }
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
