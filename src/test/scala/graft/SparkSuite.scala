package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: the mains' session (UTC, extensions installed) on a
  * fixed 4 cores, so a suite's plans do not depend on the test box or on
  * which suite ran first in the forked JVM. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs this thread started while `body` runs. Jobs are tagged
    * with a thread-local property, so jobs of other threads sharing the
    * SparkContext are not counted; listener events arrive in order, so
    * once a tagged marker job started after `body` is seen, every job
    * `body` started has been counted. */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(p => p.getProperty("graft.test.tag") == tag)
          .foreach(p => started.add(String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", tag)
    try {
      val out = body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000L
      while (!started.contains("marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(started.contains("marker"), "marker job never reached the listener")
      (out, started.size - 1)
    } finally {
      sc.setJobDescription(null)
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(listener)
    }
  }
}
