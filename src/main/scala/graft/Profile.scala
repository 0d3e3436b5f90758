package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-query job/stage breakdown, the Spark-UI substitute for a session
  * with the UI disabled (not part of the benchmark). For each named
  * query: one untimed warmup, then a timed noop-sink write (the noop sink
  * computes every output column, as in [[Bench]]) with a listener that
  * records every job's wall clock and every stage's aggregate task
  * metrics (executor run/CPU time, shuffle bytes, spill, input).
  *
  * Usage: runMain graft.Profile <sfDir> <q1,q2,...>
  */
object Profile {

  final case class StageRec(stageId: Int, name: String, numTasks: Int,
                            runMs: Long, cpuMs: Long,
                            shufReadMB: Double, shufWriteMB: Double,
                            spillMB: Double, inputMB: Double)
  final case class JobRec(jobId: Int, desc: String, wallMs: Long,
                          stages: Seq[StageRec])

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Profile <sfDir> <q1,q2,...>")
    val sfDir = args(0)
    val qs = SparkEntry.named(args.toSeq.drop(1).flatMap(_.split(",")))
    val spark = Sessions.local(Sessions.cpus)

    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val jobStart = mutable.Map.empty[Int, (Long, String, Seq[Int])]
    val stageRecs = mutable.Map.empty[Int, StageRec]
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (collecting) jobStart(e.jobId) = (e.time,
          Option(e.properties.getProperty("spark.job.description")).getOrElse(""),
          e.stageIds.map(_.toInt))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (collecting) jobStart.remove(e.jobId).foreach { case (t0, d, sids) =>
          jobs += JobRec(e.jobId, d, e.time - t0,
            sids.flatMap(stageRecs.get))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val si = e.stageInfo
          val m = si.taskMetrics
          stageRecs(si.stageId) = StageRec(si.stageId,
            si.name.takeWhile(_ != '\n').take(60), si.numTasks,
            m.executorRunTime, m.executorCpuTime / 1000000,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.diskBytesSpilled / 1e6,
            m.inputMetrics.bytesRead / 1e6)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    qs.foreach { q =>
      val (name, fn) = (q.name, q.build)
      // warmup (codegen/JIT), untimed and unrecorded
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      jobs.clear(); stageRecs.clear(); jobStart.clear()
      collecting = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the listener queue before reading (the listener bus is
      // private to Spark; a short sleep is enough for a local session)
      Thread.sleep(300)
      collecting = false
      println(f"\n===== $name wall=$wall%.2f s jobs=${jobs.size} " +
        f"jobWallSum=${jobs.map(_.wallMs).sum / 1e3}%.2f s =====")
      jobs.sortBy(-_.wallMs).take(30).foreach { j =>
        println(f"  job ${j.jobId}%4d ${j.wallMs / 1e3}%7.2f s  ${j.desc.take(80)}")
        j.stages.sortBy(-_.runMs).take(4).foreach { s =>
          println(f"    stage ${s.stageId}%4d ${s.name}%-60s tasks=${s.numTasks}%3d " +
            f"run=${s.runMs / 1e3}%7.2f s cpu=${s.cpuMs / 1e3}%7.2f s " +
            f"sr=${s.shufReadMB}%8.1f MB sw=${s.shufWriteMB}%8.1f MB " +
            f"spill=${s.spillMB}%6.1f MB in=${s.inputMB}%7.1f MB")
        }
      }
    }
    spark.stop()
  }
}
