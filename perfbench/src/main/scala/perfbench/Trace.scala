package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spark-side counters gathered while one span was the innermost open
  * span. Filled by [[Trace.Listener]] on the listener-bus thread; read on
  * the main thread only after the bus has been drained. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var schedWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  var planNs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; schedWaitMs += o.schedWaitMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
    planNs += o.planNs; jobIntervals ++= o.jobIntervals
  }
}

/** One call into a layer. `startMs`/`endMs` are epoch milliseconds, the
  * clock Spark's listener events use; `durNs` is the monotonic duration. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startMs: Long, endMs: Long, durNs: Long,
                      own: Counters)

/** Span recorder for the traced run. Every workload wraps its calls into
  * the engine in [[Trace.span]]; with tracing off that is a plain call.
  * With tracing on, the listener bus is drained at every span boundary,
  * so each Spark event lands in the span that was innermost when it was
  * posted. Spans stay in memory until [[Trace.spans]] is written out. */
object Trace {
  @volatile private var current: Counters = new Counters
  private var enabled = false
  private var spark: SparkSession = _
  // open spans, innermost first: (id, start ms, start ns, own counters)
  private var stack = List.empty[(Int, Long, Long, Counters)]
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var opId = -1

  def spans: Seq[Span] = done.toSeq

  def install(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(new Listener)
    s.listenerManager.register(new PlanListener)
  }

  def setEnabled(on: Boolean): Unit = { drain(); enabled = on }

  private def drain(): Unit =
    if (spark != null) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Root span of one op; nested [[span]] calls share its op id. */
  def op[T](name: String)(body: => T): T = {
    opId += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    drain()
    val own = new Counters
    val id = nextId
    nextId += 1
    stack = (id, System.currentTimeMillis(), System.nanoTime(), own) :: stack
    current = own
    try body
    finally {
      drain()
      val (_, startMs, startNs, _) = stack.head
      stack = stack.tail
      done += Span(id, name, stack.headOption.fold(-1)(_._1), opId, startMs,
        System.currentTimeMillis(), System.nanoTime() - startNs, own)
      current = stack.headOption.fold(new Counters)(_._4)
    }
  }

  private class Listener extends SparkListener {
    private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
    private val jobStartMs = mutable.Map.empty[Int, (Long, Counters)]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = current
      c.jobs += 1
      jobStartMs(e.jobId) = (e.time, c)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStartMs.remove(e.jobId).foreach { case (t0, c) =>
        c.jobIntervals += ((t0, e.time))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      current.stages += 1
      val si = e.stageInfo
      stageSubmitMs((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageSubmitMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = current
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { t =>
        c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t)
      }
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
      }
    }
  }

  /** Catalyst phase times of every execution, eager collects included. */
  private class PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      current.planNs += Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }
}
