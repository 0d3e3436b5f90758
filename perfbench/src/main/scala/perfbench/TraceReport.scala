package perfbench

/** Turns the recorded spans of a traced run into per-op layer figures:
  * Spark listener totals, Catalyst planning time, each layer's inclusive
  * and self time (its span minus the time covered by its child spans),
  * the workload's own layer counts, and the tracing overhead (traced
  * minus untraced median op latency). */
final case class TraceReport(spans: Seq[Span], counts: Map[String, Double],
                             untracedP50: Double, tracedP50: Double) {
  private val roots = spans.filter(_.parent == -1)
  private val nOps = math.max(roots.size, 1).toDouble
  private val children = spans.groupBy(_.parent)

  private def opTotals(op: Int): Counters = {
    val c = new Counters
    spans.filter(_.op == op).foreach(s => c.add(s.own))
    c
  }
  private val totals = roots.map(r => r -> opTotals(r.op))

  /** Op wall time covered by no Spark job. */
  private def driverGapMs(root: Span, c: Counters): Double = {
    val iv = c.jobIntervals.map { case (a, b) =>
      (math.max(a, root.startMs), math.min(b, root.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    (root.endMs - root.startMs - covered).toDouble
  }

  private def perOp(f: Counters => Double): Double = totals.map(t => f(t._2)).sum / nOps

  val perLayer: Seq[(String, Double, String)] = {
    val wallS = roots.map(_.durNs / 1e9).sum
    val runS = totals.map(_._2.taskRunMs / 1e3).sum
    Seq(
      ("spark.jobs", perOp(_.jobs.toDouble), "count"),
      ("spark.stages", perOp(_.stages.toDouble), "count"),
      ("spark.tasks", perOp(_.tasks.toDouble), "count"),
      ("spark.task_run_s", perOp(_.taskRunMs / 1e3), "s"),
      ("spark.task_cpu_s", perOp(_.taskCpuNs / 1e9), "s"),
      ("spark.busy_tasks", if (wallS > 0) runS / wallS else 0.0, "tasks"),
      ("spark.sched_wait_s", perOp(_.schedWaitMs / 1e3), "s"),
      ("spark.driver_gap_s", totals.map { case (r, c) => driverGapMs(r, c) / 1e3 }.sum / nOps, "s"),
      ("spark.shuffle_write_bytes", perOp(_.shuffleWriteBytes.toDouble), "bytes"),
      ("spark.shuffle_read_bytes", perOp(_.shuffleReadBytes.toDouble), "bytes"),
      ("spark.spill_bytes", perOp(_.spillBytes.toDouble), "bytes"),
      ("spark.peak_exec_mem_bytes", perOp(_.peakExecMemBytes.toDouble), "bytes"),
      ("spark.failed_tasks", perOp(_.failedTasks.toDouble), "count"),
      ("catalyst.plan_s", perOp(_.planNs / 1e9), "s"),
      ("trace.overhead_s", tracedP50 - untracedP50, "s"))
  }

  /** Mean inclusive and self seconds per op, by span name. */
  val layers: Seq[(String, Double, Double)] =
    spans.filter(_.parent != -1).groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val incl = ss.map(_.durNs).sum / 1e9
      val self = ss.map(s => s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum).sum / 1e9
      (name, incl / nOps, self / nOps)
    }

  /** Op time outside every layer span: the benchmark's own glue. */
  val opSelfS: Double = roots.map(r =>
    r.durNs - children.getOrElse(r.id, Nil).map(_.durNs).sum).sum / 1e9 / nOps

  /** Every figure of the report as flat name → value pairs. */
  val flat: Seq[(String, Double)] =
    perLayer.map(m => m._1 -> m._2) ++
      layers.flatMap { case (n, incl, self) => Seq(s"${n}_s" -> incl, s"self.${n}_s" -> self) } ++
      Seq("self.op_s" -> opSelfS, "trace.ops" -> roots.size.toDouble,
        "trace.untraced_p50_s" -> untracedP50, "trace.traced_p50_s" -> tracedP50) ++
      counts.toSeq.sortBy(_._1)

  def table(workload: String): String = {
    val sb = new StringBuilder(s"layer report for $workload (${roots.size} traced ops, per op)\n")
    flat.foreach { case (k, v) => sb ++= f"  $k%-34s $v%.6g\n" }
    sb.toString
  }

  def json(setup: String): String = {
    import Json.{num => n, str => q}
    val summary = flat.map { case (k, v) => s"${q(k)}:${n(v)}" }.mkString("{", ",", "}")
    val spanRows = spans.map { s =>
      val c = s.own
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${s.durNs / 1e9},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""task_run_s":${c.taskRunMs / 1e3},"plan_s":${c.planNs / 1e9},""" +
        c.jobIntervals.map { case (a, b) => b - a }.mkString(""""job_ms":[""", ",", "]}")
    }.mkString("[", ",\n", "]")
    s"""{"setup":$setup,"summary":$summary,"spans":$spanRows}""" + "\n"
  }
}
