package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import Json.{num, obj, str}

/** One benchmark workload. A run generates the inputs (several times, for
  * a steady set-up figure), warms up, then runs whole passes; each
  * pass reports its ops through an [[OpTimer]] and returns the number of
  * those ops whose outputs failed a check. */
trait Workload {
  /** Writes the seeded inputs under `dir`; later passes read the latest. */
  def generate(dir: String): Unit
  /** How many times set-up generates the inputs; the median time counts. */
  def generations: Int = 3
  /** The untimed first pass, with any checks a timed pass leaves out;
    * returns the number of its ops whose outputs failed a check. */
  def warmUp(ops: OpTimer, log: String => Unit): Int
  def pass(p: Int, ops: OpTimer, log: String => Unit): Int
  /** Layer counts of the latest pass that only the workload can see. */
  def layerCounts: Map[String, Double]
}

object Workload {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Just enough JSON writing for the result lines and trace files. */
object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

final case class OpResult(seconds: Double, items: Long, ok: Boolean)

/** Times each op from outside, as a closed-loop client would see it. */
final class OpTimer(log: String => Unit) {
  val results = mutable.ArrayBuffer.empty[OpResult]

  def op(name: String, items: Long)(body: => Unit): Boolean = {
    val t0 = System.nanoTime()
    val ok = try { Trace.op(name)(body); true }
    catch { case t: Throwable => log(s"$name failed: $t"); false }
    results += OpResult((System.nanoTime() - t0) / 1e9, items, ok)
    ok
  }
}

object Main {
  /** Measured seconds one pass stands for: the timed ops of a pass take
    * 4.5–6 s (`etl_daily`) and 6.5–7.5 s (`query_mix`) on 4 cores. */
  val NominalPassS = 7.0

  /** Untimed passes after the warm-up pass: the first pass after it still
    * runs about a third slower than the later ones (JIT). */
  val ExtraWarmPasses = 1

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Spark `local[nproc]` with the engine's extensions, all scratch
    * space under `work`. */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.install(spark)
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")
    val benchDir = args("bench-dir")
    val t0Ms = args("t0-ms").toLong
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(work)
    Trace.install(spark)
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0

    val messages = mutable.ArrayBuffer.empty[String]
    val log: String => Unit = m => { messages += m; System.err.println(s"[perfbench] $m") }
    val wl: Workload = workload match {
      case "etl_daily" => new EtlDaily(spark, seed, work)
      case "query_mix" => new QueryMix(spark, seed, benchDir)
      case "corpus_curation" => new CorpusCuration(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up: the inputs are generated into fresh directories, the median
    // time counts, then the untimed warm-up passes.
    val genS = (1 to wl.generations).map { i =>
      val t = System.nanoTime()
      wl.generate(s"$work/input-$i")
      (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    val warm = new OpTimer(log)
    var badOutputs = wl.warmUp(warm, log)
    (0 until ExtraWarmPasses).foreach(p => badOutputs += wl.pass(p, warm, log))
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + median(genS) + warmS

    // Measurement: whole passes, one per NominalPassS of `seconds`. The
    // count follows from `seconds` alone, not from a clock, so a run that
    // is a little slower or faster never gains or loses a pass. A traced
    // run spends the first half untraced, for the overhead figure.
    val passRates = mutable.ArrayBuffer.empty[Double]
    def measure(budget: Double, timer: OpTimer, firstPass: Int): Int = {
      val passes = math.max(1, math.round(budget / NominalPassS).toInt)
      (firstPass until firstPass + passes).foreach { p =>
        val from = timer.results.size
        badOutputs += wl.pass(p, timer, log)
        val ok = timer.results.drop(from).filter(_.ok)
        passRates += ok.map(_.items).sum / ok.map(_.seconds).sum
      }
      firstPass + passes
    }
    val plain = new OpTimer(log)
    val traced = new OpTimer(log)
    if (trace) {
      val next = measure(seconds / 2, plain, ExtraWarmPasses)
      Trace.setEnabled(true)
      measure(seconds / 2, traced, next)
      Trace.setEnabled(false)
    } else measure(seconds, plain, ExtraWarmPasses)

    val all = warm.results ++ plain.results ++ traced.results
    val failedOps = all.count(!_.ok)
    val attempted = all.size
    val setupInfo = Seq(
      "workload" -> str(workload), "seed" -> seed.toString,
      "nproc" -> cpus.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark_version" -> str(spark.version),
      "source" -> str(args.getOrElse("source", "unknown")),
      "session_s" -> num(sessionS), "generate_s" -> genS.map(num).mkString("[", ",", "]"),
      "warmup_s" -> num(warmS), "ops" -> attempted.toString,
      "op_s" -> (plain.results ++ traced.results).map(r => num(r.seconds)).mkString("[", ",", "]"))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val ok = plain.results.filter(_.ok)
        Seq(
          ("setup_s", setupS, "s"),
          ("items_per_s", median(passRates.toSeq), "1/s"),
          ("op_p50_s", median(ok.map(_.seconds).toSeq), "s"),
          ("peak_rss_mb", vmHwmMb(), "MB"))
      } else {
        val report = TraceReport(Trace.spans, wl.layerCounts,
          median(plain.results.map(_.seconds).toSeq),
          median(traced.results.map(_.seconds).toSeq))
        val out = new File(benchDir, "target/traces")
        out.mkdirs()
        val path = new File(out, s"$workload-seed$seed-${System.currentTimeMillis()}.json")
        Files.write(path.toPath, report.json(obj(setupInfo)).getBytes(UTF_8))
        println(s"trace written to ${path.getPath}")
        println(report.table(workload))
        report.perLayer
      }
    spark.stop()

    println(obj(setupInfo ++ Seq("messages" -> messages.map(str).mkString("[", ",", "]"))))
    val m = metrics.map { case (k, v, unit) =>
      k -> obj(Seq("value" -> num(v), "unit" -> str(unit)))
    }
    println(obj(Seq(
      "correct" -> (failedOps + badOutputs == 0).toString,
      "attempted" -> math.max(attempted, 1).toString,
      "failed" -> (failedOps + badOutputs).toString,
      "metrics" -> obj(m))))
  }
}
