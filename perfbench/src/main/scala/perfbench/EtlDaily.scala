package perfbench

import graft.Pipeline
import graft.operators.{Joins, Sinks}
import graft.sources.TicketApi
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.{File, PrintWriter}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** `etl_daily`: the reference pipeline's own traffic. A pass is a closed
  * loop of day-batches against a fresh atomic destination that grows
  * batch by batch. Each batch lands nested ticket and chat JSON, runs
  * [[Pipeline.run]] against the committed destination, commits with
  * [[Sinks.appendAtomic]], then writes back ticket statuses scanned from
  * the ticket API source with [[Joins.upsert]]. */
final class EtlDaily(spark: SparkSession, seed: Long, work: String) extends Workload {
  import EtlDaily._

  private var dir: String = _
  private var lastFiles = 0.0
  private var lastBytesPerRow = 0.0
  private var lastPages = 0.0
  private var lastRetries = 0.0

  def generate(d: String): Unit = {
    (0 until Batches).foreach { b =>
      val bd = new File(s"$d/batch-$b")
      bd.mkdirs()
      writeLines(new File(bd, "tickets.jsonl"), batchTickets(b).map(ticketJson(_, b)))
      writeLines(new File(bd, "chats.jsonl"), (0 until ChatsPerBatch).map(chatJson(b, _)))
    }
    dir = d
  }

  private def writeLines(f: File, lines: Iterable[String]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  /** New tickets of batch b, then re-deliveries of earlier batches' tickets. */
  private def batchTickets(b: Int): Seq[Long] = {
    val fresh = (b.toLong * NewPerBatch) until ((b + 1).toLong * NewPerBatch)
    val rnd = new scala.util.Random(seed * 7919 + b)
    val again = if (b == 0) Nil
      else Seq.fill(RedeliveredPerBatch)(rnd.nextLong(b.toLong * NewPerBatch)).distinct
    fresh ++ again
  }

  private def ticketJson(k: Long, b: Int): String = {
    val r = new scala.util.Random(seed * 1000003L + k)
    def w(n: Int) = Seq.fill(n)(Words(r.nextInt(Words.length))).mkString(" ")
    val createdUs = TicketApi.anchorUs + k * TicketApi.stepUs
    val updated = if (DropsUpdatedAt(b)) ""
      else s""""updatedAt":"${iso(createdUs + r.nextInt(86400) * 1000000L)}","""
    val cf = Seq(
      s"""{"key":"cpf","value":"${100000000 + r.nextInt(899999999)}"}""",
      s"""{"key":"produto","value":"${w(2)}"}""",
      s"""{"key":"n_do_pedido","value":"P${r.nextInt(1000000)}"}""",
      s"""{"key":"zzz_interno","value":"${w(1)}"}""",
      s"""{"key":"campo_legado","value":"${r.nextInt(100)}"}""")
      .filter(_ => r.nextInt(4) != 0).mkString(",")
    // one ticket in 100 arrives with a null id
    val id = if (r.nextInt(100) == 1) "null" else s""""t-$k""""
    s"""{"id":$id,"number":$k,"summary":"${w(4 + r.nextInt(6))}",""" +
      s""""tags":["${Words(r.nextInt(Words.length))}"],"createdAt":"${iso(createdUs)}",""" +
      updated +
      s""""status":{"name":"${Statuses(r.nextInt(Statuses.length))}"},""" +
      s""""channel":{"name":"${Channels(r.nextInt(Channels.length))}"},""" +
      s""""requester":{"name":"${w(2)}","email":"user${k % 977}@example.com"},""" +
      s""""group":{"id":"g${r.nextInt(12)}"},""" +
      s""""lastHumanInteraction":{"propertiesChanges":{"status":"${Statuses(r.nextInt(Statuses.length))}"}},""" +
      s""""customField":[$cf]}"""
  }

  /** Chat j of batch b: the first ones each reference a distinct new
    * ticket of the batch, the rest reference none. */
  private def chatJson(b: Int, j: Int): String = {
    val r = new scala.util.Random(seed * 3000017L + b * 100000L + j)
    val ref = if (j < LinkedChats) s""""${b.toLong * NewPerBatch + j.toLong * (NewPerBatch / LinkedChats)}""""
      else "null"
    val extra = ChatDrift(b).map(c => s""","$c":"${Words(r.nextInt(Words.length))}"""").mkString
    s"""{"chat_id":"c-$b-$j","number":${chatNumber(b, j)},"evt_ticket_ticketNumber":$ref,""" +
      s""""Regiao":"${Regions(r.nextInt(Regions.length))}","status":"${Statuses(r.nextInt(Statuses.length))}"$extra}"""
  }

  def warmUp(ops: OpTimer, log: String => Unit): Int = pass(-1, ops, log)

  def pass(p: Int, ops: OpTimer, log: String => Unit): Int = {
    val root = s"$work/pass-$p"
    Workload.deleteTree(new File(s"$work/pass-${p - 1}"))
    val dest = s"$root/dest"
    TicketApi.attempts.clear()
    Sinks.appendAtomic(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], DestSeed), dest, "seed")
    var status: DataFrame = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StatusSchema)
    var failed = 0
    (0 until Batches).foreach { b =>
      val statusOut = s"$root/status/v$b"
      val items = batchTickets(b).size + ChatsPerBatch
      val prior = status
      val ok = ops.op("etl.batch", items) {
        val tickets = Trace.span("sinks.read_jsonl") {
          Sinks.readJsonl(spark, s"$dir/batch-$b/tickets.jsonl", ticketSchema(b))
        }
        val chats = Trace.span("sinks.read_jsonl") {
          Sinks.readJsonl(spark, s"$dir/batch-$b/chats.jsonl", chatSchema(b))
        }
        val current = Trace.span("sinks.read_committed") { Sinks.readCommitted(spark, dest) }
        val out = Trace.span("pipeline.build") {
          Pipeline.run(tickets, chats, current, uuidGen = UuidGen)
            .withColumn("upload", lit(f"2024-02-${b + 1}%02d 06:00:00").cast("timestamp"))
        }
        Trace.span("sinks.append") { Sinks.appendAtomic(out, dest, s"day-$b") }
        val (lo, hi) = window(b)
        val scanned = Trace.span("source.scan") {
          spark.read.format("graft.sources.TicketDataSource")
            .option("start", iso(lo, ZoneOffset.UTC)).option("end", iso(hi, ZoneOffset.UTC))
            .option("windowDays", "2").load()
            .filter(col("created_at").between(timestamp_micros(lit(lo)), timestamp_micros(lit(hi))))
            .select(col("number"), col("status"))
            .localCheckpoint()
        }
        Trace.span("joins.upsert") {
          Joins.upsert(prior, scanned, "number").write.parquet(statusOut)
        }
      }
      spark.catalog.clearCache()
      if (ok) {
        status = spark.read.parquet(statusOut)
        if (check(b, dest, status, log) > 0) failed += 1
      }
    }
    val files = Sinks.committedFiles(spark, dest)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val bytes = files.map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(dest, f)).getLen).sum
    lastFiles = files.size
    lastBytesPerRow = bytes.toDouble / math.max(expectedRows(Batches - 1), 1)
    val attempts = TicketApi.attempts.values().toArray.map(_.asInstanceOf[Integer].intValue)
    lastPages = attempts.length.toDouble / Batches
    lastRetries = (attempts.sum - attempts.length).toDouble / Batches
    failed
  }

  /** Output checks after batch b; returns the number that failed. */
  private def check(b: Int, dest: String, status: DataFrame, log: String => Unit): Int = {
    val d = Sinks.readCommitted(spark, dest)
      .agg(count(lit(1)), count(col("n_ticket")), countDistinct(col("n_ticket"))).head()
    var failed = 0
    if (d.getLong(0) != expectedRows(b)) {
      log(s"etl_daily batch $b: destination has ${d.getLong(0)} rows, expected ${expectedRows(b)}")
      failed += 1
    }
    if (d.getLong(1) != d.getLong(2)) {
      log(s"etl_daily batch $b: ${d.getLong(1) - d.getLong(2)} duplicate n_ticket values")
      failed += 1
    }
    val total = status.count()
    val lo = b.toLong * NewPerBatch
    val window = status.filter(col("number").between(lo, lo + NewPerBatch - 1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val wrong = (lo until lo + NewPerBatch).count(k => !window.get(k).contains(TicketApi.ticketAt(k).status))
    if (total != (b + 1).toLong * NewPerBatch || window.size != NewPerBatch || wrong > 0) {
      log(s"etl_daily batch $b: status table has $total rows, $wrong of the window differ from the API")
      failed += 1
    }
    failed
  }

  def layerCounts: Map[String, Double] = Map(
    "sinks.files" -> lastFiles, "sinks.bytes_per_row" -> lastBytesPerRow,
    "source.pages" -> lastPages, "source.retries" -> lastRetries)
}

object EtlDaily {
  val Batches = 5
  val NewPerBatch = 4000
  val RedeliveredPerBatch = 800
  val ChatsPerBatch = 1000
  val LinkedChats = 900

  /** Drift: every third batch lands without `updatedAt`; from the third
    * batch on the chats carry a new custom-field column, from the fifth a
    * second one. */
  def DropsUpdatedAt(b: Int): Boolean = b % 3 == 2
  def ChatDrift(b: Int): Seq[String] =
    Seq("cf_canal_origem" -> 2, "cf_prioridade" -> 4).collect { case (c, from) if b >= from => c }

  val Words: Array[String] = Array("pedido", "entrega", "troca", "uniforme", "tamanho",
    "camisa", "calca", "atraso", "nota", "fiscal", "boleto", "pix", "cliente", "loja",
    "estoque", "devolucao", "cor", "bordado", "escola", "empresa")
  val Statuses: Array[String] = Array("Aberto", "Fechado", "Pendente", "Resolvido")
  val Channels: Array[String] = Array("chat", "email", "whatsapp", "telefone")
  val Regions: Array[String] = Array("Sul", "Sudeste", "Norte", "Nordeste", "Centro-Oeste")

  private val Offset = ZoneOffset.ofHours(-3)
  private val IsoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssZ")
  def iso(us: Long, zone: ZoneOffset = Offset): String =
    if (zone == ZoneOffset.UTC) Instant.ofEpochSecond(us / 1000000L).toString
    else Instant.ofEpochSecond(us / 1000000L).atOffset(zone).format(IsoFmt)

  def chatNumber(b: Int, j: Int): Long = 1000000L + b.toLong * ChatsPerBatch + j

  /** Created-at span of batch b's new tickets, in microseconds. */
  def window(b: Int): (Long, Long) = {
    val k0 = b.toLong * NewPerBatch
    (TicketApi.anchorUs + k0 * TicketApi.stepUs,
      TicketApi.anchorUs + (k0 + NewPerBatch - 1) * TicketApi.stepUs)
  }

  /** Destination rows after batch b: one per new ticket (a linked chat
    * merges into its ticket's row) plus one per unlinked chat. */
  def expectedRows(b: Int): Long = (b + 1).toLong * (NewPerBatch + ChatsPerBatch - LinkedChats)

  /** Deterministic key for rows without one, such as the tickets that
    * arrive with a null `id` (the reference draws uuid4). */
  val UuidGen = concat(lit("gen-"), coalesce(col("n_ticket"), col("number").cast("string")))

  val DestSeed: StructType = StructType(Seq(
    StructField("uuid", StringType), StructField("n_ticket", StringType),
    StructField("number", LongType)))
  val StatusSchema: StructType = StructType(Seq(
    StructField("number", LongType, nullable = false),
    StructField("status", StringType, nullable = false)))

  private val kv = ArrayType(StructType(Seq(
    StructField("key", StringType), StructField("value", StringType))))
  private def struct1(f: (String, DataType)*) =
    StructType(f.map { case (n, t) => StructField(n, t) })

  def ticketSchema(b: Int): StructType = StructType(Seq(
    StructField("id", StringType), StructField("number", LongType),
    StructField("summary", StringType), StructField("tags", ArrayType(StringType)),
    StructField("createdAt", StringType)) ++
    (if (DropsUpdatedAt(b)) Nil else Seq(StructField("updatedAt", StringType))) ++ Seq(
    StructField("status", struct1("name" -> StringType)),
    StructField("channel", struct1("name" -> StringType)),
    StructField("requester", struct1("name" -> StringType, "email" -> StringType)),
    StructField("group", struct1("id" -> StringType)),
    StructField("lastHumanInteraction",
      struct1("propertiesChanges" -> struct1("status" -> StringType))),
    StructField("customField", kv)))

  def chatSchema(b: Int): StructType = StructType(Seq(
    StructField("chat_id", StringType), StructField("number", LongType),
    StructField("evt_ticket_ticketNumber", StringType),
    StructField("Regiao", StringType), StructField("status", StringType)) ++
    ChatDrift(b).map(StructField(_, StringType)))
}
