package graft

import graft.operators.Sinks
import org.apache.spark.sql.functions._

/** End-to-end reference-pipeline flow over Octadesk-shaped fixtures
  * (FIXTURES.md §A): the §3.1 DAG produces the destination-shaped frame,
  * dedupes against the warehouse and appends — a reference user's whole
  * main.py run on this engine. */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private lazy val tickets = spark.read.json(Seq(
    """{"id":"t1","number":101,"summary":"broken zipper","tags":["vip"],
        "createdAt":"2024-01-01T10:00:00-0300","updatedAt":"2024-01-02T10:00:00-0300",
        "status":{"name":"Aberto"},"channel":{"name":"chat"},
        "requester":{"name":"Ana","email":"ana@x.com"},"group":{"id":"g7"},
        "lastHumanInteraction":{"propertiesChanges":{"status":"waiting"}},
        "customField":[{"key":"cpf","value":"123"},{"key":"produto","value":"uniforme"},
                       {"key":"zzz","value":"drop-me"}]}""",
    """{"id":"","number":102,"summary":"blank id → synthesized",
        "createdAt":"2024-01-03T09:00:00-0300","updatedAt":"2024-01-03T09:30:00-0300",
        "status":{"name":"Fechado"},"channel":{"name":"email"},
        "requester":{"name":"Bo","email":"bo@x.com"},"group":{"id":"g1"},
        "lastHumanInteraction":{"propertiesChanges":{"status":"done"}},
        "customField":[]}""").toDS())

  private lazy val chats = spark.read.json(Seq(
    """{"chat_id":"c9","number":900,"evt_ticket_ticketNumber":"101",
        "Regiao":"Sul","status":"closed"}""",
    """{"chat_id":"c10","number":901,"evt_ticket_ticketNumber":null,
        "Regiao":"Norte","status":"open"}""").toDS())

  test("the full main.py DAG: merge, synthesize, sanitize, dedup, append") {
    // destination already holds ticket 102 → dedup must drop it
    val dest = Seq(("old", "102")).toDF("uuid", "n_ticket")
    val out = Pipeline.run(tickets, chats, dest,
      uuidGen = concat(lit("gen-"), coalesce(col("n_ticket"), lit("x"))))
    val rows = out.collect().map(r =>
      Option(r.getAs[String]("n_ticket")).getOrElse("∅") -> r).toMap

    // ticket 101 merged with chat c9 on the ticket number
    assert(rows.contains("101"))
    val t101 = rows("101")
    assert(t101.getAs[String]("status") === "closed")      // chat-side status
    assert(t101.getAs[String]("status_ticket") === "Aberto") // no collision → no suffix
    assert(t101.getAs[String]("ticket_cpf") === "123")          // whitelisted cf
    assert(!out.columns.contains("ticket_zzz"))                 // non-whitelisted dropped
    assert(t101.getAs[String]("uuid") === "t1")                 // kept, not synthesized

    // chat-only row survives the full-outer merge with a synthesized uuid
    val chatOnly = rows("∅")
    assert(chatOnly.getAs[String]("Regiao") === "Norte")
    assert(chatOnly.getAs[String]("uuid") === "gen-x")

    // ticket 102 was dropped by the destination dedup
    assert(!rows.contains("102"))

    // hygiene: audit timestamp present, all names destination-safe
    assert(out.columns.contains("upload"))
    assert(out.columns.forall(_.matches("^[0-9A-Za-z_]{1,300}$")))

    // and the result appends onto the evolved destination
    val path = java.nio.file.Files.createTempDirectory("pipe-").toString + "/dest"
    Sinks.appendEvolving(dest, path)
    Sinks.appendEvolving(out.withColumn("upload", lit("2024-01-04")), path)
    assert(Sinks.readEvolved(spark, path).count() === 3)
  }

  test("empty ticket source: chat rows still flow (E1 guard shape)") {
    val emptyTickets = tickets.limit(0)
    val out = Pipeline.run(emptyTickets, chats, Seq.empty[(String, String)].toDF("uuid", "n_ticket"),
      uuidGen = lit("gen"))
    assert(out.count() === 2) // both chats survive the outer merge
  }

  test("blank and null ids: one row per ticket, each with its own custom fields") {
    // the custom-field pivot is per-row enrichment (extrair_custom_ticket):
    // blank ids must not match each other, null ids keep their fields
    val batch = spark.read.json(Seq(
      """{"id":"","number":201,"customField":[{"key":"cpf","value":"111"}]}""",
      """{"id":"","number":202,"customField":[{"key":"cpf","value":"222"}]}""",
      """{"id":null,"number":203,"customField":[{"key":"cpf","value":"333"}]}""")
      .toDS())
    val out = Pipeline.run(batch, chats.limit(0),
      Seq.empty[(String, String)].toDF("uuid", "n_ticket"),
      uuidGen = concat(lit("gen-"), col("n_ticket")))
    val rows = out.select("n_ticket", "ticket_cpf", "uuid").as[(String, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(rows === Seq(("201", "111", "gen-201"), ("202", "222", "gen-202"),
      ("203", "333", "gen-203")))
  }
}
