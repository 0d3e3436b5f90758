package graft

import graft.operators._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The reference pipeline end-to-end (SURVEY.md §3.1: main.py stages 3-7)
  * as ONE lazy DataFrame DAG.
  *
  * Where the reference eagerly materializes a pandas frame per stage on a
  * single thread, here every stage is a declarative transform on the same
  * plan: Catalyst analyzes/optimizes once (filter+projection pushdown into
  * the source scans, one scan of the tickets, one shuffle for the entity
  * merge) and execution crosses the driver→executor boundary at the first
  * action. A user of the reference runs exactly this flow:
  *
  *   tickets JSON → backfill → flatten+rename → per-row custom-field
  *   whitelist pivot (main.py:90-91) → string casts → full-outer merge
  *   with chats on ticket number (main.py:100-103) → uuid synthesis →
  *   audit timestamp → name sanitation → dedup vs destination →
  *   duplicate-column drop → [append via Sinks.appendEvolving].
  */
object Pipeline {

  /** main.py:46-62 rename map: dotted source path → business name —
    * VERBATIM the reference's `rename_map`, including the identity entries
    * (createdAt/updatedAt keep their source names) and the two raw
    * custom-field payloads (campo_custom_ticket feeds the whitelist
    * extraction at main.py:90 and STAYS a column of the merged output,
    * exactly as df_ticket_filtro1 keeps it). */
  val ticketRenameMap: Seq[(String, String)] = Seq(
    "id" -> "uuid",
    "number" -> "n_ticket",
    "summary" -> "titulo",
    "tags" -> "tags_ticket",
    "createdAt" -> "createdAt",
    "updatedAt" -> "updatedAt",
    "status.name" -> "status_ticket",
    "channel.name" -> "channel_ticket",
    "requester.name" -> "autor_ticket",
    "requester.email" -> "email_ticket",
    "group.id" -> "grupo_responsavel_ticket",
    "lastHumanInteraction.propertiesChanges.status" -> "status_ticket2",
    "customField" -> "campo_custom_ticket",
    "requester.customField" -> "campo_custom_ticket2")

  /** ticket.py:71-76 custom-field whitelist. */
  val customFieldWhitelist: Seq[String] = Seq(
    "codigo_de_rastreio", "cpf", "data_de_pagamento", "email_do_cliente",
    "motivo_de_contatos", "n_da_nota_fiscal", "n_do_pedido",
    "n_do_pedido_bling", "produto", "tipo_do_problema")

  /** Is the dotted path resolvable against the frame's schema? Mirrors
    * main.py:85-87's membership test on json_normalize's flattened dotted
    * column names — here the dots are real nested-struct steps. */
  private def resolvable(df: DataFrame, path: String): Boolean = {
    import org.apache.spark.sql.types.StructType
    def walk(dt: org.apache.spark.sql.types.DataType, parts: List[String]): Boolean =
      (dt, parts) match {
        case (_, Nil) => true
        case (st: StructType, p :: rest) =>
          st.fields.find(_.name.equalsIgnoreCase(p))
            .exists(f => walk(f.dataType, rest))
        case _ => false
      }
    walk(df.schema, path.split("\\.").toList)
  }

  /** Ticket branch: backfill → select/rename (dotted paths) → whitelist
    * custom-field pivot → casts → constant overwrite.
    *
    * The pivot is per-row enrichment, which is what extrair_custom_ticket
    * + the left join on uuid compute for tickets with distinct ids
    * (main.py:90-91): each ticket gets the whitelisted keys of its OWN
    * `campo_custom_ticket`. It is computed on the same row, not joined
    * back on the raw id: the tickets are scanned once, and a ticket with
    * a blank or null id keeps one row and its own custom fields, where a
    * join on the id would match blank ids with each other and none to a
    * null id. A pandas merge on `uuid` would match NaN and blank keys
    * with each other; that divergence is deliberate. */
  def ticketBranch(tickets: DataFrame): DataFrame = {
    // T6: absent expected columns appear as nulls (main.py:85-87)
    val expected = Seq("id", "number", "summary", "createdAt", "updatedAt")
    val backfilled = ColumnHygiene.backfill(tickets,
      expected.filterNot(tickets.columns.contains).map(_ -> StringType))
    // T7: project dotted nested paths to business names (main.py:89);
    // main.py:85-87 backfills EVERY missing rename_map key with NA, so an
    // unresolvable dotted path (e.g. requester.customField on a payload
    // whose requester struct never carried it) projects as a typed null
    // rather than failing analysis.
    val projected = backfilled.select(ticketRenameMap.map { case (src, dst) =>
        (if (resolvable(backfilled, src)) col(src)
         else lit(null).cast(StringType)).as(dst)
      }.toIndexedSeq: _*)
    // T8+T9: whitelist pivot of the RENAMED frame's campo_custom_ticket,
    // like extrair_custom_ticket(df_ticket_filtro1) at main.py:90; the raw
    // payload column itself stays in the output, as in the reference
    val enriched =
      if (resolvable(backfilled, "customField"))
        Nested.extractWhitelistedKV(projected, "campo_custom_ticket",
          customFieldWhitelist, "ticket_", keepKv = true)
      else projected
    // T10 casts + T11 constant overwrite (the tab-guard bug means always-'')
    Relational.castAll(enriched, Seq("n_ticket" -> "string"))
      .withColumn("contact_cf_n_mero_do_ticket", lit(""))
  }

  /** Full merged pipeline. `dest` is the destination's current state (for
    * T16 anti-join dedup); `uuidGen` defaults to the reference's uuid4 —
    * pass a deterministic column in tests. */
  def run(tickets: DataFrame, chats: DataFrame, dest: DataFrame,
          uuidGen: Column = expr("uuid()")): DataFrame = {
    val t = ticketBranch(tickets)
    // T12: entity merge chats ⟗ tickets (main.py:100-103)
    val merged = Joins.fullOuterMerge(chats, t,
      "evt_ticket_ticketNumber", "n_ticket", outKey = "n_ticket")
    // T13 + T14: key synthesis and audit timestamp
    val keyed = Relational.auditTimestamp(
      Relational.synthesizeKey(merged, "uuid", uuidGen))
    // T15 + T17: destination-safe names, keep-first duplicate drop
    val clean = ColumnHygiene.dropDuplicateColumns(
      ColumnHygiene.sanitizeColumns(keyed))
    // T16: drop rows whose keys already live in the destination
    val keys = Seq("number", "n_ticket").filter(k =>
      clean.columns.contains(k) && dest.columns.contains(k))
    Joins.dedupAgainst(clean, dest, keys)
  }
}
