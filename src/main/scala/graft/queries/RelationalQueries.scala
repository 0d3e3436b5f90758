package graft
package queries

import graft.operators._
import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Relational spine, joins, ETL (the Octadesk flagships), nested data,
  * column hygiene, sinks and plain Spark SQL queries. */
object RelationalQueries {

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** DuckDB expression for the Morton key of two BIGINT columns — the
    * same static bit-interleave fold the engine codegens
    * (Sinks.mortonKey, 21 bits per coordinate), unrolled to SQL. */
  private def mortonSql(x: String, y: String): String =
    (0 until 21).flatMap(b => Seq(
      s"((($x >> $b) & 1) << ${2 * b})",
      s"((($y >> $b) & 1) << ${2 * b + 1})")).mkString(" | ")

  /** Generated Benford oracle: the same 2⁻²⁰-snapped expected-share
    * literals as [[operators.ColumnHygiene.benfordShares]], leading digit
    * via the identical `%.10e` formatting (see benford scaladoc: 10
    * fractional digits is the cross-engine parity sweet spot — the JVM
    * formats from the padded shortest rep, C from the exact expansion,
    * and they only agree while decimal granularity dwarfs one ulp). */
  private def benfordOracleSql: String = {
    val eCase = "CASE digit " + (1 to 9).map(d =>
      s"WHEN $d THEN CAST(${new java.math.BigDecimal(
        operators.ColumnHygiene.benfordShares(d - 1)).toPlainString} AS DOUBLE)")
      .mkString(" ") + " END"
    s"""WITH c AS (SELECT CAST(substring(printf('%.10e', abs(o_totalprice)),
                               1, 1) AS INTEGER) AS digit,
                          CAST(count(*) AS BIGINT) AS n
                   FROM orders
                   WHERE o_totalprice IS NOT NULL AND abs(o_totalprice) > 0
                   GROUP BY 1),
             t AS (SELECT CAST(sum(n) AS DOUBLE) AS tt FROM c)
        SELECT digit, n,
               round(CAST(n AS DOUBLE) / tt, 6) AS share,
               round($eCase, 6) AS expected_share,
               round((CAST(n AS DOUBLE) - tt * ($eCase))
                     * (CAST(n AS DOUBLE) - tt * ($eCase))
                     / (tt * ($eCase)), 6) AS chi2_contrib
        FROM c, t"""
  }

  /** The [[operators.ColumnHygiene.columnProfile]] oracle over `table`:
    * one row per column of `cols` (null count, distinct count, min/max as
    * strings), the first SELECT naming the output columns. */
  private def columnProfileSql(table: String, cols: Seq[String]): String =
    cols.zipWithIndex.map { case (c, i) =>
      def as(name: String) = if (i == 0) s" AS $name" else ""
      s"""SELECT '$c'${as("col_name")}, count(*)${as("n_rows")},
                CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)${as("n_nulls")},
                count(DISTINCT $c)${as("n_distinct")},
                CAST(min($c) AS VARCHAR)${as("min_str")},
                CAST(max($c) AS VARCHAR)${as("max_str")}
         FROM $table"""
    }.mkString(" UNION ALL ")

  /** The columns q_profile_drift audits. */
  private val profiledCols = Seq("o_orderstatus", "o_custkey", "o_totalprice")

  /** The Octadesk e2e oracle: orders as tickets (`updatedAt` from the
    * expression `updatedAt`, the clerk as `autor`), customers as chats
    * (segment as `segment`, name as `name`), the full-outer merge, uuid
    * synthesis, the pinned upload stamp and the dedup against the
    * pre-1995 destination. */
  private def octadeskE2eSql(updatedAt: String, autor: String,
                             segment: String, name: String): String =
    s"""WITH tickets AS (
           SELECT 'T' || CAST(o_orderkey AS VARCHAR) AS uuid,
                  CAST(o_orderkey AS VARCHAR) AS n_ticket,
                  CAST(NULL AS VARCHAR) AS titulo,
                  o_orderstatus || ',' || o_orderpriority AS tags_ticket,
                  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || '+0000' AS createdAt,
                  $updatedAt AS updatedAt,
                  o_orderstatus AS status_ticket,
                  o_orderpriority AS channel_ticket,
                  'Clerk#' || CAST(o_custkey % 1000 AS VARCHAR) AS $autor,
                  'clerk' || CAST(o_custkey % 1000 AS VARCHAR) || '@example.com' AS email_ticket,
                  CAST(o_custkey % 10 AS BIGINT) AS grupo_responsavel_ticket,
                  o_orderstatus AS status_ticket2,
                  to_json([{'key': 'n_do_pedido', 'value': CAST(o_orderkey AS VARCHAR)},
                           {'key': 'produto', 'value': o_orderpriority},
                           {'key': 'nao_listado', 'value': 'drop me'}])
                    AS campo_custom_ticket,
                  CAST(NULL AS VARCHAR) AS campo_custom_ticket2,
                  CAST(NULL AS VARCHAR) AS ticket_codigo_de_rastreio,
                  CAST(NULL AS VARCHAR) AS ticket_cpf,
                  CAST(NULL AS VARCHAR) AS ticket_data_de_pagamento,
                  CAST(NULL AS VARCHAR) AS ticket_email_do_cliente,
                  CAST(NULL AS VARCHAR) AS ticket_motivo_de_contatos,
                  CAST(NULL AS VARCHAR) AS ticket_n_da_nota_fiscal,
                  CAST(o_orderkey AS VARCHAR) AS ticket_n_do_pedido,
                  CAST(NULL AS VARCHAR) AS ticket_n_do_pedido_bling,
                  o_orderpriority AS ticket_produto,
                  CAST(NULL AS VARCHAR) AS ticket_tipo_do_problema,
                  '' AS contact_cf_n_mero_do_ticket
           FROM orders),
         chats AS (
           SELECT 'C' || CAST(c_custkey AS VARCHAR) AS chat_id,
                  CAST(c_custkey * 4 AS VARCHAR) AS ck,
                  c_mktsegment AS $segment,
                  c_name AS $name
           FROM customer),
         merged AS (
           SELECT COALESCE(c.ck, t.n_ticket) AS n_ticket,
                  c.chat_id, c.$segment, c.$name,
                  t.uuid, t.titulo, t.tags_ticket, t.createdAt, t.updatedAt,
                  t.status_ticket, t.channel_ticket,
                  t.$autor, t.email_ticket,
                  t.grupo_responsavel_ticket, t.status_ticket2,
                  t.campo_custom_ticket, t.campo_custom_ticket2,
                  t.ticket_codigo_de_rastreio, t.ticket_cpf,
                  t.ticket_data_de_pagamento, t.ticket_email_do_cliente,
                  t.ticket_motivo_de_contatos, t.ticket_n_da_nota_fiscal,
                  t.ticket_n_do_pedido, t.ticket_n_do_pedido_bling,
                  t.ticket_produto, t.ticket_tipo_do_problema,
                  t.contact_cf_n_mero_do_ticket
           FROM chats c FULL OUTER JOIN tickets t ON c.ck = t.n_ticket)
         SELECT * REPLACE (
                  CASE WHEN uuid IS NULL OR trim(uuid) = ''
                       THEN 'gen-' || n_ticket ELSE uuid END AS uuid),
                TIMESTAMP '2026-08-13 00:00:00' AS upload
         FROM merged m
         WHERE NOT EXISTS (SELECT 1 FROM orders dd
                           WHERE dd.o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
                             AND CAST(dd.o_orderkey AS VARCHAR) = m.n_ticket)"""

  /** The Octadesk e2e build: orders re-shaped into the reference's nested
    * ticket JSON (date columns `dates`), customers as chats (`chat_id`,
    * the ticketNumber link, then `chatCols`), the pre-1995 orders as the
    * destination, through [[Pipeline.run]]; the custom-field payload
    * JSON-stringified and the upload stamp pinned for the oracle. */
  private def octadeskE2e(s: SparkSession, d: String, dates: Seq[Column],
                          chatCols: Seq[Column]): DataFrame = {
    val o = Tables.orders(s, d)
    val tickets = o.select(Seq(
      concat(lit("T"), col("o_orderkey").cast("string")).as("id"),
      col("o_orderkey").as("number")) ++ dates ++ Seq(
      concat(col("o_orderstatus"), lit(","), col("o_orderpriority")).as("tags"),
      struct(col("o_orderstatus").as("name")).as("status"),
      struct(col("o_orderpriority").as("name")).as("channel"),
      struct(concat(lit("Clerk#"), (col("o_custkey") % 1000).cast("string")).as("name"),
        concat(lit("clerk"), (col("o_custkey") % 1000).cast("string"),
          lit("@example.com")).as("email")).as("requester"),
      struct((col("o_custkey") % 10).as("id")).as("group"),
      struct(struct(col("o_orderstatus").as("status")).as("propertiesChanges"))
        .as("lastHumanInteraction"),
      array(
        struct(lit("n_do_pedido").as("key"),
          col("o_orderkey").cast("string").as("value")),
        struct(lit("produto").as("key"), col("o_orderpriority").as("value")),
        struct(lit("nao_listado").as("key"), lit("drop me").as("value"))
      ).as("customField")): _*)
    val chats = Tables.customer(s, d).select(Seq(
      concat(lit("C"), col("c_custkey").cast("string")).as("chat_id"),
      (col("c_custkey") * 4).cast("string").as("evt_ticket_ticketNumber")) ++
      chatCols: _*)
    val dest = o.filter(col("o_orderdate") < lit("1995-01-01").cast("timestamp"))
      .select(col("o_orderkey").cast("string").as("n_ticket"))
    Pipeline.run(tickets, chats, dest,
        uuidGen = concat(lit("gen-"), col("n_ticket")))
      .withColumn("campo_custom_ticket", to_json(col("campo_custom_ticket")))
      .withColumn("upload", lit("2026-08-13 00:00:00").cast("timestamp"))
  }

  /** T18/S10: SELECT DISTINCT open keys (reference/main.py:146-150). */
  val openTickets: Q = Q("q_open_tickets",
    """SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS n_ticket FROM orders
         WHERE o_orderkey IS NOT NULL AND o_orderstatus <> 'F'""") { (s, d) =>
    Relational.distinctOpenKeys(Tables.orders(s, d), "o_orderkey", "o_orderstatus", "F")
      .select(col("o_orderkey").cast(StringType).as("n_ticket"))
  }

  /** §2b snapshot diff (T16/K3 generalized to a change feed): old = orders
    * minus keys %7==0; new = orders minus keys %11==0 with totalprice
    * bumped on %5==0 — yielding all four change types deterministically. */
  val snapshotDiff: Q = Q("q_snapshot_diff",
    """WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus
                    FROM orders WHERE o_orderkey % 7 <> 0),
              n AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10
                           ELSE o_totalprice END AS o_totalprice,
                      o_orderstatus
                    FROM orders WHERE o_orderkey % 11 <> 0)
         SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
                CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                     WHEN n.o_orderkey IS NULL THEN 'delete'
                     WHEN (n.o_totalprice IS DISTINCT FROM o.o_totalprice)
                       OR (n.o_orderstatus IS DISTINCT FROM o.o_orderstatus)
                       THEN 'update'
                     ELSE 'unchanged' END AS change_type,
                n.o_totalprice, n.o_orderstatus
         FROM n FULL JOIN o ON n.o_orderkey = o.o_orderkey""") { (s, d) =>
    val orders = Tables.orders(s, d)
    val oldSnap = orders.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val newSnap = orders.filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 10)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderstatus"))
    Joins.diffSnapshots(oldSnap, newSnap, "o_orderkey",
      Seq("o_totalprice", "o_orderstatus"))
  }

  val all: Seq[Q] = Seq(
    openTickets,

    /** T1/T7/T10: pushed time-range filter + project/rename + cast. */
    Q("q_filter_project",
      """SELECT CAST(l_orderkey AS VARCHAR) AS order_id, l_linenumber AS line_no,
                l_quantity AS qty, l_returnflag AS flag
         FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1998-01-01 00:00:00'
                              AND TIMESTAMP '1998-12-31 23:59:59'""") { (s, d) =>
      val filtered = Relational.timeRange(Tables.lineitem(s, d), "l_shipdate",
        "1998-01-01 00:00:00", "1998-12-31 23:59:59")
      val renamed = Relational.projectRename(filtered, Seq(
        "l_orderkey" -> "order_id", "l_linenumber" -> "line_no",
        "l_quantity" -> "qty", "l_returnflag" -> "flag"))
      Relational.castAll(renamed, Seq("order_id" -> "string"))
    },

    /** T2/T3: orderBy + limit (deterministic tiebreak). */
    Q("q_sort_limit",
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""") { (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    },

    /** T6/T11: backfill absent columns as nulls + constant overwrite. */
    Q("q_backfill",
      """SELECT o_orderkey, o_orderstatus, CAST(NULL AS VARCHAR) AS backfilled_col,
                '' AS contact_cf_n_mero_do_ticket
         FROM orders""") { (s, d) =>
      ColumnHygiene.backfill(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus")),
        Seq("backfilled_col" -> StringType))
        .withColumn("contact_cf_n_mero_do_ticket", lit(""))
    },

    /** T9: left enrichment join against a broadcast dimension. */
    Q("q_left_join",
      """SELECT o.o_custkey, o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""") { (s, d) =>
      val dim = Tables.customer(s, d).select(
        col("c_custkey").as("o_custkey"), col("c_name"), col("c_mktsegment"))
      Joins.enrichLeft(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        dim, "o_custkey")
    },

    /** T12: full-outer entity merge with collision suffixing. */
    Q("q_full_outer_merge",
      """SELECT COALESCE(l.cust, r.cust2) AS merge_key,
                l.status AS status_chat, r.status AS status_ticket
         FROM (SELECT o_custkey AS cust, o_orderstatus AS status FROM orders) l
         FULL OUTER JOIN
              (SELECT c_custkey AS cust2, c_mktsegment AS status FROM customer) r
         ON l.cust = r.cust2""") { (s, d) =>
      val left = Tables.orders(s, d)
        .select(col("o_custkey").as("cust"), col("o_orderstatus").as("status"))
      val right = Tables.customer(s, d)
        .select(col("c_custkey").as("cust2"), col("c_mktsegment").as("status"))
      Joins.fullOuterMerge(left, right, "cust", "cust2")
    },

    /** S11: membership probe as left-semi join. */
    Q("q_semi_join",
      """SELECT * FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_orderstatus <> 'F' AND o.o_custkey = c.c_custkey)""") { (s, d) =>
      Joins.semiJoin(
        Tables.customer(s, d),
        Tables.orders(s, d).filter(col("o_orderstatus") =!= "F")
          .select(col("o_custkey").as("c_custkey")),
        "c_custkey")
    },

    /** §2b right outer join (customers without orders survive). */
    Q("q_right_join",
      """SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
         FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders) o
         RIGHT JOIN customer c ON o.o_custkey = c.c_custkey""") { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"), "right")
        .select(col("c_custkey"), col("c_mktsegment"), col("o_orderkey"),
          col("o_totalprice"))
    },

    /** T16: dedup-vs-destination anti-join. */
    Q("q_anti_dedup",
      """SELECT * FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM orders d
                           WHERE d.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
                             AND d.o_orderkey = o.o_orderkey)""") { (s, d) =>
      val orders = Tables.orders(s, d)
      val dest = orders.filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      Joins.dedupAgainst(orders, dest, Seq("o_orderkey"))
    },

    /** T16 at scale: Bloom-prefiltered dedup-vs-destination. Semantics are
      * identical to [[q_anti_dedup]]'s plain anti-join (the oracle is the
      * same NOT EXISTS shape), but only sketch false-positives and true
      * duplicates reach the exact join — the 100 TB ingest path.
      * `expectedItems` is deliberately sized BELOW the destination's
      * cardinality to exercise the saturated-sketch regime (higher fpp,
      * still exact). */
    Q("q_anti_dedup_bloom",
      """SELECT * FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM orders d
                           WHERE d.o_orderstatus = 'F'
                             AND d.o_orderkey = o.o_orderkey)""") { (s, d) =>
      val orders = Tables.orders(s, d)
      val dest = orders.filter(col("o_orderstatus") === "F")
      Joins.dedupAgainstBloom(orders, dest, Seq("o_orderkey"),
        expectedItems = 2000L)
    },

    /** T19/S3: union of (column-drifting) scan slices. */
    Q("q_union_slices",
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
         FROM orders
         WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                               AND TIMESTAMP '1997-12-31 23:59:59'
         UNION ALL
         SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority
         FROM orders
         WHERE o_orderdate BETWEEN TIMESTAMP '1998-01-01 00:00:00'
                               AND TIMESTAMP '1998-12-31 23:59:59'""") { (s, d) =>
      val orders = Tables.orders(s, d)
      val s1 = Relational.timeRange(orders, "o_orderdate",
        "1997-01-01 00:00:00", "1997-12-31 23:59:59")
        .select(col("o_orderkey"), col("o_totalprice"))
      val s2 = Relational.timeRange(orders, "o_orderdate",
        "1998-01-01 00:00:00", "1998-12-31 23:59:59")
        .select(col("o_orderkey"), col("o_orderpriority"))
      Joins.unionSlices(Seq(s1, s2))
    },

    /** T4: fixed-width (7-day) time bucketing. */
    Q("q_window_bucket",
      """SELECT CAST(floor(epoch(o_orderdate) / 604800) AS BIGINT) * 604800 AS bucket_start,
                count(*) AS n_orders
         FROM orders GROUP BY 1""") { (s, d) =>
      Tables.orders(s, d)
        .select(Relational.timeBucket(col("o_orderdate"), 7L * 86400).as("bucket_start"))
        .groupBy(col("bucket_start"))
        .agg(count(lit(1)).as("n_orders"))
    },

    /** T5: ISO-8601 formatting with numeric offset. */
    Q("q_iso_format",
      """SELECT o_orderkey,
                strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || '+0000' AS created_iso
         FROM orders""") { (s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
        Relational.isoFormat(col("o_orderdate")).as("created_iso"))
    },

    /** T14: audit timestamp with a pinned clock (VERDICT r10 task 7) — the
      * oracle-checkable variant of the reference's constant-per-run upload
      * stamp (reference/main.py:110-112); production default (fixedClock =
      * None → current_timestamp) is unchanged and spec-covered. */
    Q("q_audit_timestamp",
      """SELECT o_orderkey, o_orderstatus,
                TIMESTAMP '2024-01-15 12:00:00' AS upload
         FROM orders""") { (s, d) =>
      Relational.auditTimestamp(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus")),
        Some("2024-01-15 12:00:00"))
    },

    /** T13: null-or-blank key synthesis (deterministic generator for oracle). */
    Q("q_key_synthesis",
      """SELECT o_orderkey,
                CASE WHEN u IS NULL OR trim(u) = ''
                     THEN 'gen-' || CAST(o_orderkey AS VARCHAR) ELSE u END AS uuid
         FROM (SELECT o_orderkey,
                      CASE WHEN o_orderstatus = 'F' THEN ''
                           ELSE CAST(o_orderkey AS VARCHAR) END AS u
               FROM orders)""") { (s, d) =>
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        when(col("o_orderstatus") === "F", lit(""))
          .otherwise(col("o_orderkey").cast(StringType)).as("uuid"))
      Relational.synthesizeKey(base, "uuid",
        concat(lit("gen-"), col("o_orderkey").cast(StringType)))
    },

    /** T15/T17: column-name sanitize + duplicate-column drop keep-first. */
    Q("q_sanitize_names",
      """SELECT l_orderkey AS _99_n_mero_do_pedido, l_linenumber AS line_no,
                l_quantity
         FROM lineitem""") { (s, d) =>
      val weird = Tables.lineitem(s, d).select(
        col("l_orderkey").as("99 número-do pedido"),
        col("l_linenumber").as("line#no"),
        col("l_quantity"),
        col("l_quantity"))
      ColumnHygiene.dropDuplicateColumns(ColumnHygiene.sanitizeColumns(weird))
    },

    /** K3: keyed upsert (MERGE emulation: anti-join + union). */
    Q("q_upsert",
      """WITH dest AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
                       WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'),
              upd AS (SELECT o_orderkey, 'Resolvido' AS o_orderstatus, o_totalprice
                      FROM orders WHERE o_orderstatus = 'P')
         SELECT * FROM dest
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
         UNION ALL SELECT * FROM upd""") { (s, d) =>
      val orders = Tables.orders(s, d)
      val dest = orders.filter(col("o_orderdate") < lit("2000-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val updates = orders.filter(col("o_orderstatus") === "P")
        .select(col("o_orderkey"), lit("Resolvido").as("o_orderstatus"), col("o_totalprice"))
      Joins.upsert(dest, updates, "o_orderkey")
    },

    /** S5 shape: event pivot to evt_<type> presence columns. */
    Q("q_events_pivot",
      """SELECT user_id,
                count(*) FILTER (WHERE event_type = 'click') > 0 AS evt_click,
                count(*) FILTER (WHERE event_type = 'error') > 0 AS evt_error,
                count(*) FILTER (WHERE event_type = 'purchase') > 0 AS evt_purchase,
                count(*) FILTER (WHERE event_type = 'signup') > 0 AS evt_signup,
                count(*) FILTER (WHERE event_type = 'view') > 0 AS evt_view
         FROM events GROUP BY user_id""") { (s, d) =>
      Nested.pivotEventPresence(Tables.events(s, d), "user_id", "event_type", eventTypes)
    },

    /** S4 shape: schema-full JSON parsing (from_json → typed struct →
      * field access), the typed counterpart of q_json_extract's path API. */
    Q("q_from_json",
      """SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                props IS NULL OR json_valid(props) = false AS parse_failed
         FROM events""") { (s, d) =>
      Tables.events(s, d)
        .withColumn("parsed",
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))))
        .select(col("event_id"), col("parsed.k").as("k"),
          col("parsed").isNull.as("parse_failed"))
    },

    /** S4/T21 shape: JSON attribute extraction + aggregate. */
    Q("q_json_extract",
      """SELECT event_type,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                count(*) AS n
         FROM events GROUP BY event_type""") { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
    },

    /** T8: whitelist custom-field extraction — kv array built from order
      * attributes, whitelisted keys pivoted to ticket_* columns (the
      * reference's extrair_custom_ticket over array<struct<key,value>>). */
    Q("q_custom_fields",
      """SELECT o_orderkey, o_orderstatus AS ticket_status,
                CASE WHEN o_orderstatus = 'O' THEN o_orderpriority END AS ticket_priority
         FROM orders""") { (s, d) =>
      val withKv = Tables.orders(s, d).select(col("o_orderkey"),
        array(
          struct(lit("status").as("key"), col("o_orderstatus").as("value")),
          struct(lit("priority").as("key"),
            when(col("o_orderstatus") === "O", col("o_orderpriority")).as("value")),
          struct(lit("junk").as("key"), col("o_totalprice").cast(StringType).as("value"))
        ).as("custom_fields"))
      Nested.extractWhitelistedKV(withKv, "custom_fields",
        Seq("status", "priority"), "ticket_")
    },

    /** S4/T7 shape: recursive struct flattening (json_normalize equivalent)
      * with dotted/special-char field names, then name sanitization. */
    Q("q_flatten",
      """SELECT c_custkey, c_name AS profile_name,
                c_mktsegment AS profile_contact_info_segment,
                c_nationkey AS profile_contact_info_nation_key
         FROM customer""") { (s, d) =>
      val nested = Tables.customer(s, d).select(col("c_custkey"),
        struct(
          col("c_name").as("name"),
          struct(col("c_mktsegment").as("segment"),
            col("c_nationkey").as("nation.key")).as("contact info")
        ).as("profile"))
      ColumnHygiene.sanitizeColumns(Nested.flattenStructs(nested))
    },

    /** §2b as-of join: each click event enriched with the user's most recent
      * purchase at-or-before it — union + one window pass, not a range join. */
    Q("q_asof_join",
      """WITH p AS (SELECT user_id, ts, max(value) AS value
                    FROM events WHERE event_type = 'purchase'
                    GROUP BY user_id, ts)
         SELECT l.event_id, l.user_id, l.ts,
                p.ts AS last_purchase_ts,
                round(p.value, 2) AS last_purchase_value
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click') l
         ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts""") { (s, d) =>
      val events = Tables.events(s, d)
      val clicks = events.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = events.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      Joins.asOfJoin(clicks, purchases, "user_id", "ts", "ts",
        Seq("ts", "value"), "last_purchase_")
        .withColumn("last_purchase_value", round(col("last_purchase_value"), 2))
    },

    /** §2b hash aggregate: TPC-H Q1 pricing summary. */
    Q("q1_pricing_summary",
      // Exact DECIMAL sums mirroring the engine (see q1's comment): the
      // 2-dec fixed-point columns aggregate order-independently at any
      // scale; double casts of the exact decimals are correctly rounded
      // in both engines.
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE)
                  AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE)
                  AS sum_base_price,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))
                         * (CAST(1 AS DECIMAL(3,2))
                            - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                  AS sum_disc_price,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE), 4) AS avg_qty,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus""") { (s, d) =>
      // EXACT DECIMAL sums: the money/quantity columns are 2-dec fixed
      // point by semantics, and raw double sums stop surviving the 2dp
      // round once group mass passes ~1e11 (measured: the sf10 soak's
      // 60M-row groups flap engine-vs-oracle by ~0.3 — √n·ε·Σ|x| beats
      // the round step). Decimal aggregation is order-independent at ANY
      // scale; outputs cast back to double (correctly-rounded, identical
      // in both engines) to keep the column contract.
      val qty = col("l_quantity").cast("decimal(20,2)")
      val price = col("l_extendedprice").cast("decimal(20,2)")
      val disc = col("l_discount").cast("decimal(4,2)")
      // NOT widened (r15): the FanOut.widen fan-out was tried before the
      // decimal partial aggregate and interleaved-A/B'd at 1.15× (1.33 →
      // 1.54 s) — shuffling 600k raw rows costs more than the wide
      // partial aggregate saves; map-side combine before the tiny 6-group
      // exchange is already the right shape (guide §2.3).
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(qty).cast("double").as("sum_qty"),
          sum(price).cast("double").as("sum_base_price"),
          (sum(price * (lit(1).cast("decimal(3,2)") - disc))).cast("double")
            .as("sum_disc_price"),
          round(sum(qty).cast("double") / count(lit(1)).cast("double"), 4)
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
    },

    /** §2b per-group top-k via row_number window. */
    Q("q_topk_per_group",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""") { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    },

    /** §2b per-group top-k via the CUSTOM physical operator (GroupTopKNode →
      * partial/final heap GroupTopKExec — no full-group sort, ≤k rows per
      * (group, partition) cross the shuffle): same rows as the window
      * formulation of q_topk_per_group, checked against the same kind of
      * ROW_NUMBER oracle. */
    Q("q_group_topk_native",
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""") { (s, d) =>
      GraftExtensions.install(s)
      org.apache.spark.sql.graft.GroupTopK.topKPerGroup(
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
    },

    /** §2b custom UDAF: grouped top-k via a typed Aggregator — O(k) state
      * with map-side partial merge (only k values per group cross the
      * shuffle, vs a window sorting every row). */
    Q("q_topk_udaf",
      """SELECT o_custkey,
                round(t[1], 2) AS p1,
                round(coalesce(t[2], -1.0), 2) AS p2,
                round(coalesce(t[3], -1.0), 2) AS p3
         FROM (SELECT o_custkey,
                      (array_agg(o_totalprice ORDER BY o_totalprice DESC))[1:3] AS t
               FROM orders GROUP BY o_custkey)""") { (s, d) =>
      val topk = udaf(new TopKAggregator(3))
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(topk(col("o_totalprice")).as("top_prices"))
        .select(col("o_custkey"),
          round(try_element_at(col("top_prices"), lit(1)), 2).as("p1"),
          round(coalesce(try_element_at(col("top_prices"), lit(2)), lit(-1.0)), 2).as("p2"),
          round(coalesce(try_element_at(col("top_prices"), lit(3)), lit(-1.0)), 2).as("p3"))
    },

    /** §2b rollup. */
    Q("q_rollup",
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE)
                  AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""") { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        // exact DECIMAL sum: the grand-total row's mass crosses the
        // float-sum rounding cliff at scale (the q1 sf10 lesson)
        .agg(sum(col("l_quantity").cast("decimal(20,2)")).cast("double")
          .as("sum_qty"), count(lit(1)).as("n"))
    },

    /** §2b cube. */
    Q("q_cube",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE)
                  AS revenue
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""") { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        // exact DECIMAL sum (grand-total mass; the q1 sf10 lesson)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,2)")).cast("double")
            .as("revenue"))
    },

    /** §2b grouping sets (SQL surface). */
    Q("q_grouping_sets",
      """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""") { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n
             FROM lineitem_gs
             GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")
    },

    /** §2b window functions: rank + lag + running sum per customer. */
    Q("q_window_rank",
      """SELECT o_custkey, o_orderkey,
                RANK() OVER w AS rnk,
                LAG(o_totalprice, 1) OVER w AS prev_price,
                round(SUM(o_totalprice) OVER
                  (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                  AS running_spend
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""") { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        round(sum(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_spend"))
    },

    /** §2b window functions, part 2: RANGE frame (30-day trailing spend),
      * ntile, first_value and lead — the value-based frame that rowsBetween
      * can't express. */
    Q("q_window_range",
      """SELECT o_custkey, o_orderkey,
                round(SUM(o_totalprice) OVER
                  (PARTITION BY o_custkey ORDER BY d
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2)
                  AS trailing_30d_spend,
                CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
                FIRST_VALUE(o_orderkey) OVER w AS first_order,
                LEAD(o_orderkey, 1) OVER w AS next_order
         FROM (SELECT *, date_diff('day', DATE '1970-01-01',
                                   CAST(o_orderdate AS DATE)) AS d
               FROM orders)
         WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)""") { (s, d) =>
      val days = datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
      val byDay = Window.partitionBy(col("o_custkey")).orderBy(days)
      val ordered = Window.partitionBy(col("o_custkey"))
        .orderBy(days.asc, col("o_orderkey").asc)
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(byDay.rangeBetween(-30, 0)), 2)
          .as("trailing_30d_spend"),
        ntile(4).over(ordered).cast("long").as("quartile"),
        first_value(col("o_orderkey")).over(ordered).as("first_order"),
        lead(col("o_orderkey"), 1).over(ordered).as("next_order"))
    },

    /** §2b ranking distribution functions: percent_rank / cume_dist /
      * dense_rank (unique full ordering → tie-free, engine-portable). */
    Q("q_window_dist",
      """SELECT o_orderkey, o_orderpriority,
                round(PERCENT_RANK() OVER w, 6) AS pct_rank,
                round(CUME_DIST() OVER w, 6) AS cum_dist,
                CAST(DENSE_RANK() OVER w AS BIGINT) AS drank
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey)""") { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cum_dist"),
        dense_rank().over(w).cast("long").as("drank"))
    },

    /** §2b set ops: INTERSECT. */
    Q("q_intersect",
      """SELECT o_custkey FROM orders
         WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                               AND TIMESTAMP '1997-12-31 23:59:59'
         INTERSECT
         SELECT o_custkey FROM orders
         WHERE o_orderdate BETWEEN TIMESTAMP '1998-01-01 00:00:00'
                               AND TIMESTAMP '1998-12-31 23:59:59'""") { (s, d) =>
      val orders = Tables.orders(s, d)
      def custs(y: String) = Relational.timeRange(orders, "o_orderdate",
        s"$y-01-01 00:00:00", s"$y-12-31 23:59:59").select(col("o_custkey"))
      custs("1997").intersect(custs("1998"))
    },

    /** §2b set ops: EXCEPT. */
    Q("q_except",
      """SELECT o_custkey FROM orders
         WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                               AND TIMESTAMP '1997-12-31 23:59:59'
         EXCEPT
         SELECT o_custkey FROM orders
         WHERE o_orderdate BETWEEN TIMESTAMP '1998-01-01 00:00:00'
                               AND TIMESTAMP '1998-12-31 23:59:59'""") { (s, d) =>
      val orders = Tables.orders(s, d)
      def custs(y: String) = Relational.timeRange(orders, "o_orderdate",
        s"$y-01-01 00:00:00", s"$y-12-31 23:59:59").select(col("o_custkey"))
      custs("1997").except(custs("1998"))
    },

    /** §2b skew-mitigating salted join: events (5 hot event_type keys — the
      * pathological skew shape) joined to a type dimension on (key, salt) so
      * each hot key spreads over 8 shuffle partitions. Result ≡ plain join. */
    Q("q_salted_join",
      """SELECT event_id, upper(event_type) AS type_label FROM events""") { (s, d) =>
      val events = Tables.events(s, d).select(col("event_id"), col("event_type"))
      val dim = events.select(col("event_type")).distinct()
        .withColumn("type_label", upper(col("event_type")))
      Joins.saltedJoin(events, dim, "event_type", buckets = 8)
        .select(col("event_id"), col("type_label"))
    },

    /** §2b set ops, bag semantics: EXCEPT ALL (keeps duplicate multiplicity). */
    Q("q_except_all",
      """SELECT l_orderkey FROM lineitem
         EXCEPT ALL
         SELECT l_orderkey FROM lineitem WHERE l_linenumber = 1""") { (s, d) =>
      val li = Tables.lineitem(s, d)
      li.select(col("l_orderkey"))
        .exceptAll(li.filter(col("l_linenumber") === 1).select(col("l_orderkey")))
    },

    /** §2b set ops, bag semantics: INTERSECT ALL. */
    Q("q_intersect_all",
      """SELECT l_suppkey FROM lineitem WHERE l_quantity >= 25
         INTERSECT ALL
         SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'""") { (s, d) =>
      val li = Tables.lineitem(s, d)
      li.filter(col("l_quantity") >= 25).select(col("l_suppkey"))
        .intersectAll(li.filter(col("l_returnflag") === "R").select(col("l_suppkey")))
    },

    /** §2b array/map scalar battery: higher-order and collection functions
      * over arrays built from row data (each must match DuckDB's list/map
      * semantics exactly). */
    Q("q_array_funcs",
      """SELECT o_orderkey,
                array_to_string(list_sort([o_orderkey % 7, o_orderkey % 13,
                  o_orderkey % 3]), ',') AS mods_sorted,
                CAST(len(list_distinct([o_orderkey % 2, o_orderkey % 4])) AS BIGINT)
                  AS n_distinct_mods,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  [CAST(x * x AS BIGINT) FOR x IN generate_series(1, 5)]),
                  (acc, v) -> acc + v) AS sum_squares,
                list_contains(string_split(o_orderpriority, '-'), 'URGENT')
                  AS is_urgent,
                o_orderstatus AS m_status,
                array_to_string(generate_series(o_orderkey % 5, o_orderkey % 5 + 4)[2:3],
                  ',') AS mid_range,
                greatest(o_orderkey % 11, o_orderkey % 17) AS max_mod,
                array_to_string([o_orderstatus, o_orderpriority], ',') AS flat_pair
         FROM orders""") { (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        concat_ws(",", sort_array(array(col("o_orderkey") % 7, col("o_orderkey") % 13,
          col("o_orderkey") % 3))).as("mods_sorted"),
        size(array_distinct(array(col("o_orderkey") % 2, col("o_orderkey") % 4)))
          .cast("long").as("n_distinct_mods"),
        aggregate(sequence(lit(1), lit(5)), lit(0L), (acc, x) => acc + x * x)
          .as("sum_squares"),
        array_contains(split(col("o_orderpriority"), "-"), "URGENT").as("is_urgent"),
        element_at(map_from_arrays(
          array(lit("status"), lit("priority")),
          array(col("o_orderstatus"), col("o_orderpriority"))), "status").as("m_status"),
        concat_ws(",", slice(sequence(col("o_orderkey") % 5, col("o_orderkey") % 5 + 4), 2, 2))
          .as("mid_range"),
        array_max(array(col("o_orderkey") % 11, col("o_orderkey") % 17))
          .as("max_mod"),
        concat_ws(",", flatten(array(array(col("o_orderstatus")),
          array(col("o_orderpriority"))))).as("flat_pair"))
    },

    /** §2b multiway join + aggregate with broadcast dimensions (Q5 shape). */
    Q("q_join_agg_region",
      """SELECT r_name,
                CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE)
                  AS revenue,
                count(DISTINCT o_custkey) AS n_custs
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""") { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        // exact DECIMAL sum: 5-region groups carry ~n/5 of the corpus
        // each - float-sum noise beats the 2dp round at scale
        .agg(sum(col("o_totalprice").cast("decimal(20,2)")).cast("double")
          .as("revenue"),
          countDistinct(col("o_custkey")).as("n_custs"))
    },

    /** §2b statistical aggregates: sample stddev/variance, correlation and
      * covariance per group (identical definitions in DuckDB). */
    Q("q_stats_agg",
      """SELECT l_returnflag,
                round(stddev_samp(l_quantity), 6) AS qty_stddev,
                round(var_samp(l_extendedprice), 2) AS price_var,
                round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
                round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar
         FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("qty_stddev"),
          round(var_samp(col("l_extendedprice")), 2).as("price_var"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("qty_disc_covar"))
    },

    /** §2b exact interpolated percentiles per group (linear interpolation —
      * the same definition as DuckDB's quantile_cont). */
    Q("q_percentiles",
      """SELECT l_returnflag,
                round(quantile_cont(l_quantity, 0.5), 6) AS qty_p50,
                round(quantile_cont(l_extendedprice, 0.25), 4) AS price_p25,
                round(quantile_cont(l_extendedprice, 0.95), 4) AS price_p95
         FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("qty_p50"),
          // both extendedprice percentiles from ONE aggregate: the exact
          // percentile buffers the group's values in its state, so the
          // array form halves the buffered data vs two separate aggs
          expr("percentile(l_extendedprice, array(0.25D, 0.95D))").as("__pp"))
        .select(col("l_returnflag"), col("qty_p50"),
          round(col("__pp").getItem(0), 4).as("price_p25"),
          round(col("__pp").getItem(1), 4).as("price_p95"))
    },

    /** §2b scalar-function battery: portable date/string/math built-ins in
      * one projection (each must match DuckDB bit-for-bit or to 6dp). */
    Q("q_scalar_funcs",
      """SELECT o_orderkey,
                date_trunc('month', o_orderdate) AS month_start,
                CAST(year(o_orderdate) AS BIGINT) AS yr,
                CAST(day(o_orderdate) AS BIGINT) AS dom,
                CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01')
                     AS BIGINT) AS days_to_99,
                upper(o_orderpriority) AS prio_upper,
                lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_padded,
                coalesce(regexp_extract(o_orderpriority, '^(\d+)', 1), '') AS prio_num,
                concat_ws('|', o_orderstatus, o_orderpriority) AS status_prio,
                round(sqrt(o_totalprice), 6) AS price_sqrt,
                round(ln(o_totalprice + 1), 6) AS price_ln,
                CAST(o_orderkey % 7 AS BIGINT) AS key_mod7,
                CAST(abs(o_totalprice - 1000) AS DOUBLE) AS price_abs_dev
         FROM orders""") { (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        year(col("o_orderdate")).cast("long").as("yr"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        datediff(lit("1999-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_99"),
        upper(col("o_orderpriority")).as("prio_upper"),
        lpad(col("o_orderkey").cast(StringType), 12, "0").as("key_padded"),
        regexp_extract(col("o_orderpriority"), "^(\\d+)", 1).as("prio_num"),
        concat_ws("|", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
        round(sqrt(col("o_totalprice")), 6).as("price_sqrt"),
        round(log(col("o_totalprice") + 1), 6).as("price_ln"),
        pmod(col("o_orderkey"), lit(7)).cast("long").as("key_mod7"),
        abs(col("o_totalprice") - 1000).cast("double").as("price_abs_dev"))
    },

    /** §2b approximate distinct (HLL++), hash-checkable: the estimate
      * itself is not SQL-reproducible (estimator differs by design), so
      * the output carries the EXACT side (oracle-computable) plus a
      * deterministic acceptance verdict — |est − exact|/exact ≤ 3·rsd
      * with rsd = 0.05, approx_count_distinct's default — which the
      * oracle pins to TRUE per group. The estimate is a deterministic
      * function of the data, so a broken sketch flips the boolean and
      * fails the driver's hash compare instead of hiding in a rows-only
      * row. */
    Q("q_approx_distinct",
      """SELECT l_returnflag,
                CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
                TRUE AS within_bound
         FROM lineitem GROUP BY 1""") { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("__approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("__approx") - col("exact_parts")).cast("double")
            / col("exact_parts") <= 0.15).as("within_bound"))
    },

    /** §2b wide→long reshape (UNPIVOT/melt): the four lineitem money/qty
      * measures into (metric, value) rows via Dataset.unpivot — the
      * metric-store normalization every profiling/drift stage consumes
      * (one 4× map-side row expansion, no shuffle, no UDF; oracle is the
      * portable 4-way UNION ALL). */
    Q("q_unpivot",
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                l_quantity AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
         FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
         FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""") { (s, d) =>
      Tables.lineitem(s, d)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax")),
          "metric", "value")
    },

    /** §2b SCD2 version windows: each user's events become versions valid
      * until the next event (null = current) — point-in-time history from
      * an append log. */
    Q("q_scd2",
      """SELECT user_id, ts, event_id, event_type,
                ts AS valid_from,
                LEAD(ts, 1) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS valid_to,
                LEAD(ts, 1) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) IS NULL AS is_current
         FROM events""") { (s, d) =>
      Joins.scd2Versions(
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
        "user_id", "ts", "event_id")
    },

    /** §2b Benford first-digit audit over order totals: observed vs
      * log10(1+1/d) shares + χ² contributions — the fabricated-data screen. */
    Q("q_benford", benfordOracleSql) { (s, d) =>
      ColumnHygiene.benford(Tables.orders(s, d), "o_totalprice")
    },

    /** S4/chat.py:106-113 shape: dynamic KV pivot (explode + pivot over a
      * bounded key domain) — the two-phase variant of q_custom_fields. */
    Q("q_pivot_kv",
      """SELECT o_orderkey, o_orderstatus AS cf_status,
                o_orderpriority AS cf_priority
         FROM orders""") { (s, d) =>
      val withKv = Tables.orders(s, d).select(col("o_orderkey"),
        array(
          struct(lit("status").as("key"), col("o_orderstatus").as("value")),
          struct(lit("priority").as("key"), col("o_orderpriority").as("value"))
        ).as("kv"))
      Nested.pivotKV(withKv, Seq("o_orderkey"), "kv",
        Seq("status", "priority"), "cf_")
    },

    /** §3.3 per-row error capture (reference chat.py:229-236, 289-291): the
      * reference keeps a row whose chat lookup fails and stamps
      * `error = 'chat not found'`. Fixture: customers with c_custkey % 3 == 0
      * are removed from the dimension, so ~1/3 of orders miss and carry the
      * error marker while matched rows enrich normally. */
    Q("q_enrich_errors",
      """SELECT o.o_orderkey, o.o_custkey, c.c_name,
                CASE WHEN c.c_custkey IS NULL THEN 'chat not found'
                     ELSE CAST(NULL AS VARCHAR) END AS error
         FROM orders o
         LEFT JOIN (SELECT c_custkey, c_name FROM customer
                    WHERE c_custkey % 3 <> 0) c
           ON o.o_custkey = c.c_custkey""") { (s, d) =>
      Joins.enrichLeftWithError(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        Tables.customer(s, d).filter(col("c_custkey") % 3 =!= 0)
          .select(col("c_custkey").as("o_custkey"), col("c_name")),
        "o_custkey")
    },

    /** §2b data-quality expectations: a 5-check suite evaluated in ONE scan
      * (conditional sums) — includes a deliberately-failing non-critical
      * check (price ceiling) so the report shape is exercised, not just the
      * all-green path. */
    Q("q_expectations",
      """WITH base AS (SELECT count(*) AS n_rows,
                CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
                CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v2,
                CAST(sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) AS BIGINT) AS v3,
                CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v4,
                CAST(sum(CASE WHEN o_totalprice < 100000.0 THEN 0 ELSE 1 END) AS BIGINT) AS v5
              FROM orders)
         SELECT "check", n_rows, n_violations,
                round(CASE WHEN n_rows > 0
                  THEN CAST(n_violations AS DOUBLE) / n_rows ELSE 0.0 END, 6)
                  AS violation_rate,
                critical, n_violations = 0 AS passed
         FROM (SELECT 'orderkey_not_null' AS "check", n_rows, v1 AS n_violations, true AS critical FROM base
               UNION ALL SELECT 'custkey_not_null', n_rows, v2, true FROM base
               UNION ALL SELECT 'status_in_domain', n_rows, v3, false FROM base
               UNION ALL SELECT 'price_positive', n_rows, v4, false FROM base
               UNION ALL SELECT 'price_under_100k', n_rows, v5, false FROM base)""") { (s, d) =>
      ColumnHygiene.checkExpectations(Tables.orders(s, d), Seq(
        ColumnHygiene.Expectation("orderkey_not_null",
          col("o_orderkey").isNotNull, critical = true),
        ColumnHygiene.Expectation("custkey_not_null",
          col("o_custkey").isNotNull, critical = true),
        ColumnHygiene.Expectation("status_in_domain",
          col("o_orderstatus").isin("F", "O", "P")),
        ColumnHygiene.Expectation("price_positive", col("o_totalprice") > 0),
        ColumnHygiene.Expectation("price_under_100k",
          col("o_totalprice") < 100000.0)))
    },

    /** §2b k-anonymity privacy audit: quasi-identifier combinations
      * (mktsegment, nation, account-balance band) held by fewer than k=3
      * customers — the re-identification gate a dataset passes before
      * release. One count aggregate on the quasi tuple. */
    Q("q_kanonymity",
      """SELECT c_mktsegment, c_nationkey,
                CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
                CAST(COUNT(*) AS BIGINT) AS group_size
         FROM customer
         GROUP BY c_mktsegment, c_nationkey, acctbal_band
         HAVING COUNT(*) < 3""") { (s, d) =>
      val staged = Tables.customer(s, d).select(col("c_mktsegment"),
        col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("acctbal_band"))
      ColumnHygiene.kAnonymity(staged,
        Seq("c_mktsegment", "c_nationkey", "acctbal_band"), 3)
    },

    /** §2b distinct l-diversity audit: same quasi-identifiers as
      * q_kanonymity, acctbal band as the sensitive attribute — every
      * (segment, nation) group with its distinct-band count and the l=4
      * diversity flag (homogeneity-attack risk readout). */
    Q("q_ldiversity",
      """SELECT c_mktsegment, c_nationkey,
                CAST(COUNT(*) AS BIGINT) AS group_size,
                CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                     AS BIGINT) AS n_sensitive,
                COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= 4
                  AS is_diverse
         FROM customer
         GROUP BY c_mktsegment, c_nationkey""") { (s, d) =>
      val staged = Tables.customer(s, d).select(col("c_mktsegment"),
        col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("acctbal_band"))
      ColumnHygiene.lDiversity(staged,
        Seq("c_mktsegment", "c_nationkey"), "acctbal_band", 4)
    },

    /** §2b t-closeness audit ([[ColumnHygiene.tCloseness]]), completing the
      * k-anonymity → l-diversity → t-closeness release ladder on the SAME
      * quasi/sensitive fixture: per quasi-group, the total-variation
      * distance between its acctbal-band distribution and the table's
      * (the categorical EMD of Li et al. ICDE'07), gated at t = 0.2. No
      * group×value grid — absent values fold in arithmetically. */
    Q("q_tcloseness",
      """WITH staged AS (SELECT c_mktsegment, c_nationkey,
                           CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band
                         FROM customer),
              gl AS (SELECT acctbal_band AS v, count(*) AS nv
                     FROM staged WHERE acctbal_band IS NOT NULL GROUP BY 1),
              tot AS (SELECT CAST(sum(nv) AS BIGINT) AS n FROM gl),
              cells AS (SELECT c_mktsegment, c_nationkey, acctbal_band AS v,
                          count(*) AS c
                        FROM staged WHERE acctbal_band IS NOT NULL
                        GROUP BY 1, 2, 3),
              wg AS (SELECT *, CAST(sum(c) OVER (PARTITION BY c_mktsegment,
                       c_nationkey) AS BIGINT) AS g
                     FROM cells),
              agg AS (SELECT c_mktsegment, c_nationkey,
                        min(g) AS group_size, min(n) AS n,
                        CAST(sum(abs(c * n - nv * g)) AS BIGINT) AS s1n,
                        CAST(sum(nv) AS BIGINT) AS s2n
                      FROM wg JOIN gl ON wg.v = gl.v, tot
                      GROUP BY 1, 2)
         SELECT c_mktsegment, c_nationkey, group_size,
                round((s1n / (CAST(group_size AS DOUBLE) * n)
                  + (1.0 - s2n / n)) / 2, 6) AS tvd,
                round((s1n / (CAST(group_size AS DOUBLE) * n)
                  + (1.0 - s2n / n)) / 2, 6) <= 0.2 AS is_close
         FROM agg""") { (s, d) =>
      val staged = Tables.customer(s, d).select(col("c_mktsegment"),
        col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("acctbal_band"))
      ColumnHygiene.tCloseness(staged,
        Seq("c_mktsegment", "c_nationkey"), "acctbal_band", 0.2)
    },

    /** §2b Z-order layout key: Morton interleave of (l_partkey, l_suppkey),
      * the two-dimensional data-skipping sort key behind Sinks.writeZOrdered
      * — per-row bit arithmetic, zero shuffle. */
    Q("q_zorder_key",
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                 CAST(${mortonSql("l_partkey", "l_suppkey")} AS BIGINT) AS zkey
          FROM lineitem""") { (s, d) =>
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        Sinks.mortonKey(col("l_partkey"), col("l_suppkey")).as("zkey"))
    },

    /** §2b hot-key skew report: top-10 suppliers by lineitem row count with
      * share and skew factor — the pre-flight check before keying a shuffle
      * on l_suppkey. */
    Q("q_skew_report",
      """WITH c AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM lineitem GROUP BY l_suppkey),
              t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                           CAST(COUNT(*) AS BIGINT) AS nkeys FROM c)
         SELECT c.l_suppkey, c.cnt,
                round(c.cnt / t.total, 6) AS share,
                round(CAST(c.cnt AS DOUBLE) * t.nkeys / t.total, 6) AS skew
         FROM c, t
         ORDER BY c.cnt DESC, c.l_suppkey ASC
         LIMIT 10""") { (s, d) =>
      ColumnHygiene.skewReport(Tables.lineitem(s, d), "l_suppkey", 10)
    },

    /** §2b referential-integrity audit: orders whose customer is missing
      * from a fixture-thinned dimension (c_custkey % 3 == 0 removed, same
      * fixture as q_enrich_errors) — distinct dangling keys with counts. */
    Q("q_ri_orphans",
      """SELECT o.o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orphans
         FROM orders o
         WHERE o.o_custkey IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey % 3 <> 0
                             AND c.c_custkey = o.o_custkey)
         GROUP BY o.o_custkey""") { (s, d) =>
      ColumnHygiene.riOrphans(Tables.orders(s, d),
        Tables.customer(s, d).filter(col("c_custkey") % 3 =!= 0),
        "o_custkey", "c_custkey")
    },

    /** §2b keyless containment join via bucketing: lineitems shipped inside
      * each sampled order's 90-day window — no equi-key, but the bucketed
      * rewrite joins on a 7-day bucket id instead of a nested loop. */
    Q("q_range_join_bucketed",
      """WITH iv AS (SELECT o_orderkey,
                       date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS lo_day
                     FROM orders WHERE o_orderkey % 937 = 0),
              pt AS (SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS ship_day
                     FROM lineitem)
         SELECT o_orderkey, count(*) AS n_shipped,
                min(ship_day) AS first_day, max(ship_day) AS last_day
         FROM iv JOIN pt ON pt.ship_day BETWEEN iv.lo_day AND iv.lo_day + 90
         GROUP BY 1""") { (s, d) =>
      val points = Tables.lineitem(s, d).select(
        datediff(col("l_shipdate"), lit("1970-01-01")).cast("long").as("ship_day"))
      val intervals = Tables.orders(s, d)
        .filter(col("o_orderkey") % 937 === 0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("lo_day"))
        .withColumn("hi_day", col("lo_day") + 90)
      // Partial aggregate PUSHED BELOW the range join: the consumer is a
      // per-interval count/min/max over a contiguous day range, so points
      // collapse to the bounded per-DAY grid first and the range join
      // carries day weights — work ∝ intervals × days-in-range instead of
      // intervals × points (the raw form's intermediate grew
      // points × intervals = 100× at the sf10 tree: 77.7 s → this).
      // The raw row-level range join stays exercised by q_interval_join.
      val dayCounts = points.groupBy(col("ship_day"))
        .agg(count(lit(1)).as("__n_pts"))
      Joins.rangeJoinBucketed(dayCounts, "ship_day", intervals,
          "lo_day", "hi_day", 7L)
        .groupBy(col("o_orderkey"))
        .agg(sum(col("__n_pts")).as("n_shipped"),
          min(col("ship_day")).as("first_day"),
          max(col("ship_day")).as("last_day"))
    },

    snapshotDiff,

    /** §2b data-quality column profile: per-column null/distinct/min/max
      * audit over orders (string/long columns only — a double min/max cast
      * to string would be float-format-sensitive across engines). */
    Q("q_column_profile",
      columnProfileSql("orders",
        Seq("o_orderstatus", "o_custkey", "o_orderpriority"))) { (s, d) =>
      ColumnHygiene.columnProfile(Tables.orders(s, d),
        Seq("o_orderstatus", "o_custkey", "o_orderpriority"))
        .withColumnRenamed("column", "col_name")
    },

    /** §2b CDC apply: reconstruct the new snapshot from old + change feed —
      * the oracle IS the new-snapshot definition, so the check closes the
      * diff/apply roundtrip exactly. */
    Q("q_apply_diff",
      """SELECT o_orderkey,
                CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10
                     ELSE o_totalprice END AS o_totalprice,
                o_orderstatus
         FROM orders WHERE o_orderkey % 11 <> 0""") { (s, d) =>
      val orders = Tables.orders(s, d)
      val oldSnap = orders.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      Joins.applyDiff(oldSnap, snapshotDiff.build(s, d), "o_orderkey",
        Seq("o_totalprice", "o_orderstatus"))
    },

    /** §2b shipping-priority multi-join (the TPC-H Q3 shape): segment-
      * filtered customers broadcast into orders, the date-filtered
      * lineitems join on the order key, revenue aggregates per order and
      * TakeOrdered keeps the top 10 — the classic selective-dimension →
      * fact → fact join exhibit. */
    Q("q_shipping_priority",
      """SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
                round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2)
                  AS revenue
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         WHERE c.c_mktsegment = 'BUILDING'
           AND o.o_orderdate < TIMESTAMP '1996-06-30'
           AND l.l_shipdate > TIMESTAMP '1996-06-30'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l.l_orderkey ASC
         LIMIT 10""") { (s, d) =>
      val cut = lit("1996-06-30").cast("timestamp")
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = Tables.orders(s, d).filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },

    /** §2b DP-style released aggregate: per-source document counts with
      * deterministic inverse-CDF Laplace noise (sensitivity-1 count, ε=1) —
      * one hash agg, noise as a post-aggregate map-side expression. */
    Q("q_dp_counts",
      """WITH c AS (SELECT source, COUNT(*) AS t FROM documents GROUP BY 1),
              u AS (SELECT source, t,
                      CAST(('0x' || substring(md5('dp:' || CAST(source AS VARCHAR)), 1, 8))
                        AS BIGINT) / 4294967296.0 - 0.5 AS uu
                    FROM c)
         SELECT source,
                round(t + (-1.0) * sign(uu)
                  * ln(greatest(1.0 - 2.0 * abs(uu), 1.0 / 4294967296.0)),
                  6) AS noisy_cnt
         FROM u""") { (s, d) =>
      ColumnHygiene.noisyCounts(Tables.documents(s, d), "source",
        epsilon = 1.0, salt = "dp")
    },

    /** §2b profile drift: the pre-1998 orders snapshot vs the full table —
      * null-rate delta, distinct-count ratio, min/max movement per column;
      * two single-pass 1-row aggregates + a #columns join. */
    Q("q_profile_drift",
      s"""WITH oldt AS (SELECT * FROM orders
                       WHERE o_orderdate < TIMESTAMP '1998-01-01'),
              po AS (
                ${columnProfileSql("oldt", profiledCols)}),
              pn AS (
                ${columnProfileSql("orders", profiledCols)})
         SELECT po.col_name,
                po.n_rows AS old_rows, pn.n_rows AS new_rows,
                round(CAST(pn.n_nulls AS DOUBLE) / pn.n_rows
                  - CAST(po.n_nulls AS DOUBLE) / po.n_rows, 6)
                  AS null_rate_delta,
                round(CAST(pn.n_distinct AS DOUBLE) / po.n_distinct, 6)
                  AS distinct_ratio,
                pn.min_str <> po.min_str AS min_changed,
                pn.max_str <> po.max_str AS max_changed
         FROM po JOIN pn USING (col_name)""") { (s, d) =>
      val all = Tables.orders(s, d)
      val old = all.filter(col("o_orderdate") < lit("1998-01-01 00:00:00"))
      ColumnHygiene.profileDrift(old, all, profiledCols)
        .withColumnRenamed("column", "col_name")
    },

    /** §2b functional-dependency audit: does l_partkey determine
      * l_suppkey? Every violation row is a part supplied by several
      * suppliers — the key-trust check before a "by part" dedup/lookup. */
    Q("q_fd_violations",
      """SELECT l_partkey,
                (COUNT(DISTINCT l_suppkey)
                  + MAX(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END))
                  AS n_rhs_values,
                CAST(COUNT(*) AS BIGINT) AS n_rows
         FROM lineitem
         GROUP BY l_partkey
         HAVING (COUNT(DISTINCT l_suppkey)
                  + MAX(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END)) > 1""") { (s, d) =>
      ColumnHygiene.fdViolations(Tables.lineitem(s, d),
        Seq("l_partkey"), "l_suppkey")
    },

    /** §2b debounce: collapse consecutive same-type events per user — one
      * lag window keyed on user, (ts, event_id)-ordered. */
    Q("q_debounce",
      """SELECT event_id, user_id, ts, event_type
         FROM (SELECT event_id, user_id, ts, event_type,
                      lag(event_type) OVER w AS prev_type,
                      row_number() OVER w AS rn
               FROM events
               WINDOW w AS (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC))
         WHERE rn = 1
            OR (event_type IS DISTINCT FROM prev_type)""") { (s, d) =>
      Relational.debounce(Tables.events(s, d), "user_id", "ts", "event_id",
          "event_type")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    },

    /** §2b join cardinality pre-flight: System-R independence estimate vs
      * the exact histogram count for lineitem⋈orders — computed from
      * per-key counts (one row per distinct key), never by running the
      * join. */
    Q("q_join_card",
      """WITH lt AS (SELECT count(*) AS n_left,
                            count(DISTINCT l_orderkey) AS ndv_left
                     FROM lineitem),
              rt AS (SELECT count(*) AS n_right,
                            count(DISTINCT o_orderkey) AS ndv_right
                     FROM orders),
              lh AS (SELECT l_orderkey AS k, count(*) AS cl
                     FROM lineitem GROUP BY 1),
              rh AS (SELECT o_orderkey AS k, count(*) AS cr
                     FROM orders GROUP BY 1),
              a AS (SELECT coalesce(sum(CAST(cl AS DOUBLE) * cr), 0.0)
                      AS actual
                    FROM lh JOIN rh USING (k))
         SELECT CAST(n_left AS BIGINT) AS n_left,
                CAST(n_right AS BIGINT) AS n_right,
                CAST(ndv_left AS BIGINT) AS ndv_left,
                CAST(ndv_right AS BIGINT) AS ndv_right,
                round(CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
                  / CAST(greatest(ndv_left, ndv_right) AS DOUBLE), 6)
                  AS est_independence,
                CAST(actual AS BIGINT) AS actual_rows,
                round(CASE WHEN actual > 0 THEN
                  CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
                    / CAST(greatest(ndv_left, ndv_right) AS DOUBLE) / actual
                  END, 6) AS est_over_actual
         FROM lt, rt, a""") { (s, d) =>
      Joins.joinCardEstimate(Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey")
    },

    /** §2b incremental aggregate maintenance (IVM): per-status order
      * count/cents state folded forward from a CDC delta (the %7 slice
      * arrives as inserts, the %11 slice of the base retires as deletes) —
      * must equal the full recompute the oracle runs, at work ∝ |delta|.
      * Cents (exact longs) rather than float dollars so the incremental
      * and recomputed sums agree bit-for-bit. */
    Q("q_delta_agg",
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM orders
         WHERE (o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0)
            OR o_orderkey % 7 = 0
         GROUP BY 1""") { (s, d) =>
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("__cents"))
      val base = orders.filter(col("o_orderkey") % 7 =!= 0)
      val baseAgg = base.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("__cents")).as("sum_val"))
      val inserts = orders.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderstatus"), lit("I").as("op"), col("__cents"))
      val deletes = base.filter(col("o_orderkey") % 11 === 0)
        .select(col("o_orderstatus"), lit("D").as("op"), col("__cents"))
      Joins.maintainAgg(baseAgg, inserts.unionByName(deletes),
          "o_orderstatus", "__cents")
        .select(col("o_orderstatus"), col("cnt"),
          col("sum_val").as("sum_cents"))
    },

    /** §2b DP noised mean: per-source mean n_chars clipped to [0, 2000]
      * (clipping actually binds on this fixture — the release is
      * non-vacuous), Laplace((hi−lo)/(n·ε)) noise, ε=1 — the numeric
      * sibling of q_dp_counts. */
    Q("q_dp_mean",
      """WITH c AS (SELECT source, count(*) AS n,
                      avg(greatest(least(CAST(n_chars AS DOUBLE), 2000.0),
                        0.0)) AS m
                    FROM documents WHERE n_chars IS NOT NULL
                    GROUP BY 1),
              u AS (SELECT source, n, m,
                      CAST(('0x' || substring(md5('dpm:'
                        || CAST(source AS VARCHAR)), 1, 8)) AS BIGINT)
                        / 4294967296.0 - 0.5 AS uu
                    FROM c)
         SELECT source, CAST(n AS BIGINT) AS n,
                round(m + (-2000.0) * sign(uu)
                  * ln(greatest(1.0 - 2.0 * abs(uu), 1.0 / 4294967296.0))
                  / n, 6) AS noisy_mean
         FROM u""") { (s, d) =>
      ColumnHygiene.noisyMeans(Tables.documents(s, d), "source", "n_chars",
        lo = 0.0, hi = 2000.0, epsilon = 1.0, salt = "dpm")
    },

    /** FLAGSHIP §3 composition — the reference's ENTIRE main.py dataflow as
      * ONE oracle-checked query at sf scale, through the SAME [[Pipeline.run]]
      * a reference user calls: nested-ticket scan → backfill (T6, `summary`
      * is deliberately absent so the typed-null path fires; so is
      * `requester.customField`, firing the unresolvable-dotted-path null of
      * main.py:85-87) → dotted-path flatten/rename (T7, the reference's
      * rename_map VERBATIM: tags_ticket, createdAt/updatedAt kept,
      * autor_ticket/email_ticket, status_ticket2, campo_custom_ticket/2) →
      * whitelist custom-field pivot off campo_custom_ticket + enrichment
      * join (T8/T9, one non-whitelisted key proves the filter) → casts +
      * constant overwrite (T10/T11) → full-outer chat merge with collision
      * suffixing (T12 — `autor_ticket` exists on both sides) → key synthesis
      * for chat-only rows (T13, deterministic generator) → audit stamp (T14,
      * overwritten with a pinned timestamp so the oracle can match) → name
      * sanitize + dup-column drop (T15/T17) → dedup-vs-destination (T16).
      * Tickets are orders rows re-shaped into the reference's nested JSON
      * layout; chats derive from customer with a ticketNumber that hits ~a
      * quarter of tickets (both merge sides exercise their outer branch).
      * The raw campo_custom_ticket payload column survives to the output as
      * in df_ticket_filtro1; it is JSON-stringified at the end ONLY because
      * the driver's canonicalizer cannot sort raw array cells. */
    Q("q_octadesk_e2e",
      octadeskE2eSql(
        "strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || '+0000'",
        "autor_ticket_ticket", "segmento", "autor_ticket_chat")) { (s, d) =>
      val iso = Relational.isoFormat(col("o_orderdate"))
      octadeskE2e(s, d, Seq(iso.as("createdAt"), iso.as("updatedAt")),
        Seq(col("c_mktsegment").as("segmento"), col("c_name").as("autor_ticket")))
    },

    /** FLAGSHIP drift variant — the SAME [[Pipeline.run]] under schema
      * evolution, the condition main.py actually runs in (live Octadesk
      * payloads grow/lose fields between dailies): `updatedAt` is absent
      * from the payload (T6 backfill fires ON A RENAME-MAP KEY, not just
      * `summary`), the chat side carries an UNSEEN dynamic cf_* column with
      * a name needing sanitation (`cf_segmento?novo` → cf_segmento_novo,
      * T15 on never-seen-before input), and TWO chat columns that collide
      * post-sanitize (`cf_n?mero_do_cliente` / `cf_n-mero_do_cliente` both
      * → cf_n_mero_do_cliente) so T17's keep-first drop fires on a
      * collision CREATED BY sanitation rather than present in the input —
      * the exact failure mode of reference chat.py:21-31's regex rename.
      * Oracle keeps the first (c_name) copy and the evolved null columns. */
    Q("q_octadesk_e2e_drift",
      octadeskE2eSql("CAST(NULL AS VARCHAR)", "autor_ticket",
        "cf_segmento_novo", "cf_n_mero_do_cliente")) { (s, d) =>
      octadeskE2e(s, d,
        Seq(Relational.isoFormat(col("o_orderdate")).as("createdAt")),
        Seq(col("c_mktsegment").as("cf_segmento?novo"),
          col("c_name").as("cf_n?mero_do_cliente"),
          col("c_nationkey").cast("string").as("cf_n-mero_do_cliente")))
    },

    /** §2b candidate-key discovery: exact uniqueness/null audit of four
      * proposed key combos on orders in ONE aggregate pass — o_orderkey
      * verifies as a real key, the others rank below it. */
    Q("q_key_candidates",
      """WITH base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
              u AS (
         SELECT 'o_orderkey' AS candidate, n AS n_rows,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                 WHERE o_orderkey IS NULL) AS n_null_rows,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM
                  (SELECT DISTINCT o_orderkey FROM orders)) AS n_distinct
         FROM base
         UNION ALL
         SELECT 'o_custkey', n,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                 WHERE o_custkey IS NULL),
                (SELECT CAST(COUNT(*) AS BIGINT) FROM
                  (SELECT DISTINCT o_custkey FROM orders))
         FROM base
         UNION ALL
         SELECT 'o_orderstatus+o_orderpriority', n,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                 WHERE o_orderstatus IS NULL OR o_orderpriority IS NULL),
                (SELECT CAST(COUNT(*) AS BIGINT) FROM
                  (SELECT DISTINCT o_orderstatus, o_orderpriority
                   FROM orders))
         FROM base
         UNION ALL
         SELECT 'o_custkey+o_orderdate', n,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                 WHERE o_custkey IS NULL OR o_orderdate IS NULL),
                (SELECT CAST(COUNT(*) AS BIGINT) FROM
                  (SELECT DISTINCT o_custkey, o_orderdate FROM orders))
         FROM base)
         SELECT candidate, n_rows, n_null_rows, n_distinct,
                round(CAST(n_distinct AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
                  AS uniqueness,
                (n_distinct = n_rows AND n_null_rows = 0) AS is_key
         FROM u""") { (s, d) =>
      ColumnHygiene.keyCandidates(Tables.orders(s, d), Seq(
        Seq("o_orderkey"), Seq("o_custkey"),
        Seq("o_orderstatus", "o_orderpriority"),
        Seq("o_custkey", "o_orderdate")))
    },
  )
}
