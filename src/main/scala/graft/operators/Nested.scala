package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Nested-data kit (SURVEY.md §2: S4-S5 shapes, T8, T20-T21).
  *
  * The reference flattens nested JSON with `pd.json_normalize` (dotted
  * column paths), whitelists `customField` {key,value} arrays into pivoted
  * columns, and pivots event lists to `evt_<type>` columns. Here those are
  * declarative column expressions — `map_from_entries` + `getItem` instead
  * of per-row dict comprehensions, explode+pivot instead of row loops — so
  * they stay inside whole-stage codegen and scale horizontally.
  */
object Nested {

  /** Recursively flatten struct columns to dotted-path flat columns, the
    * `pd.json_normalize` shape (reference/ticket.py:23, chat.py:295):
    * `status.name` → column "status.name" (callers typically sanitize
    * names afterwards). Arrays are left intact (flattened only by explicit
    * explode/pivot operators). */
  def flattenStructs(df: DataFrame, sep: String = "."): DataFrame = {
    // Column references are built with each path segment backtick-quoted, so
    // field names containing dots/spaces/special characters (the messy JSON
    // names json_normalize must cope with, e.g. "Número do ticket") resolve
    // as field accesses rather than being re-parsed as nested paths. The
    // unquoted dotted string is kept only as the output alias.
    def quote(seg: String): String = "`" + seg.replace("`", "``") + "`"
    def expandNested(schema: StructType, path: String, quoted: String): Seq[Column] =
      schema.fields.toIndexedSeq.flatMap { f =>
        val p = s"$path.${f.name}"
        val q = s"$quoted.${quote(f.name)}"
        f.dataType match {
          case st: StructType => expandNested(st, p, q)
          case _ => Seq(col(q).alias(p.replace(".", sep)))
        }
      }
    val cols = df.schema.fields.flatMap { f =>
      f.dataType match {
        case st: StructType => expandNested(st, f.name, quote(f.name))
        case _ => Seq(col(quote(f.name)))
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Whitelist key-value extraction (reference/ticket.py:69-96
    * `extrair_custom_ticket`): from an `array<struct<key,value>>` column,
    * keep only whitelisted keys and pivot them to `<prefix><key>` columns,
    * dropping the kv column unless `keepKv`. Pure expressions — no UDF,
    * no shuffle. The map is its own projection, built once per row: it is
    * not cheap, so Catalyst does not inline it into each `getItem`. */
  def extractWhitelistedKV(df: DataFrame, kvCol: String, whitelist: Seq[String],
                           prefix: String, keepKv: Boolean = false): DataFrame = {
    val m = map_from_entries(
      filter(coalesce(col(kvCol), array()),
        x => x.getField("key").isin(whitelist.map(lit): _*)))
    val withMap = df.withColumn("__kv_map", m)
    val extracted = whitelist.map(k => col("__kv_map").getItem(k).as(s"$prefix$k"))
    val kept = if (keepKv) df.columns.toSeq else df.columns.toSeq.filterNot(_ == kvCol)
    withMap.select((kept.map(col) ++ extracted).toIndexedSeq: _*)
  }

  /** Dynamic key-value pivot (reference/chat.py:106-113 `cf_chat_<name>`):
    * explode the kv array and pivot on the key domain. `knownKeys` bounds
    * the pivot (never infer on an unbounded key domain at scale — at 100 TB
    * the two-phase distinct pass is only acceptable for enum-sized domains,
    * SURVEY.md §7 hard parts). */
  def pivotKV(df: DataFrame, idCols: Seq[String], kvCol: String,
              knownKeys: Seq[String], prefix: String): DataFrame = {
    val exploded = df
      .select((idCols.map(col) :+ explode_outer(col(kvCol)).as("__kv")).toIndexedSeq: _*)
      .select((idCols.map(col) :+ col("__kv.key").as("__k") :+ col("__kv.value").as("__v")).toIndexedSeq: _*)
    val pivoted = exploded.groupBy(idCols.map(col).toIndexedSeq: _*)
      .pivot("__k", knownKeys)
      .agg(first(col("__v"), ignoreNulls = true))
    knownKeys.foldLeft(pivoted)((d, k) => d.withColumnRenamed(k, s"$prefix$k"))
  }

  /** Event pivot (reference/chat.py:274-287): a table of (id, type, data)
    * events becomes one row per id with `evt_<type> = true` presence flags
    * plus `evt_<type>_<field>` payload columns. `typeValues` is the bounded
    * event-type enum. Payload extraction is caller-supplied per type. */
  def pivotEventPresence(events: DataFrame, idCol: String, typeCol: String,
                         typeValues: Seq[String]): DataFrame = {
    val pivoted = events.groupBy(col(idCol))
      .pivot(typeCol, typeValues)
      .agg(count(lit(1)))
    typeValues.foldLeft(pivoted) { (d, t) =>
      d.withColumn(s"evt_$t", col(t).isNotNull && col(t) > 0).drop(t)
    }
  }
}
