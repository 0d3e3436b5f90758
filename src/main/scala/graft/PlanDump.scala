package graft

import scala.util.matching.Regex

/** Dev tool (not driver contract): write `.explain("formatted")` output
  * for named queries to <outDir>/<query>_<suffix>.txt — the plan
  * evidence files under plans/rNN/. The text is [[canonical]], and the
  * session's cache is cleared after each query, so a query's plan is the
  * one it has alone: two dumps of one tree are byte-identical and a plain
  * `diff` of two trees shows only real plan changes.
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val qs = SparkEntry.named(args(3).split(",").toSeq)
    val spark = Sessions.local(Sessions.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    qs.foreach { q =>
      val name = q.name
      val df = q.build(spark, sfDir)
      val txt = canonical(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"PLANDUMP wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
      // an operator's cached frames outlive its query; a later query that
      // reused them would show a plan that depends on what ran before it
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** The parts of a formatted plan that change from run to run with no
    * change of plan: exchange `plan_id`s, RDD ids, the `File.scala:<line>`
    * call site of a checkpointed RDD, lambda class names and identity
    * hashes (content-hashed `Unsafe*` literals keep theirs). */
  private val volatile = Seq(
    raw"plan_id=\d+".r -> "plan_id=_",
    raw"RDD\[\d+\]".r -> "RDD[_]",
    raw"(\w+\.scala):\d+".r -> "$1:_",
    raw"\$$\$$Lambda[^\s,\])]*".r -> "\\$\\$Lambda",
    raw"(?<!Unsafe\w{0,20})@[0-9a-f]{4,}\b".r -> "@_")

  /** Canonical text of a formatted plan: [[volatile]] parts blanked, each
    * `Expand` of a distinct-aggregate rewrite in a fixed order
    * ([[sortExpands]]), and `#N` expression ids renumbered in order of
    * first appearance. A changed literal, operator or column still shows. */
  def canonical(plan: String): String = {
    val blanked = volatile.foldLeft(plan) { case (t, (re, to)) =>
      re.replaceAllIn(t, to)
    }
    val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    raw"#(\d+)".r.replaceAllIn(sortExpands(blanked),
      m => "#" + ids.getOrElseUpdate(m.group(1), ids.size + 1))
  }

  /** RewriteDistinctAggregates builds its `Expand` from a hash map of
    * the distinct groups, so the order of the group columns before `gid`
    * and the `gid` number of each group vary with the expression ids of
    * the run. Put the group columns in name order and number the groups
    * in the order of their sorted projections, then apply the same
    * reorder to every column list that carries the group columns and
    * the same renumbering to every `gid` comparison. */
  private def sortExpands(plan: String): String = {
    val expandArgs = raw"(?m)^(\(\d+\) Expand.*\n(?:.*\n)*?Arguments: )(.*)$$".r
    val n = expandArgs.findAllMatchIn(plan).size
    (0 until n).foldLeft(plan) { (text, k) =>
      val m = expandArgs.findAllMatchIn(text).drop(k).next()
      val (projs, out) = topLevel(m.group(2)) match {
        case Seq(p, o) => (p, o)
        case _ => ("", "")
      }
      val outCols = topLevel(inner(out))
      val g = outCols.indexWhere(_.matches(raw"gid#\d+"))
      if (g <= 0) text else {
        val gidCol = outCols(g)
        val order = (0 until g).sortBy(i => outCols(i).replaceAll("#\\d+L?", ""))
        val rows = topLevel(inner(projs)).map(p => topLevel(inner(p)))
          .map(r => order.map(r) ++ r.drop(g))
        val (plain, groups) = rows.partition(_(g) == "0")
        val sorted = groups.sortBy(_.updated(g, "").mkString(", "))
        val gids = sorted.zipWithIndex
          .map { case (r, i) => r(g) -> (i + 1).toString }.toMap
        val newProjs = (plain ++ sorted.map(r => r.updated(g, gids(r(g)))))
          .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
        val withArgs = text.substring(0, m.start(2)) + newProjs + ", " + out +
          text.substring(m.end(2))
        (Regex.quote(gidCol) + raw" = (\d+)\)").r.replaceAllIn(
          reorderRuns(withArgs, outCols.take(g), order, gidCol),
          c => Regex.quoteReplacement(
            s"$gidCol = ${gids.getOrElse(c.group(1), c.group(1))})"))
      }
    }
  }

  /** In every list of the plan where the `cols` run sits just before
    * `gidCol` — as plain columns, aliased expressions (`f(c) AS c`) or
    * sort orders — put the run in `order`. */
  private def reorderRuns(text: String, cols: Seq[String], order: Seq[Int],
                          gidCol: String): String = {
    // the alias of `f(c) AS c`, where the alias's AS is the last one outside
    // any bracket (a `CAST(x AS t)` inside a column's name is not an alias)
    def name(item: String): String = {
      val expr = item.stripSuffix(" ASC NULLS FIRST")
      var depth = 0
      var alias = 0
      expr.indices.foreach { i =>
        expr(i) match {
          case '(' | '[' => depth += 1
          case ')' | ']' => depth -= 1
          case ' ' if depth == 0 && expr.startsWith(" AS ", i) => alias = i + 4
          case _ =>
        }
      }
      expr.substring(alias)
    }
    val out = new StringBuilder
    var from = 0
    raw"(?<=, )${Regex.quote(gidCol)}(?!\d)".r.findAllMatchIn(text).foreach { m =>
      itemsBefore(text, m.start - 2, cols.size).foreach { case (start, items) =>
        if (start >= from && items.map(name) == cols) {
          out.append(text.substring(from, start)).append(order.map(items).mkString(", "))
          from = m.start - 2
        }
      }
    }
    out.append(text.substring(from)).toString
  }

  /** The `n` list items that end at `end` (exclusive), with the offset
    * where the first one starts, or None when the list is shorter. */
  private def itemsBefore(text: String, end: Int, n: Int): Option[(Int, List[String])] = {
    var items = List.empty[String]
    var itemEnd = end
    var depth = 0
    var j = end - 1
    while (j >= 0 && items.size < n && text(j) != '\n') {
      text(j) match {
        case ')' | ']' => depth += 1
        case '(' | '[' if depth > 0 => depth -= 1
        case '(' | '[' =>
          items = text.substring(j + 1, itemEnd) :: items
          return if (items.size == n) Some((j + 1, items)) else None
        case ' ' if depth == 0 && j > 0 && text(j - 1) == ',' =>
          items = text.substring(j + 1, itemEnd) :: items
          if (items.size == n) return Some((j + 1, items))
          itemEnd = j - 1
          j -= 1
        case _ =>
      }
      j -= 1
    }
    None
  }

  private def inner(list: String): String = list.trim.stripPrefix("[").stripSuffix("]")

  /** Split on the commas outside any bracket or parenthesis. */
  private def topLevel(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var from = 0
    s.indices.foreach { i =>
      s(i) match {
        case '[' | '(' => depth += 1
        case ']' | ')' => depth -= 1
        case ',' if depth == 0 => parts += s.substring(from, i).trim; from = i + 1
        case _ =>
      }
    }
    (parts += s.substring(from).trim).result()
  }
}
