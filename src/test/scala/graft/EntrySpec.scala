package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import graft.queries.Q
import graft.queries.Shared.{duckSentences, duckTokens, duckTokensOf}

/** Smoke: the driver contract — entry() returns rows; the registry's names
  * are unique and every oracle is real; every query runs at sf0.001. */
class EntrySpec extends SparkSuite {

  test("entry returns rows") {
    // collect, not count(): count() lets Catalyst prune projected columns
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }

  test("the registry declares 413 uniquely named queries") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 413 && names.distinct.size == 413)
  }

  test("every oracle is non-blank") {
    val blank = SparkEntry.registry.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries with a blank oracle: $blank")
  }

  test("every oracle matches its pinned digest in oracle_digests.tsv") {
    // One line per query: the name, a tab, and the SHA-256 of its oracle
    // with every whitespace run collapsed to one space. Folding oracles
    // into shared SQL generators must leave every digest unchanged; an
    // intended oracle edit updates its line in the same change.
    def digest(sql: String): String =
      MessageDigest.getInstance("SHA-256")
        .digest(sql.replaceAll("\\s+", " ").trim.getBytes(UTF_8))
        .map(b => f"$b%02x").mkString
    val src = scala.io.Source.fromResource("oracle_digests.tsv")(
      scala.io.Codec.UTF8)
    val pinned = try src.getLines().map(_.split("\t"))
      .map(a => a(0) -> a(1)).toMap finally src.close()
    assert(pinned.keySet == SparkEntry.oracleSql.keySet,
      s"unpinned: ${SparkEntry.oracleSql.keySet -- pinned.keySet}, " +
        s"pinned but gone: ${pinned.keySet -- SparkEntry.oracleSql.keySet}")
    val changed = SparkEntry.oracleSql.collect {
      case (name, sql) if digest(sql) != pinned(name) => name
    }
    assert(changed.isEmpty,
      s"oracles that differ from their pinned text: ${changed.toSeq.sorted}")
  }

  test("a registry with a duplicate name fails its require") {
    val q = SparkEntry.registry.head
    val e = intercept[IllegalArgumentException](
      SparkEntry.unique(Seq(q, Q(q.name, "SELECT 1")(q.build))))
    assert(e.getMessage.contains(q.name))
  }

  test("named rejects unknown names and lists every one") {
    assert(SparkEntry.named(Seq(" q_pagerank", "")).map(_.name) == Seq("q_pagerank"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.named(Seq("q_no_such", "q_pagerank", "q_nor_this")))
    assert(e.getMessage.contains("q_no_such") && e.getMessage.contains("q_nor_this"))
  }

  test("every oracle tokenizer use is the canonical guarded expression") {
    // Oracles carry inline copies of the guarded tokenizer; any copy that
    // drifts from the canonical constant would silently diverge from
    // TextFunctions.tokens on edge-case rows.
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val scrubbed = sql
        .replace(duckTokens, "")
        .replace(duckTokensOf("s"), "")
        .replace(duckTokensOf("coalesce(da.text, '')"), "")
        .replace(duckTokensOf("coalesce(db.text, '')"), "")
        .replace(duckSentences, "")
      assert(!scrubbed.contains("string_split_regex"),
        s"$name uses a tokenizer/splitter variant that differs from the " +
          "canonical guarded expressions")
    }
  }

  test("every query runs and is non-empty at sf0.001") {
    // result_digests.tsv pins each query's result: one line per query,
    // the name, the row count, and the MD5 of its rows' `Row.toString`
    // lines sorted (order-insensitive). A refactor must leave every line
    // unchanged; an intended result change updates its line.
    val src = scala.io.Source.fromResource("result_digests.tsv")(
      scala.io.Codec.UTF8)
    val pinned = try src.getLines().map(_.split("\t"))
      .map(a => a(0) -> (a(1).toInt, a(2))).toMap finally src.close()
    // collect, not count(): count() lets Catalyst prune projected
    // columns, so a column that throws would never be evaluated
    val got = SparkEntry.queries.toSeq.map { case (name, fn) =>
      val rows = fn(spark, sf).collect().map(_.toString).sorted
      val md5 = MessageDigest.getInstance("MD5")
      rows.foreach(r => md5.update((r + "\n").getBytes(UTF_8)))
      name -> (rows.length, md5.digest().map(b => f"$b%02x").mkString)
    }
    // q_embedding_pairs/q_lsh_neardup may legitimately be sparse, everything
    // else must produce rows at the smallest SF.
    val allowedEmpty = Set("q_embedding_pairs", "q_lsh_neardup")
    val empties = got.collect { case (name, (0, _)) => name }.toSet
    assert((empties -- allowedEmpty).isEmpty,
      s"unexpected empty results: ${empties -- allowedEmpty}")
    assert(pinned.keySet == SparkEntry.queries.keySet,
      s"unpinned: ${SparkEntry.queries.keySet -- pinned.keySet}, " +
        s"pinned but gone: ${pinned.keySet -- SparkEntry.queries.keySet}")
    val changed = got.collect {
      case (name, result) if pinned(name) != result => name
    }
    assert(changed.isEmpty,
      s"results that differ from result_digests.tsv: ${changed.sorted}")
  }
}
