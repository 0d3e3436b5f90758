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
    // collect, not count(): count() lets Catalyst prune projected
    // columns, so a column that throws would never be evaluated
    val empties = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val n = fn(spark, sf).collect().length
      if (n == 0) Some(name) else None
    }
    // q_embedding_pairs/q_lsh_neardup may legitimately be sparse, everything
    // else must produce rows at the smallest SF.
    val allowedEmpty = Set("q_embedding_pairs", "q_lsh_neardup")
    assert((empties.toSet -- allowedEmpty).isEmpty,
      s"unexpected empty results: ${empties.toSet -- allowedEmpty}")
  }
}
