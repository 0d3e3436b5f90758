package perfbench

import graft.operators.{Dedup, Similarity, TextAnalytics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `corpus_curation`: staged curation of a seeded synthetic corpus in
  * which data work, not stage count, dominates. Each stage writes parquet
  * and the next reads it: quality gate, best-copy exact dedup, MinHash
  * signatures, LSH candidates, duplicate clusters, then semantic dedup of
  * the survivors' embeddings. The generator plants junk documents, exact
  * copies, near-duplicate variants and semantic twins, and keeps the
  * ground truth to check every pass against. */
final class CorpusCuration(spark: SparkSession, seed: Long, work: String) extends Workload {
  import CorpusCuration._

  private var corpus: Corpus = _
  private var dir: String = _
  private var lastCandidates = 0.0
  private var lastPrecision = 0.0
  private var lastRecall = 0.0
  private var lastRounds = 0.0

  def generate(d: String): Unit = {
    import spark.implicits._
    corpus = Corpus.generate(seed)
    corpus.docs.toDF("doc_id", "text", "quality", "embedding")
      .write.mode("overwrite").parquet(s"$d/corpus")
    dir = d
  }

  def warmUp(ops: OpTimer, log: String => Unit): Int = pass(-1, ops, log)

  def pass(p: Int, ops: OpTimer, log: String => Unit): Int = {
    val root = s"$work/pass-$p"
    Workload.deleteTree(new java.io.File(s"$work/pass-${p - 1}"))
    def stage(i: Int, name: String)(body: => DataFrame): DataFrame = Trace.span(name) {
      body.write.parquet(s"$root/stage-$i")
      spark.read.parquet(s"$root/stage-$i")
    }
    var rounds = 0
    val ok = ops.op("corpus.pass", corpus.docs.size) {
      val docs = spark.read.parquet(s"$dir/corpus")
      val gated = stage(1, "text.quality") {
        docs.join(TextAnalytics.gopherRules(docs, "doc_id", "text",
          minTokens = MinTokens, minStopwords = 0L).filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi")
      }
      val unique = stage(2, "dedup.exact") {
        gated.join(Dedup.keepBestCopy(gated, "doc_id", "text", "quality")
          .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      }
      val sigs = stage(3, "dedup.minhash") {
        Dedup.minHashSignatures(unique, "doc_id", "text", Bands * RowsPerBand)
      }
      val cands = stage(4, "dedup.lsh") {
        Dedup.minHashLshCandidates(sigs, "doc_id", Bands, RowsPerBand)
      }
      val kept = stage(5, "dedup.cluster") {
        val run = Dedup.duplicateClustersRun(unique.select("doc_id"), cands, "doc_id")
        rounds = run.rounds
        unique.join(run.clusters.filter(col("doc_id") === col("cluster")).select("doc_id"),
          Seq("doc_id"), "left_semi")
      }
      stage(6, "similarity.semantic_dedup") {
        Similarity.semanticDedup(kept.select("doc_id", "embedding"), "doc_id", "embedding",
          corpus.centroids, SemanticThreshold).filter(col("is_canonical")).select("doc_id")
      }
    }
    spark.catalog.clearCache()
    if (ok && check(root, rounds, log) > 0) 1 else 0
  }

  private def ids(path: String): Set[Long] =
    spark.read.parquet(path).select("doc_id").collect().map(_.getLong(0)).toSet

  /** Output checks of one pass; returns the number that failed. */
  private def check(root: String, rounds: Int, log: String => Unit): Int = {
    var failed = 0
    val unique = ids(s"$root/stage-2")
    val leftover = corpus.exactLosers.intersect(unique)
    if (leftover.nonEmpty) {
      log(s"corpus_curation: ${leftover.size} planted exact duplicates survived exact dedup")
      failed += 1
    }
    val cands = spark.read.parquet(s"$root/stage-4").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = corpus.nearPairs.count(cands.contains)
    lastCandidates = cands.size
    lastRecall = hit.toDouble / corpus.nearPairs.size
    lastPrecision = if (cands.isEmpty) 0.0 else hit.toDouble / cands.size
    lastRounds = rounds
    if (lastRecall < RecallFloor) {
      log(f"corpus_curation: near-dup recall $lastRecall%.4f below the floor $RecallFloor")
      failed += 1
    }
    val survivors = ids(s"$root/stage-6")
    if (Corpus.digest(survivors) != corpus.expectedDigest) {
      log(s"corpus_curation: ${survivors.size} survivors with digest ${Corpus.digest(survivors)}, " +
        s"expected ${corpus.expectedSurvivors.size} with ${corpus.expectedDigest}")
      failed += 1
    }
    failed
  }

  def layerCounts: Map[String, Double] = Map(
    "dedup.candidates" -> lastCandidates, "dedup.candidate_precision" -> lastPrecision,
    "dedup.near_dup_recall" -> lastRecall, "dedup.cluster_rounds" -> lastRounds)
}

object CorpusCuration {
  val Docs = 3000
  val MinTokens = 25L
  val Bands = 6
  val RowsPerBand = 3
  val SemanticThreshold = 0.9
  /** Planted near-dup variants differ from their base in one token, a
    * token Jaccard near 0.94; 6 bands of 3 rows find such a pair with
    * probability 1 - (1 - 0.94^3)^6 > 0.9999. */
  val RecallFloor = 0.99
}

/** A generated corpus and its ground truth. */
final case class Corpus(docs: Seq[(Long, String, Double, Array[Float])],
                        centroids: Seq[(Long, Seq[Double])],
                        exactLosers: Set[Long], nearPairs: Set[(Long, Long)],
                        expectedSurvivors: Set[Long]) {
  val expectedDigest: String = Corpus.digest(expectedSurvivors)
}

object Corpus {
  val Dim = 64
  val Cells = 16

  def digest(ids: Set[Long]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(ids.toSeq.sorted.mkString(",").getBytes("UTF-8"))
    md.digest().map(b => f"$b%02x").mkString
  }

  private val Syllables: Array[String] = for {
    c <- Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "ch", "br", "tr", "st", "pl")
    v <- Array("a", "e", "i", "o", "u")
  } yield c + v

  /** Word i of a 100^3-word synthetic vocabulary. */
  private def word(i: Int): String =
    Syllables(i % 100) + Syllables(i / 100 % 100) + Syllables(i / 10000 % 100)

  private def unit(r: scala.util.Random): Array[Double] = {
    val v = Array.fill(Dim)(r.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def cellOf(v: Array[Double], cents: Seq[Array[Double]]): (Int, Double) = {
    val sims = cents.map(dot(v, _)).zipWithIndex.sortBy(-_._1)
    (sims.head._2, sims.head._1 - sims(1)._1)
  }

  /** Roles by position: 5% junk (too short for the quality gate), then
    * groups of two planted on distinct base documents: exact copies (6%),
    * near-dup variants (6%) and semantic twins (4%). */
  def generate(seed: Long): Corpus = {
    import CorpusCuration.Docs
    val r = new scala.util.Random(seed)
    val cents = Seq.fill(Cells)(unit(r))
    def text(n: Int): Array[String] = Array.fill(n)(word(r.nextInt(1000000)))
    val texts = Array.tabulate(Docs)(i => if (i % 20 == 0) text(8 + r.nextInt(8)) else text(30 + r.nextInt(11)))
    val embs = Array.fill(Docs)(unit(r).map(x => x.toFloat.toDouble))
    val quality = Array.tabulate(Docs)(i => r.nextInt(1000) + i * 1e-6)
    val junk = (0 until Docs by 20).map(_.toLong).toSet
    val bases = r.shuffle((0 until Docs).filterNot(i => junk(i.toLong)).toVector)
    val nGroup = Docs / 100
    val (exactG, rest1) = bases.splitAt(2 * 3 * nGroup)
    val (nearG, rest2) = rest1.splitAt(2 * 3 * nGroup)
    val semG = rest2.take(2 * 2 * nGroup)
    val caseFlip = (s: String) => s.toUpperCase
    def pairs(v: Vector[Int]) = v.grouped(2).map(g => (g(0), g(1)))

    val exactLosers = pairs(exactG).flatMap { case (a, b) =>
      texts(b) = texts(a).map(caseFlip)
      quality(b) = quality(a) + (if (r.nextBoolean()) 0.5 else -0.5)
      Seq(if (quality(a) > quality(b)) b else a)
    }.map(_.toLong).toSet
    val nearPairs = pairs(nearG).map { case (a, b) =>
      val t = texts(a).clone()
      t(r.nextInt(t.length)) = word(r.nextInt(1000000))
      texts(b) = t
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.toSet
    // a twin stays within the semantic threshold of its base and in the
    // same IVF cell, with a margin no float rounding can flip
    val semLosers = pairs(semG).map { case (a, b) =>
      val (cell, _) = cellOf(embs(a), cents)
      var twin: Array[Double] = null
      while (twin == null) {
        val noise = unit(r)
        val c = embs(a).zip(noise).map { case (x, y) => x + 0.15 * y }
        val n = math.sqrt(c.map(x => x * x).sum)
        val cand = c.map(x => (x / n).toFloat.toDouble)
        val (cc, margin) = cellOf(cand, cents)
        if (cc == cell && margin > 1e-3 && dot(cand, embs(a)) > CorpusCuration.SemanticThreshold + 0.02)
          twin = cand
      }
      embs(b) = twin
      math.max(a, b).toLong
    }.toSet
    val nearLosers = nearPairs.map(_._2)
    val survivors = (0 until Docs).map(_.toLong).toSet -- junk -- exactLosers -- nearLosers -- semLosers
    val docs = (0 until Docs).map(i =>
      (i.toLong, texts(i).mkString(" "), quality(i), embs(i).map(_.toFloat)))
    Corpus(docs, cents.zipWithIndex.map { case (c, i) => i.toLong -> c.toSeq },
      exactLosers, nearPairs, survivors)
  }
}
