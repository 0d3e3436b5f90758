package graft

import graft.operators.Prefix
import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The bucketed (`wide = true`) arm of every [[Prefix]] operator returns
  * the plain single-window arm's rows, column for column. Grids follow
  * the operators' contract (one row per (group, order value), integral
  * weights, non-null lag/lead values) and include null, NaN and
  * infinite order values, negative and repeated values across groups,
  * and the degenerate zero-row, one-row and one-distinct-value grids. The
  * session's 4 shuffle partitions give the wide arm 4 range buckets. */
class PrefixSpec extends SparkSuite {
  import spark.implicits._

  /** (group, order-value code, w1, w2, v). Codes -20..20 are halved
    * into the order value; 100 is null, 101 NaN, 102 +∞ and 103 -∞. */
  private type Cell = (Int, Int, Long, Long, Long)

  private def ord(code: Int): Option[Double] = code match {
    case 100 => None
    case 101 => Some(Double.NaN)
    case 102 => Some(Double.PositiveInfinity)
    case 103 => Some(Double.NegativeInfinity)
    case c => Some(c / 2.0)
  }

  private val randomGrid: Gen[Seq[Cell]] = for {
    groups <- Gen.choose(1, 3)
    n <- Gen.choose(2, 40)
    cells <- Gen.listOfN(n, for {
      g <- Gen.choose(0, groups - 1)
      code <- Gen.frequency(12 -> Gen.choose(-20, 20), 1 -> Gen.const(100),
        1 -> Gen.const(101), 1 -> Gen.oneOf(102, 103))
      w1 <- Gen.choose(0L, 9L)
      w2 <- Gen.choose(-5L, 5L)
      v <- Gen.choose(-1000L, 1000L)
    } yield (g, code, w1, w2, v))
  } yield cells

  private val degenerateGrids: Seq[Seq[Cell]] = Seq(
    Seq.empty,
    Seq((0, 3, 3L, -1L, 7L)),
    Seq((0, 4, 1L, 2L, 5L), (1, 4, 4L, 0L, 6L), (2, 4, 2L, 3L, 8L)),
    Seq((0, 100, 1L, 1L, 1L), (0, 101, 2L, 2L, 2L), (1, 100, 3L, 3L, 3L)),
    Seq((0, 101, 1L, 1L, 1L), (0, 102, 2L, 2L, 2L), (0, 103, 3L, 3L, 3L),
      (0, 4, 4L, 4L, 4L)))

  private val grids: Seq[Seq[Cell]] = degenerateGrids ++
    (1 to 8).flatMap(i => randomGrid(Gen.Parameters.default, Seed(i.toLong)))

  private def frame(cells: Seq[Cell]): DataFrame =
    cells.map { case (g, code, w1, w2, v) => (g, ord(code), w1, w2, v) }
      .toDF("g", "o", "w1", "w2", "v")

  /** Operator inputs under the grid contract, one row per (group, order
    * value). Grouped: all grids in one frame, grid k's groups renumbered
    * to 10k + g. Global (the whole grid is one group): one frame per
    * grid, one row per order value. */
  private val inputs: Seq[(DataFrame, Seq[String])] =
    (frame(grids.zipWithIndex.flatMap { case (cells, k) =>
      cells.distinctBy(c => (c._1, c._2)).map(c => c.copy(_1 = 10 * k + c._1))
    }), Seq("g")) +: grids.map(cells => (frame(cells.distinctBy(_._2)), Nil))

  private def assertSameRows(plain: DataFrame, wide: DataFrame, what: String): Unit = {
    assert(wide.columns.toSeq === plain.columns.toSeq, what)
    assert(wide.schema.map(_.dataType) === plain.schema.map(_.dataType), what)
    def rows(df: DataFrame): Seq[Row] = df.orderBy("g", "o").collect().toSeq
    assert(rows(wide) === rows(plain), what)
  }

  test("cumBefore: wide arm equals the plain window (asc/desc, totals, grouped/global)") {
    for ((input, grp) <- inputs; desc <- Seq(false, true);
         totals <- Seq(false, true)) {
      def run(wide: Boolean) = Prefix.cumBefore(input, grp, "o",
        Seq("w1", "w2"), desc = desc, wide = wide, withTotals = totals)
      assertSameRows(run(false), run(true), s"grp=$grp desc=$desc totals=$totals")
    }
  }

  test("lagAcross: wide arm equals the plain window (asc/desc, grouped/global)") {
    for ((input, grp) <- inputs; desc <- Seq(false, true)) {
      def run(wide: Boolean) =
        Prefix.lagAcross(input, grp, "o", "v", desc = desc, wide = wide)
      assertSameRows(run(false), run(true), s"grp=$grp desc=$desc")
    }
  }

  test("leadAcross: wide arm equals the plain window (grouped/global)") {
    for ((input, grp) <- inputs) {
      def run(wide: Boolean) = Prefix.leadAcross(input, grp, "o", "v", wide = wide)
      assertSameRows(run(false), run(true), s"grp=$grp")
    }
  }
}
