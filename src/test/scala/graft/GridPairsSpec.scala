package graft.operators

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.Prop.forAllNoShrink
import org.scalacheck.Test.{check, Parameters}
import org.scalatest.funsuite.AnyFunSuite

/** [[Overlay.gridPairs]] — the bbox grid cover under the overlay,
  * segment-crossing, region-exposure and nearest-polygon joins — against
  * brute force: a pair comes out iff the two boxes' cell ranges
  * `[floor(min / cellDeg), floor(max / cellDeg)]` overlap on both axes,
  * and then exactly once.
  */
class GridPairsSpec extends AnyFunSuite {
  import graft.SharedSpark._
  import spark.implicits._

  private val CellDeg = 2.0
  private type Box = (Double, Double, Double, Double)

  private def cells(lo: Double, hi: Double): (Long, Long) =
    (math.floor(lo / CellDeg).toLong, math.floor(hi / CellDeg).toLong)

  private def bruteForce(as: Seq[Box], bs: Seq[Box]): Seq[(Int, Int)] =
    for {
      (a, i) <- as.zipWithIndex
      (b, j) <- bs.zipWithIndex
      overlaps = Seq((a._1, a._2, b._1, b._2), (a._3, a._4, b._3, b._4)).forall {
        case (a0, a1, b0, b1) =>
          val (ac0, ac1) = cells(a0, a1)
          val (bc0, bc1) = cells(b0, b1)
          ac0 <= bc1 && bc0 <= ac1
      }
      if overlaps
    } yield (i, j)

  // cell edges exactly (k · cellDeg), just below an edge, and anywhere,
  // on both sides of zero
  private val coord: Gen[Double] = Gen.frequency(
    3 -> Gen.choose(-8, 8).map(_ * CellDeg),
    1 -> Gen.choose(-8, 8).map(_ * CellDeg - 1e-9),
    4 -> Gen.choose(-17.0, 17.0))
  // zero width (points, vertical/horizontal segments), a whole number of
  // cells (max edge on a boundary too), a few cells, many cells
  private val extent: Gen[Double] = Gen.frequency(
    3 -> Gen.const(0.0),
    2 -> Gen.choose(0, 4).map(_ * CellDeg),
    3 -> Gen.choose(0.0, 5.0),
    1 -> Gen.choose(0.0, 30.0))
  private val box: Gen[Box] = for {
    x <- coord; w <- extent; y <- coord; h <- extent
  } yield (x, x + w, y, y + h)
  private val point: Gen[Box] = for (x <- coord; y <- coord) yield (x, x, y, y)

  private def pairs(as: Seq[Box], bs: Seq[Box], pointSide: Boolean): Seq[(Int, Int)] = {
    val a = as.zipWithIndex.map { case ((x0, x1, y0, y1), i) => (i, x0, x1, y0, y1) }
      .toDF("a_id", "ax0", "ax1", "ay0", "ay1")
    val b = bs.zipWithIndex.map { case ((x0, x1, y0, y1), i) => (i, x0, x1, y0, y1) }
      .toDF("b_id", "bx0", "bx1", "by0", "by1")
    // a point side passes the SAME Column as min and max: one cell, no
    // explode — the nearest-polygon shape
    val aBox =
      if (pointSide) (col("ax0"), col("ax0"), col("ay0"), col("ay0"))
      else (col("ax0"), col("ax1"), col("ay0"), col("ay1"))
    Overlay.gridPairs(a, aBox, b, (col("bx0"), col("bx1"), col("by0"), col("by1")),
        CellDeg)
      .select("a_id", "b_id").as[(Int, Int)].collect().toSeq.sorted
  }

  private val params = Parameters.default.withMinSuccessfulTests(40)

  test("gridPairs emits every cell-overlapping box pair exactly once") {
    val r = check(params, forAllNoShrink(Gen.listOfN(12, box), Gen.listOfN(12, box)) {
      (as, bs) => pairs(as, bs, pointSide = false) == bruteForce(as, bs)
    })
    assert(r.passed, r.status.toString)
  }

  test("gridPairs with a point side: one cell per point, each pair once") {
    val r = check(params, forAllNoShrink(Gen.listOfN(12, point), Gen.listOfN(12, box)) {
      (as, bs) => pairs(as, bs, pointSide = true) == bruteForce(as, bs)
    })
    assert(r.passed, r.status.toString)
  }

  test("gridPairs rejects a non-positive cell size") {
    val df = Seq((0, 0.0)).toDF("id", "v")
    val b = (col("v"), col("v"), col("v"), col("v"))
    intercept[IllegalArgumentException](Overlay.gridPairs(df, b, df, b, 0.0))
  }
}
