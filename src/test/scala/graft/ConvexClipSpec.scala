package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.ConvexClip
import graft.operators.Overlay

/** Sutherland–Hodgman intersection area: hand-computed cases, invariant
  * properties on random convex pairs, an independent containment-
  * sampling cross-check, and the q110 join path (codegen gate, SAT
  * agreement).
  */
class ConvexClipSpec extends AnyFunSuite {
  import SharedSpark._

  private def area(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double =
    ConvexClip.intersectionArea(a.map(_._1).toArray, a.map(_._2).toArray,
      b.map(_._1).toArray, b.map(_._2).toArray)

  private val unitSq = Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0))

  test("hand cases: identity, containment, half overlap, corner quarter, touch, disjoint") {
    assert(area(unitSq, unitSq) === 1.0)
    val inner = Seq((0.25, 0.25), (0.75, 0.25), (0.75, 0.75), (0.25, 0.75))
    assert(area(unitSq, inner) === 0.25)
    assert(area(inner, unitSq) === 0.25)
    val shiftHalf = unitSq.map(p => (p._1 + 0.5, p._2))
    assert(area(unitSq, shiftHalf) === 0.5)
    val corner = unitSq.map(p => (p._1 + 0.5, p._2 + 0.5))
    assert(area(unitSq, corner) === 0.25)
    val edgeTouch = unitSq.map(p => (p._1 + 1.0, p._2))
    assert(area(unitSq, edgeTouch) === 0.0)
    val apart = unitSq.map(p => (p._1 + 5.0, p._2))
    assert(area(unitSq, apart) === 0.0)
    // triangle (0.5,0.5)-(1.5,0.5)-(0.5,1.5) clipped by the unit square:
    // the hypotenuse x+y=2 only touches the corner (1,1), so the
    // intersection is exactly the sub-square [0.5,1]²
    val tri = Seq((0.5, 0.5), (1.5, 0.5), (0.5, 1.5))
    assert(math.abs(area(unitSq, tri) - 0.25) < 1e-12)
  }

  test("orientation and padding do not change the area") {
    val inner = Seq((0.25, 0.25), (0.75, 0.25), (0.75, 0.75), (0.25, 0.75))
    assert(area(unitSq.reverse, inner) === 0.25)
    assert(area(unitSq, inner.reverse) === 0.25)
    val padded = unitSq ++ Seq((0.0, 1.0), (0.0, 1.0)) // repeated last vertex
    assert(area(padded, inner) === 0.25)
    assert(area(unitSq, inner ++ Seq((0.25, 0.75))) === 0.25)
  }

  // random convex polygon: sorted angles around a center, convex by
  // construction (points on an ellipse)
  private def randConvex(rnd: scala.util.Random): Seq[(Double, Double)] = {
    val cx = rnd.nextDouble() * 4 - 2
    val cy = rnd.nextDouble() * 4 - 2
    val rx = 0.5 + rnd.nextDouble() * 2
    val ry = 0.5 + rnd.nextDouble() * 2
    val n = 3 + rnd.nextInt(5)
    val angles = Seq.fill(n)(rnd.nextDouble() * 2 * math.Pi).sorted
    angles.map(t => (cx + rx * math.cos(t), cy + ry * math.sin(t)))
  }

  test("random pairs: symmetry, bounds, SAT agreement, sampled-area cross-check") {
    val rnd = new scala.util.Random(7)
    def shoelace(p: Seq[(Double, Double)]): Double =
      math.abs(p.indices.map { i =>
        val (x1, y1) = p(i); val (x2, y2) = p((i + 1) % p.size)
        x1 * y2 - x2 * y1
      }.sum) / 2
    var positives = 0
    for (_ <- 0 until 200) {
      val a = randConvex(rnd); val b = randConvex(rnd)
      val ab = area(a, b); val ba = area(b, a)
      assert(math.abs(ab - ba) < 1e-9, s"symmetry: $ab vs $ba")
      assert(ab >= 0.0 && ab <= math.min(shoelace(a), shoelace(b)) + 1e-9)
      if (ab > 1e-9) positives += 1
      // independent cross-check: containment sampling on a fixed lattice
      val minx = (a ++ b).map(_._1).min; val maxx = (a ++ b).map(_._1).max
      val miny = (a ++ b).map(_._2).min; val maxy = (a ++ b).map(_._2).max
      val g = 64
      def inside(p: Seq[(Double, Double)], x: Double, y: Double): Boolean = {
        val signs = p.indices.map { i =>
          val (x1, y1) = p(i); val (x2, y2) = p((i + 1) % p.size)
          (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
        }
        signs.forall(_ >= -1e-12) || signs.forall(_ <= 1e-12)
      }
      var hits = 0
      for (i <- 0 until g; j <- 0 until g) {
        val x = minx + (i + 0.5) / g * (maxx - minx)
        val y = miny + (j + 0.5) / g * (maxy - miny)
        if (inside(a, x, y) && inside(b, x, y)) hits += 1
      }
      val sampled = hits.toDouble / (g * g) * (maxx - minx) * (maxy - miny)
      val cellA = (maxx - minx) * (maxy - miny) / (g * g)
      // sampling error is O(perimeter · cell diagonal); generous bound
      assert(math.abs(sampled - ab) < 40 * cellA + 1e-9,
        s"sampled $sampled vs clipped $ab")
    }
    assert(positives > 20, s"degenerate test set: only $positives overlaps")
  }

  test("q110 join path: area positive iff SAT-intersecting with interior overlap; codegen'd kernel") {
    import spark.implicits._
    // one ring per row as (id, x array, y array), widths 3..7
    def toDf(prefix: String, polys: Seq[(Long, Seq[(Double, Double)])]) =
      polys.map { case (id, vs) => (id, vs.map(_._1), vs.map(_._2)) }
        .toDF(s"${prefix}_id", s"${prefix}x", s"${prefix}y")
    val rnd = new scala.util.Random(11)
    val as = (0L until 60L).map(i => (i, randConvex(rnd)))
    val bs = (100L until 160L).map(i => (i, randConvex(rnd)))
    val out = Overlay.clipAreaJoin(toDf("a", as), toDf("b", bs),
      cellDeg = 3.0)
      .select("a_id", "b_id", "area")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every joined pair's area matches the serial kernel BIT-EXACTLY on
    // the same ragged-width rings the frame carries
    val aById = as.toMap; val bById = bs.toMap
    got.foreach { case ((ia, ib), v) =>
      assert(v === area(aById(ia), bById(ib)), s"pair ($ia,$ib)")
    }
    assert(got.nonEmpty && got.values.exists(_ > 0))
    // the kernel stays in whole-stage codegen: the project evaluating
    // clip_area carries the *(N) codegen-stage marker
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.split("\n").exists(l =>
      l.contains("clip_area") && l.contains("*(")), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
