package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Overlay

/** Polygon–polygon overlay join: exact SAT semantics vs a serial
  * reference, single evaluation per pair, and the cell-cover plan.
  */
class OverlaySpec extends AnyFunSuite {
  import SharedSpark._

  private type Tri = Seq[(Double, Double)]

  // serial separating-axis reference (closed semantics)
  private def refIntersects(a: Tri, b: Tri): Boolean = {
    def orient(p: (Double, Double), q: (Double, Double),
               r: (Double, Double)): Double =
      (q._1 - p._1) * (r._2 - p._2) - (q._2 - p._2) * (r._1 - p._1)
    def sep(t: Tri, o: Tri): Boolean = (0 until 3).exists { i =>
      val (p, q, r) = (t(i), t((i + 1) % 3), t((i + 2) % 3))
      val os = orient(p, q, r)
      (os > 0 && o.forall(v => orient(p, q, v) < 0)) ||
        (os < 0 && o.forall(v => orient(p, q, v) > 0))
    }
    !(sep(a, b) || sep(b, a))
  }

  private def toDfA(tris: Seq[(Long, Tri)]) = {
    import spark.implicits._
    tris.map { case (id, t) => (id, t(0)._1, t(0)._2, t(1)._1, t(1)._2,
      t(2)._1, t(2)._2) }
      .toDF("a_id", "ax1", "ay1", "ax2", "ay2", "ax3", "ay3")
  }
  private def toDfB(tris: Seq[(Long, Tri)]) = {
    import spark.implicits._
    tris.map { case (id, t) => (id, t(0)._1, t(0)._2, t(1)._1, t(1)._2,
      t(2)._1, t(2)._2) }
      .toDF("b_id", "bx1", "by1", "bx2", "by2", "bx3", "by3")
  }

  private def run(as: Seq[(Long, Tri)], bs: Seq[(Long, Tri)],
                  cellDeg: Double): Set[(Long, Long)] =
    Overlay.triangleIntersectsJoin(toDfA(as), toDfB(bs), cellDeg)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("closed semantics: overlap, containment, edge/vertex touch, disjoint") {
    val big: Tri = Seq((0.0, 0.0), (10.0, 0.0), (0.0, 10.0))
    val inner: Tri = Seq((1.0, 1.0), (2.0, 1.0), (1.0, 2.0))       // contained
    val cross: Tri = Seq((5.0, -1.0), (6.0, -1.0), (5.0, 5.0))     // proper overlap
    val edgeTouch: Tri = Seq((4.0, -3.0), (6.0, -3.0), (5.0, 0.0)) // vertex on edge
    val vertTouch: Tri = Seq((10.0, 0.0), (12.0, 0.0), (12.0, 2.0)) // shared vertex
    val far: Tri = Seq((50.0, 50.0), (51.0, 50.0), (50.0, 51.0))
    val bs = Seq(1L -> inner, 2L -> cross, 3L -> edgeTouch,
      4L -> vertTouch, 5L -> far)
    val got = run(Seq(0L -> big), bs, cellDeg = 8.0)
    assert(got === Set((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    bs.foreach { case (id, t) =>
      assert(refIntersects(big, t) === got.contains((0L, id)), s"b=$id")
    }
  }

  test("pair spanning many shared cover cells is reported exactly once") {
    // both triangles span several 2°-cells and overlap over many of them
    val a: Tri = Seq((0.0, 0.0), (9.0, 0.0), (0.0, 9.0))
    val b: Tri = Seq((-1.0, -1.0), (8.0, -1.0), (-1.0, 8.0))
    val rows = Overlay.triangleIntersectsJoin(
        toDfA(Seq(7L -> a)), toDfB(Seq(9L -> b)), cellDeg = 2.0)
      .select("a_id", "b_id").collect()
    assert(rows.length === 1 && rows.head.getLong(0) === 7L)
  }

  // serial SAT for convex n-gons (orientation-sum interior side —
  // mirrors core.ConvexSat exactly)
  private def refConvex(a: Tri, b: Tri): Boolean = {
    def orient(p: (Double, Double), q: (Double, Double),
               r: (Double, Double)): Double =
      (q._1 - p._1) * (r._2 - p._2) - (q._2 - p._2) * (r._1 - p._1)
    def sep(t: Tri, o: Tri): Boolean = t.indices.exists { i =>
      val (p, q) = (t(i), t((i + 1) % t.size))
      val os = t.map(v => orient(p, q, v)).sum
      (os > 0 && o.forall(v => orient(p, q, v) < 0)) ||
        (os < 0 && o.forall(v => orient(p, q, v) > 0))
    }
    !(sep(a, b) || sep(b, a))
  }

  private def toNgonDf(prefix: String, n: Int, polys: Seq[(Long, Tri)]) = {
    import spark.implicits._
    val rows = polys.map { case (id, vs) =>
      // pad short rings by repeating the last vertex (the documented
      // fixed-width layout)
      val p = vs ++ Seq.fill(n - vs.size)(vs.last)
      (id, p.flatMap(v => Seq(v._1, v._2)))
    }
    val cols = col("_1").as(s"${prefix}_id") +:
      (1 to n).flatMap(i => Seq(
        col("_2")(2 * (i - 1)).as(s"${prefix}x$i"),
        col("_2")(2 * i - 1).as(s"${prefix}y$i")))
    rows.toDF().select(cols: _*)
  }

  test("convex n-gons: pentagon×hexagon parity with serial SAT, padded rings, cross-n widths") {
    // pentagons (5 genuine vertices) vs hexagons, some rings padded up
    def pent(i: Long, shift: Double): (Long, Tri) = {
      val x = (i * 17.000170000017) % 340.0 - 170.0 + shift
      val y = (i * 7.000070000007) % 160.0 - 80.0 + shift
      val w = 2.0 + i % 5; val h = 2.0 + i % 7
      (i, Seq((x, y), (x + w, y), (x + w, y + h), (x + 1.0, y + h),
        (x, y + h - 1.0)))
    }
    def hexa(i: Long, shift: Double): (Long, Tri) = {
      val x = (i * 13.000130000013) % 340.0 - 170.0 + shift
      val y = (i * 5.000050000005) % 160.0 - 80.0 + shift
      val w = 2.0 + i % 6; val h = 2.0 + i % 4
      (i, Seq((x, y), (x + w - 1.0, y), (x + w, y + 1.0), (x + w, y + h),
        (x + 1.0, y + h), (x, y + h - 1.0)))
    }
    val as = (0L until 80L).map(pent(_, 0.0)) ++
      // padded: triangles and quads carried in the 5-wide layout
      (200L until 220L).map(i => (i, Seq((i * 1.7 % 300 - 150, 40.0),
        (i * 1.7 % 300 - 148, 40.0), (i * 1.7 % 300 - 150, 42.0))))
    val bs = (0L until 80L).map(hexa(_, 1.0))
    val want = (for { (ia, ta) <- as; (ib, tb) <- bs
      if refConvex(ta, tb) } yield (ia, ib)).toSet
    val out = Overlay.convexIntersectsJoin(
      toNgonDf("a", 5, as), toNgonDf("b", 6, bs), nA = 5, nB = 6,
      cellDeg = 8.0)
    val got = out.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.nonEmpty)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("convexity guard: a non-convex ring raises instead of silently under-reporting") {
    // a dart (reflex vertex at (2,1)) — classic concave quad
    val dart: Tri = Seq((0.0, 0.0), (4.0, 0.0), (2.0, 1.0), (2.0, 4.0))
    val square: Tri = Seq((10.0, 10.0), (12.0, 10.0), (12.0, 12.0),
      (10.0, 12.0))
    val e = intercept[Exception] {
      Overlay.convexIntersectsJoin(
        toNgonDf("a", 4, Seq(1L -> dart)), toNgonDf("b", 4, Seq(2L -> square)),
        nA = 4, nB = 4, cellDeg = 8.0).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("non-convex"),
      String.valueOf(e.getMessage))
    // same ring with validation off: caller's contract, no raise
    Overlay.convexIntersectsJoin(
      toNgonDf("a", 4, Seq(1L -> dart)), toNgonDf("b", 4, Seq(2L -> square)),
      nA = 4, nB = 4, cellDeg = 8.0, validate = false).collect()
  }

  test("segment crossing join: proper-crossing parity with a serial reference; touch excluded; no cartesian") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def seg(i: Long): (Long, Double, Double, Double, Double) = {
      val x = rnd.nextDouble() * 300 - 150; val y = rnd.nextDouble() * 140 - 70
      (i, x, y, x + rnd.nextDouble() * 30 - 15, y + rnd.nextDouble() * 30 - 15)
    }
    val as = (0L until 150L).map(seg)
    val bs = (500L until 650L).map(seg) ++ Seq(
      // touch cases that must be EXCLUDED: shared endpoint, T-junction
      (900L, as.head._2, as.head._3, as.head._2 + 50.0, as.head._3 + 1.0),
      (901L, (as(1)._2 + as(1)._4) / 2, (as(1)._3 + as(1)._5) / 2,
        (as(1)._2 + as(1)._4) / 2, (as(1)._3 + as(1)._5) / 2 + 40.0))
    def orient(px: Double, py: Double, qx: Double, qy: Double,
               rx: Double, ry: Double): Double =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    def crosses(a: (Long, Double, Double, Double, Double),
                b: (Long, Double, Double, Double, Double)): Boolean = {
      val d1 = orient(b._2, b._3, b._4, b._5, a._2, a._3)
      val d2 = orient(b._2, b._3, b._4, b._5, a._4, a._5)
      val d3 = orient(a._2, a._3, a._4, a._5, b._2, b._3)
      val d4 = orient(a._2, a._3, a._4, a._5, b._4, b._5)
      ((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
        ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))
    }
    val want = (for { a <- as; b <- bs if crosses(a, b) }
      yield (a._1, b._1)).toSet
    val out = Overlay.segmentCrossJoin(
      as.toDF("a_id", "ax1", "ay1", "ax2", "ay2"),
      bs.toDF("b_id", "bx1", "by1", "bx2", "by2"), cellDeg = 15.0)
    val got = out.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(want.nonEmpty)
    // the ENGINEERED touch pairs produced no rows (proper semantics) —
    // segments 900/901 may legitimately cross OTHER segments
    assert(!got.contains((as.head._1, 900L)))
    assert(!got.contains((as(1)._1, 901L)))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("wktConvexCols: ring parsed to padded fixed-width doubles; non-POLYGON dropped; over-width raises") {
    import spark.implicits._
    val rows = Seq(
      (1L, "POLYGON ((0.5 1.25, 4.5 1.25, 4.5 6.75, 0.5 1.25))"), // triangle
      (2L, "POLYGON ((10 10, 14 10, 14 14, 10 14, 10 10))"),       // quad
      (3L, "LINESTRING (0 0, 1 1)"),                               // degenerate hull
      (4L, "POINT (2 2)"))
    val out = Overlay.wktConvexCols(rows.toDF("id", "wkt"), "id", "wkt",
      maxN = 5, prefix = "a").collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === Set(1L, 2L)) // non-POLYGON rows dropped
    val t = out(1L)
    // closing vertex is stripped; short ring pads by repeating the last
    assert((1 to 5).map(i => (t.getDouble(2 * i - 1), t.getDouble(2 * i))) ===
      Seq((0.5, 1.25), (4.5, 1.25), (4.5, 6.75), (4.5, 6.75), (4.5, 6.75)))
    val q = out(2L)
    assert((q.getDouble(1), q.getDouble(2), q.getDouble(7), q.getDouble(8)) ===
      ((10.0, 10.0, 10.0, 14.0)))
    // a ring wider than maxN fails fast instead of silently truncating
    val wide = Seq((9L,
      "POLYGON ((0 0, 1 0, 2 1, 2 2, 1 3, 0 3, -1 2, -1 1, 0 0))"))
    val e = intercept[Exception] {
      Overlay.wktConvexCols(wide.toDF("id", "wkt"), "id", "wkt",
        maxN = 4, prefix = "a").collect()
    }
    assert(String.valueOf(e.getMessage).contains("maxN") ||
      String.valueOf(e.getCause).contains("maxN"))
  }

  test("brute-force parity on scattered sets; equi-join plan (no cartesian)") {
    def tri(i: Long, shift: Double): (Long, Tri) = {
      val lon = (i * 17.000170000017) % 340.0 - 170.0 + shift
      val lat = (i * 7.000070000007) % 160.0 - 80.0 + shift
      (i, Seq((lon, lat), (lon + 2.0 + i % 5, lat), (lon, lat + 2.0 + i % 7)))
    }
    val as = (0L until 120L).map(tri(_, 0.0))
    val bs = (0L until 120L).map(i => tri(i + 1000L, 1.0) match {
      case (_, t) => (i, t)
    })
    val want = (for { (ia, ta) <- as; (ib, tb) <- bs
      if refIntersects(ta, tb) } yield (ia, ib)).toSet
    val out = Overlay.triangleIntersectsJoin(toDfA(as), toDfB(bs), 8.0)
    val got = out.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.nonEmpty)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
