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

  // one ring per row as (id, x array, y array), unclosed
  private def toRingDf(prefix: String, polys: Seq[(Long, Tri)]) = {
    import spark.implicits._
    polys.map { case (id, vs) => (id, vs.map(_._1), vs.map(_._2)) }
      .toDF(s"${prefix}_id", s"${prefix}x", s"${prefix}y")
  }

  private def run(as: Seq[(Long, Tri)], bs: Seq[(Long, Tri)],
                  cellDeg: Double): Set[(Long, Long)] =
    Overlay.convexIntersectsJoin(toRingDf("a", as), toRingDf("b", bs),
        cellDeg, validate = false)
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
    val rows = Overlay.convexIntersectsJoin(
        toRingDf("a", Seq(7L -> a)), toRingDf("b", Seq(9L -> b)),
        cellDeg = 2.0, validate = false)
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

  test("convex n-gons: pentagon×hexagon parity with serial SAT, padded rings, cross-n widths") {
    // pentagons (5 genuine vertices) vs hexagons, with narrower rings
    // mixed into the same columns
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
      // ragged: triangles in the same array columns as the pentagons
      (200L until 220L).map(i => (i, Seq((i * 1.7 % 300 - 150, 40.0),
        (i * 1.7 % 300 - 148, 40.0), (i * 1.7 % 300 - 150, 42.0))))
    val bs = (0L until 80L).map(hexa(_, 1.0))
    val want = (for { (ia, ta) <- as; (ib, tb) <- bs
      if refConvex(ta, tb) } yield (ia, ib)).toSet
    val out = Overlay.convexIntersectsJoin(
      toRingDf("a", as), toRingDf("b", bs), cellDeg = 8.0)
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
        toRingDf("a", Seq(1L -> dart)), toRingDf("b", Seq(2L -> square)),
        cellDeg = 8.0).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("non-convex"),
      String.valueOf(e.getMessage))
    // same ring with validation off: caller's contract, no raise
    Overlay.convexIntersectsJoin(
      toRingDf("a", Seq(1L -> dart)), toRingDf("b", Seq(2L -> square)),
      cellDeg = 8.0, validate = false).collect()
  }

  test("convex_sat and clip_area: a null ring, null vertex or NaN vertex gives null, in both codegen modes") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sq = Seq(0.0, 2.0, 2.0, 0.0)
    val sqY = Seq(0.0, 0.0, 2.0, 2.0)
    val far = sq.map(_ + 50.0)
    def ring(v: Seq[Double], i: Int, bad: java.lang.Double): Seq[java.lang.Double] =
      v.map(java.lang.Double.valueOf).updated(i, bad)
    val nan = java.lang.Double.valueOf(Double.NaN)
    // row 0 is the valid control; every other row is disjoint or
    // overlapping in a way a 0.0 or NaN reading would misjudge
    val rows = Seq(
      Row(0, sq, sqY, sq.map(_ + 1.0), sqY),
      Row(1, null, sqY, sq, sqY),
      Row(2, sq, sqY, ring(far, 0, null), sqY.map(_ + 50.0)),
      Row(3, sq, ring(sqY, 2, null), sq, sqY),
      Row(4, sq, sqY, ring(far, 1, nan), sqY.map(_ + 50.0)),
      Row(5, sq, sqY, far, ring(sqY.map(_ + 50.0), 3, nan)),
      Row(6, ring(sq, 0, nan), sqY, sq, sqY))
    val arr = ArrayType(DoubleType, containsNull = true)
    val schema = StructType(StructField("id", IntegerType) +:
      Seq("ax", "ay", "bx", "by").map(StructField(_, arr)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach {
      case (mode, wholeStage) =>
        withConf("spark.sql.codegen.factoryMode" -> mode,
            "spark.sql.codegen.wholeStage" -> wholeStage) {
          val (ax, ay, bx, by) = (col("ax"), col("ay"), col("bx"), col("by"))
          val got = df.select(col("id"),
              graft.functions.geo.convex_sat(ax, ay, bx, by),
              graft.functions.geo.clip_area(ax, ay, bx, by))
            .collect().map(r => r.getInt(0) -> r).toMap
          assert(got(0).getBoolean(1) && got(0).getDouble(2) === 2.0, mode)
          (1 to 6).foreach { i =>
            assert(got(i).isNullAt(1) && got(i).isNullAt(2), s"$mode row $i")
          }
        }
    }
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
    val out = Overlay.convexIntersectsJoin(toRingDf("a", as),
      toRingDf("b", bs), 8.0, validate = false)
    val got = out.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.nonEmpty)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
