package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Polygon–polygon spatial overlay: the "which geometries intersect
  * which" join that completes the join family (point–point kNN/DWithin,
  * point–polygon PIP, polygon–polygon HERE). Implemented for convex
  * polygons (triangles in the driver queries) with the exact
  * separating-axis test — closed semantics: touching at a point or
  * edge counts as intersecting.
  *
  * Scale shape (the SpatialHadoop/PBSM discipline):
  *  - candidates come from the planar-grid BBOX COVER [[gridPairs]]
  *    (bounded fan-out — pick `cellDeg` near the median geometry extent
  *    so the cover is ~4 cells): ONE cell equi join with reference-point
  *    dedup, so each candidate pair is refined exactly once; a naive
  *    `intersects(a,b)` predicate would plan as a nested-loop
  *    cartesian. The segment-crossing, region-exposure and
  *    nearest-polygon joins refine the same cover.
  *  - the SAT predicate is pure fixed-order double arithmetic
  *    (orientation signs, no rounding, no epsilon), codegen-friendly
  *    and reproducible bit-for-bit by an external SQL engine.
  */
object Overlay {

  /** 2·signed-area orientation of (p,q,r) — the SAT primitive. */
  private def orient(px: Column, py: Column, qx: Column, qy: Column,
                     rx: Column, ry: Column): Column =
    (qx - px) * (ry - py) - (qy - py) * (rx - px)

  /** Convexity guard for [[graft.core.ConvexSat]] input over one ring's
    * vertex arrays: true iff consecutive-edge turns never change sign
    * (collinear and repeated vertices allowed). Non-convex rings would
    * make the SAT silently under-report separations.
    */
  def isConvex(xs: Column, ys: Column): Column =
    // the outer lambda binds the ring once per row: higher-order
    // functions run interpreted, and filter push-down inlines the xs/ys
    // expressions, which the body would otherwise re-evaluate at every
    // vertex access
    !exists(array(struct(xs.as("x"), ys.as("y"))), r => {
      val (rx, ry) = (r.getField("x"), r.getField("y"))
      val n = size(rx)
      def at(a: Column, i: Column, k: Int): Column = a.getItem((i + k) % n)
      val turns = transform(rx, (_, i) =>
        orient(at(rx, i, 0), at(ry, i, 0), at(rx, i, 1), at(ry, i, 1),
          at(rx, i, 2), at(ry, i, 2)))
      exists(turns, _ > 0) && exists(turns, _ < 0)
    })

  /** A side's bbox as Columns: (xMin, xMax, yMin, yMax). */
  private[operators] type Box = (Column, Column, Column, Column)

  /** The bbox grid cover shared by every filter-and-refine join here
    * (PLANS.md "bbox grid cover"): each row of `as` and `bs` explodes to
    * the `cellDeg` cells `floor(v / cellDeg)` its box spans, the two
    * sides meet in ONE `(__cx, __cy)` equi join, and a pair is kept only
    * in the cell of the max of the two bbox-min corners — a cell both
    * covers share iff the boxes overlap — so every box-overlapping
    * pair comes out exactly once, with no distinct pass. An axis whose
    * min and max are the same Column (a point) covers one cell: no
    * explode, and that cell is its own min. Returns the columns of `as`
    * then `bs`; callers add the exact refine predicate.
    */
  private[operators] def gridPairs(as: DataFrame, aBox: Box, bs: DataFrame,
                                   bBox: Box, cellDeg: Double): DataFrame = {
    require(cellDeg > 0.0)
    def cell(v: Column): Column = floor(v / lit(cellDeg)).cast("long")
    def axes(box: Box) = Seq(("x", box._1, box._2), ("y", box._3, box._4))
    def minCell(p: String, a: String, v0: Column, v1: Column): Column =
      col(if (v0 == v1) s"__c$a" else s"__${p}c${a}0")
    def cover(df: DataFrame, p: String, box: Box): DataFrame = {
      val spans = axes(box).filter { case (_, v0, v1) => v0 != v1 }
      val celled = spans.foldLeft(df) { case (d, (a, v0, v1)) =>
        d.withColumn(s"__${p}c${a}0", cell(v0))
          .withColumn(s"__${p}c${a}1", cell(v1))
      }
      axes(box).foldLeft(celled) { case (d, (a, v0, v1)) =>
        d.withColumn(s"__c$a",
          if (v0 == v1) cell(v0)
          else explode(sequence(col(s"__${p}c${a}0"), col(s"__${p}c${a}1"))))
      }.drop(s"__${p}cx1", s"__${p}cy1")
    }
    val refCell = axes(aBox).zip(axes(bBox)).map {
      case ((a, a0, a1), (_, b0, b1)) =>
        col(s"__c$a") === greatest(minCell("a", a, a0, a1), minCell("b", a, b0, b1))
    }
    cover(as, "a", aBox)
      .join(cover(bs, "b", bBox), Seq("__cx", "__cy"))
      .filter(refCell.reduce(_ && _))
      .drop("__cx", "__cy", "__acx0", "__acy0", "__bcx0", "__bcy0")
  }

  /** [[gridPairs]] box of `n` vertex columns `<p>x1, <p>y1, …, <p>xn,
    * <p>yn` (a segment is n = 2, a triangle n = 3).
    */
  private[operators] def vertexBox(p: String, n: Int): Box = {
    val xs = (1 to n).map(i => col(s"${p}x$i"))
    val ys = (1 to n).map(i => col(s"${p}y$i"))
    (least(xs: _*), greatest(xs: _*), least(ys: _*), greatest(ys: _*))
  }

  /** All intersecting (a_id, b_id) convex-polygon pairs. Inputs:
    * `as`(a_id, ax, ay), `bs`(b_id, bx, by) — each ring one pair of
    * `array<double>` vertex columns, unclosed, any width ≥ 3 per row.
    * `cellDeg` sizes the candidate grid (≈ the median bbox extent).
    * `validate` (default on) raises on a non-convex ring instead of
    * silently under-reporting separations — one predicate per row,
    * negligible beside the SAT. Returns (a_id, b_id) exactly once per
    * intersecting pair.
    */
  def convexIntersectsJoin(as: DataFrame, bs: DataFrame, cellDeg: Double,
                           validate: Boolean = true): DataFrame = {
    def side(df: DataFrame, p: String): (DataFrame, Box) = {
      val xs = col(s"${p}x")
      val ys = col(s"${p}y")
      // filter(assert_true(...).isNull) keeps every row (assert_true
      // yields NULL when the predicate holds) but cannot be pruned away
      // like an unused projected column would be
      val checked =
        if (!validate) df
        else df.filter(assert_true(isConvex(xs, ys),
          lit(s"non-convex $p-side ring: the SAT contract requires " +
            "convex vertices")).isNull)
      (checked, (array_min(xs), array_max(xs), array_min(ys), array_max(ys)))
    }
    val (a, aBox) = side(as, "a")
    val (b, bBox) = side(bs, "b")
    gridPairs(a, aBox, b, bBox, cellDeg)
      // the SAT runs as one array-kernel call ([[graft.core.ConvexSat]]):
      // a Column-tree SAT is O((nA+nB)²) orientation nodes, and at hull
      // widths its codegen COMPILE time dwarfed the 8-row join it guarded
      .filter(graft.functions.geo.convex_sat(
        col("ax"), col("ay"), col("bx"), col("by")))
  }

  /** [[convexIntersectsJoin]] plus the intersection AREA of every
    * surviving pair — the overlay join upgraded from a predicate to a
    * measure (area-weighted zonal stats, coverage fractions, conflation
    * scoring). The area comes from the codegen'd Sutherland–Hodgman
    * kernel ([[graft.core.ConvexClip]]) evaluated ONCE per intersecting
    * pair, after the SAT filter has already discarded disjoint
    * candidates — the O(nA·nB) clip never runs on pairs the O(nA+nB)
    * SAT rejects. Output: the joined row plus `area` (raw double;
    * callers round for presentation).
    */
  def clipAreaJoin(as: DataFrame, bs: DataFrame, cellDeg: Double,
                   validate: Boolean = true): DataFrame =
    convexIntersectsJoin(as, bs, cellDeg, validate)
      .withColumn("area", graft.functions.geo.clip_area(
        col("ax"), col("ay"), col("bx"), col("by")))

  /** SQL text of the PROPER segment-segment crossing predicate: the two
    * segments cross at exactly one interior point of each — the four
    * orientation determinants strictly straddle pairwise. Touch/overlap
    * cases (an endpoint ON the other segment, collinear overlap) are
    * deliberately excluded: proper crossing is the border-crossing
    * semantics, and strict inequalities make the predicate a pure sign
    * test with no on-segment epsilon cases. ONE string consumed both by
    * the engine (via `expr`) and the oracle replay (the q112
    * discipline) — bit-identical evaluation by construction.
    */
  def segCrossSql(ax1: String, ay1: String, ax2: String, ay2: String,
                  bx1: String, by1: String, bx2: String, by2: String): String = {
    def orient(px: String, py: String, qx: String, qy: String,
               rx: String, ry: String): String =
      s"((($qx) - ($px)) * (($ry) - ($py)) - (($qy) - ($py)) * (($rx) - ($px)))"
    val d1 = orient(bx1, by1, bx2, by2, ax1, ay1)
    val d2 = orient(bx1, by1, bx2, by2, ax2, ay2)
    val d3 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    val d4 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    s"((($d1 > 0 AND $d2 < 0) OR ($d1 < 0 AND $d2 > 0)) AND " +
      s"(($d3 > 0 AND $d4 < 0) OR ($d3 < 0 AND $d4 > 0)))"
  }

  /** All properly-crossing (a_id, b_id) segment pairs. Inputs:
    * `as`(a_id, ax1, ay1, ax2, ay2), `bs`(b_id, bx1, by1, bx2, by2).
    * Candidates are the [[gridPairs]] cover of the segment bboxes; the
    * predicate is [[segCrossSql]] through `expr` — the oracle replays
    * the identical text.
    */
  def segmentCrossJoin(as: DataFrame, bs: DataFrame,
                       cellDeg: Double): DataFrame =
    gridPairs(as, vertexBox("a", 2), bs, vertexBox("b", 2), cellDeg)
      .filter(expr(segCrossSql("ax1", "ay1", "ax2", "ay2",
        "bx1", "by1", "bx2", "by2")))

  /** SQL text of the EXACT in-triangle length of a segment: parametric
    * half-plane interval clipping. For each triangle edge, the signed
    * side function is linear in the segment parameter t; multiplying by
    * the edge's orientation sum normalizes "inside" to g(t) ≥ 0 WITHOUT
    * a sign CASE (the crossing parameter gp/(gp−gq) is scale-invariant,
    * and the comparisons are sign-only). The clipped interval is
    * [max lowers, min uppers] and the length is its width times the
    * segment length — `sqrt` is IEEE-exact-rounded in BOTH engines
    * (unlike sin/log), so the text is portable. ONE string consumed by
    * the engine (`expr`) and the oracle (the q112/q113 discipline).
    * Division only occurs in mixed-sign CASE branches (gp ≠ gq there),
    * which both engines evaluate lazily.
    */
  def segTriClipLenSql(ax1: String, ay1: String, ax2: String, ay2: String,
                       v: Seq[(String, String)]): String = {
    require(v.size == 3)
    def orient(p: (String, String), q: (String, String),
               rx: String, ry: String): String =
      s"(((${q._1}) - (${p._1})) * (($ry) - (${p._2})) - " +
        s"((${q._2}) - (${p._2})) * (($rx) - (${p._1})))"
    val bounds = v.indices.map { i =>
      val p = v(i); val q = v((i + 1) % 3)
      val os = v.map(w => orient(p, q, w._1, w._2)).mkString("(", " + ", ")")
      val gp = s"($os * ${orient(p, q, ax1, ay1)})"
      val gq = s"($os * ${orient(p, q, ax2, ay2)})"
      val t = s"($gp / ($gp - $gq))"
      val lo = s"(CASE WHEN $gp >= 0 AND $gq >= 0 THEN CAST(0.0 AS DOUBLE) " +
        s"WHEN $gp < 0 AND $gq < 0 THEN CAST(1.0 AS DOUBLE) " +
        s"WHEN $gp >= 0 THEN CAST(0.0 AS DOUBLE) ELSE $t END)"
      val hi = s"(CASE WHEN $gp >= 0 AND $gq >= 0 THEN CAST(1.0 AS DOUBLE) " +
        s"WHEN $gp < 0 AND $gq < 0 THEN CAST(0.0 AS DOUBLE) " +
        s"WHEN $gp >= 0 THEN $t ELSE CAST(1.0 AS DOUBLE) END)"
      (lo, hi)
    }
    val tmin = s"greatest(${bounds.map(_._1).mkString(", ")})"
    val tmax = s"least(${bounds.map(_._2).mkString(", ")})"
    val dx = s"(($ax2) - ($ax1))"; val dy = s"(($ay2) - ($ay1))"
    s"(CASE WHEN $tmax > $tmin THEN ($tmax - $tmin) * " +
      s"sqrt($dx * $dx + $dy * $dy) ELSE CAST(0.0 AS DOUBLE) END)"
  }
}
