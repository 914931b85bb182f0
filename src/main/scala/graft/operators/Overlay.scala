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
  *  - candidates come from a planar-grid BBOX COVER: each geometry
  *    explodes to the grid cells its bbox overlaps (bounded fan-out —
  *    pick `cellDeg` near the median geometry extent so the cover is
  *    ~4 cells) and the two sides meet in ONE cell equi join; a naive
  *    `intersects(a,b)` predicate would plan as a nested-loop
  *    cartesian.
  *  - a candidate pair sharing several cells is evaluated exactly ONCE
  *    via reference-point dedup: the pair is kept only in the cell
  *    containing the max of the two bbox-min corners — a cell both
  *    covers share whenever the bboxes overlap — so there is no
  *    distinct pass and no duplicate SAT work.
  *  - the SAT predicate is pure fixed-order double arithmetic
  *    (orientation signs, no rounding, no epsilon), codegen-friendly
  *    and reproducible bit-for-bit by an external SQL engine.
  */
object Overlay {

  /** 2·signed-area orientation of (p,q,r) — the SAT primitive. */
  private def orient(px: Column, py: Column, qx: Column, qy: Column,
                     rx: Column, ry: Column): Column =
    (qx - px) * (ry - py) - (qy - py) * (rx - px)

  /** Convexity (and padding) guard for [[graft.core.ConvexSat]] input: true
    * iff consecutive-edge turns never change sign (collinear and
    * repeated — padded — vertices allowed). Non-convex rings would make
    * the SAT silently under-report separations.
    */
  def isConvex(vs: Seq[(Column, Column)]): Column = {
    val n = vs.size
    val turns = (0 until n).map { i =>
      val (px, py) = vs(i)
      val (qx, qy) = vs((i + 1) % n)
      val (rx, ry) = vs((i + 2) % n)
      orient(px, py, qx, qy, rx, ry)
    }
    !(turns.map(_ > 0).reduce(_ || _) && turns.map(_ < 0).reduce(_ || _))
  }

  /** All intersecting (a_id, b_id) convex-polygon pairs. Inputs:
    * `as`(idA, ax1..ax{nA}, ay1..ay{nA}), `bs`(idB, bx1..bx{nB},
    * by1..by{nB}) — fixed vertex widths per side; rings with fewer
    * genuine vertices pad by REPEATING the last vertex (safe, see
    * [[graft.core.ConvexSat]]). `cellDeg` sizes the candidate grid (≈ the
    * median bbox extent). `validate` (default on) raises on a
    * non-convex ring instead of silently under-reporting separations —
    * one codegen'd predicate per row, negligible beside the SAT.
    * Returns (idA, idB) exactly once per intersecting pair.
    */
  def convexIntersectsJoin(as: DataFrame, bs: DataFrame, nA: Int, nB: Int,
                           cellDeg: Double,
                           validate: Boolean = true): DataFrame = {
    require(cellDeg > 0.0 && nA >= 3 && nB >= 3)
    def verts(p: String, n: Int): Seq[(Column, Column)] =
      (1 to n).map(i => (col(s"${p}x$i"), col(s"${p}y$i")))
    def cover(df0: DataFrame, p: String, n: Int): DataFrame = {
      // filter(assert_true(...).isNull) keeps every row (assert_true
      // yields NULL when the predicate holds) but cannot be pruned away
      // like an unused projected column would be
      val df =
        if (!validate) df0
        else df0.filter(assert_true(isConvex(verts(p, n)),
          lit(s"non-convex $p-side ring: the SAT contract requires " +
            "convex (optionally pad-repeated) vertices")).isNull)
      val xs = (1 to n).map(i => col(s"${p}x$i"))
      val ys = (1 to n).map(i => col(s"${p}y$i"))
      df.withColumn(s"__${p}cx0",
          floor(least(xs: _*) / lit(cellDeg)).cast("long"))
        .withColumn(s"__${p}cx1",
          floor(greatest(xs: _*) / lit(cellDeg)).cast("long"))
        .withColumn(s"__${p}cy0",
          floor(least(ys: _*) / lit(cellDeg)).cast("long"))
        .withColumn(s"__${p}cy1",
          floor(greatest(ys: _*) / lit(cellDeg)).cast("long"))
        .withColumn("__cx",
          explode(sequence(col(s"__${p}cx0"), col(s"__${p}cx1"))))
        .withColumn("__cy",
          explode(sequence(col(s"__${p}cy0"), col(s"__${p}cy1"))))
        .drop(s"__${p}cx1", s"__${p}cy1")
    }
    val dropCols = Seq("__cx", "__cy", "__acx0", "__acy0", "__bcx0", "__bcy0")
    cover(as, "a", nA)
      .join(cover(bs, "b", nB), Seq("__cx", "__cy"))
      // reference-point dedup: evaluate the pair ONLY in the cell of the
      // max bbox-min corner (shared by both covers iff bboxes overlap)
      .filter(col("__cx") === greatest(col("__acx0"), col("__bcx0")) &&
        col("__cy") === greatest(col("__acy0"), col("__bcy0")))
      // the SAT runs as one array-kernel call ([[graft.core.ConvexSat]]):
      // a Column-tree SAT is O((nA+nB)²) orientation nodes, and at hull
      // widths (n=24) its codegen COMPILE time dwarfed the 8-row join it
      // guarded
      .filter(graft.functions.geo.convex_sat(
        array((1 to nA).map(i => col(s"ax$i")): _*),
        array((1 to nA).map(i => col(s"ay$i")): _*),
        array((1 to nB).map(i => col(s"bx$i")): _*),
        array((1 to nB).map(i => col(s"by$i")): _*)))
      .drop(dropCols: _*)
  }

  /** [[convexIntersectsJoin]] plus the intersection AREA of every
    * surviving pair — the overlay join upgraded from a predicate to a
    * measure (area-weighted zonal stats, coverage fractions, conflation
    * scoring). The area comes from the codegen'd Sutherland–Hodgman
    * kernel ([[graft.core.ConvexClip]]) evaluated ONCE per intersecting
    * pair, after the SAT filter has already discarded disjoint
    * candidates — the O(nA·nB) clip never runs on pairs the O(nA+nB)
    * SAT rejects. Padded (repeated) vertices pass through both. Output:
    * the joined row plus `area` (raw double; callers round for
    * presentation).
    */
  def clipAreaJoin(as: DataFrame, bs: DataFrame, nA: Int, nB: Int,
                   cellDeg: Double, validate: Boolean = true): DataFrame = {
    import graft.functions.geo
    val axs = array((1 to nA).map(i => col(s"ax$i")): _*)
    val ays = array((1 to nA).map(i => col(s"ay$i")): _*)
    val bxs = array((1 to nB).map(i => col(s"bx$i")): _*)
    val bys = array((1 to nB).map(i => col(s"by$i")): _*)
    convexIntersectsJoin(as, bs, nA, nB, cellDeg, validate)
      .withColumn("area", geo.clip_area(axs, ays, bxs, bys))
  }

  /** All intersecting (a_id, b_id) triangle pairs — the nA = nB = 3
    * case of [[convexIntersectsJoin]] (validation off: the triangle
    * callers predate the guard and 3-rings are convex by construction).
    */
  def triangleIntersectsJoin(as: DataFrame, bs: DataFrame,
                             cellDeg: Double): DataFrame =
    convexIntersectsJoin(as, bs, nA = 3, nB = 3, cellDeg, validate = false)

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
    * Same candidate machinery as the polygon joins: each segment's bbox
    * explodes to `cellDeg` grid cells, the sides meet in ONE cell equi
    * join, and a pair sharing several cells is evaluated exactly once
    * via reference-point dedup. The predicate is [[segCrossSql]] through
    * `expr` — the oracle replays the identical text.
    */
  def segmentCrossJoin(as: DataFrame, bs: DataFrame,
                       cellDeg: Double): DataFrame = {
    require(cellDeg > 0.0)
    def cover(df: DataFrame, p: String): DataFrame = {
      val xs = Seq(col(s"${p}x1"), col(s"${p}x2"))
      val ys = Seq(col(s"${p}y1"), col(s"${p}y2"))
      df.withColumn(s"__${p}cx0",
          floor(least(xs: _*) / lit(cellDeg)).cast("long"))
        .withColumn(s"__${p}cx1",
          floor(greatest(xs: _*) / lit(cellDeg)).cast("long"))
        .withColumn(s"__${p}cy0",
          floor(least(ys: _*) / lit(cellDeg)).cast("long"))
        .withColumn(s"__${p}cy1",
          floor(greatest(ys: _*) / lit(cellDeg)).cast("long"))
        .withColumn("__cx",
          explode(sequence(col(s"__${p}cx0"), col(s"__${p}cx1"))))
        .withColumn("__cy",
          explode(sequence(col(s"__${p}cy0"), col(s"__${p}cy1"))))
        .drop(s"__${p}cx1", s"__${p}cy1")
    }
    cover(as, "a")
      .join(cover(bs, "b"), Seq("__cx", "__cy"))
      .filter(col("__cx") === greatest(col("__acx0"), col("__bcx0")) &&
        col("__cy") === greatest(col("__acy0"), col("__bcy0")))
      .filter(expr(segCrossSql("ax1", "ay1", "ax2", "ay2",
        "bx1", "by1", "bx2", "by2")))
      .drop("__cx", "__cy", "__acx0", "__acy0", "__bcx0", "__bcy0")
  }

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

  /** Bridge from this engine's hull WKT (`POLYGON ((x y, …, x0 y0))`,
    * closing vertex repeated — [[Dbscan.clusterHulls]] output) to the
    * fixed-width padded vertex layout of [[convexIntersectsJoin]]:
    * columns `<prefix>x1..<prefix>x{maxN}` / `<prefix>y…`, short rings
    * padded by repeating the last vertex. Pure column arithmetic — the
    * parse stays codegen'd and distributed. Non-POLYGON rows
    * (degenerate ≤2-point hulls) are dropped; a ring wider than `maxN`
    * raises (fail-fast — silently truncating vertices would silently
    * shrink the polygon).
    */
  def wktConvexCols(df: DataFrame, idCol: String, wktCol: String,
                    maxN: Int, prefix: String): DataFrame = {
    require(maxN >= 3)
    val ring = expr(
      s"slice(split(regexp_replace($wktCol, '^POLYGON \\\\(\\\\(|\\\\)\\\\)$$', ''), ', '), " +
        s"1, size(split(regexp_replace($wktCol, '^POLYGON \\\\(\\\\(|\\\\)\\\\)$$', ''), ', ')) - 1)")
    val base = df.filter(col(wktCol).startsWith("POLYGON"))
      .withColumn("__ring", ring)
      .filter(assert_true(size(col("__ring")) <= maxN,
        lit(s"hull ring wider than maxN=$maxN vertices — raise maxN")).isNull)
    val cols = col(idCol) +: (1 to maxN).flatMap { i =>
      val v = split(element_at(col("__ring"), least(lit(i), size(col("__ring")))), " ")
      Seq(v.getItem(0).cast("double").as(s"${prefix}x$i"),
        v.getItem(1).cast("double").as(s"${prefix}y$i"))
    }
    base.select(cols: _*)
  }
}
