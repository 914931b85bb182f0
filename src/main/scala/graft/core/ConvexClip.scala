package graft.core

/** Convex–convex polygon clipping (Sutherland & Hodgman 1974) and the
  * shoelace area of the intersection — the geometry kernel behind the
  * area-weighted overlay join (the predicate-only SAT join says WHETHER
  * two polygons meet; this says HOW MUCH).
  *
  * Pure deterministic double arithmetic in a fixed evaluation order, so
  * the result is bit-stable across runs and partitionings. Closed
  * semantics: rings touching at a point or edge intersect with area 0.
  * Input rings may be CW or CCW, may repeat vertices and may carry
  * collinear runs; both rings must be convex — the caller's contract,
  * guarded upstream by Overlay.isConvex.
  *
  * Reference behavior modeled on the textbook algorithm only (no code
  * consulted); the reference engine (jfmartinalbo/MVT) has no polygon
  * overlay at all — this exceeds it.
  */
object ConvexClip {
  /** Twice the signed ring area (shoelace, left-associated sum). */
  def signedArea2(xs: Array[Double], ys: Array[Double], n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      s += xs(i) * ys(j) - xs(j) * ys(i)
      i += 1
    }
    s
  }

  /** Area of the intersection of two convex rings; 0.0 when they are
    * disjoint or touch without interior overlap. Clips A successively
    * by every non-degenerate half-plane of B (normalized to CCW), then
    * takes |shoelace| / 2 of what is left.
    */
  def intersectionArea(ax: Array[Double], ay: Array[Double],
                       bx: Array[Double], by: Array[Double]): Double = {
    val nb = bx.length
    // normalize the CLIP ring to CCW so inside = left-or-on each edge
    val ccw = signedArea2(bx, by, nb) >= 0.0
    // working buffers: one S-H pass against a convex clip ring adds at
    // most one vertex per clip edge for exactly convex intermediates;
    // FP-perturbed near-collinear rings can produce extra sign changes,
    // so size defensively (2×) rather than rely on the convex bound
    val cap = 2 * (ax.length + nb) + 4
    var curX = new Array[Double](cap); var curY = new Array[Double](cap)
    var nxtX = new Array[Double](cap); var nxtY = new Array[Double](cap)
    System.arraycopy(ax, 0, curX, 0, ax.length)
    System.arraycopy(ay, 0, curY, 0, ay.length)
    var n = ax.length
    var e = 0
    while (e < nb && n > 0) {
      // walk B's edges in CCW order regardless of input orientation
      val i0 = if (ccw) e else nb - 1 - e
      val i1 = if (ccw) (if (e + 1 == nb) 0 else e + 1)
               else (if (i0 == 0) nb - 1 else i0 - 1)
      val x1 = bx(i0); val y1 = by(i0)
      val x2 = bx(i1); val y2 = by(i1)
      if (x1 != x2 || y1 != y2) { // skip repeated-vertex edges
        var m = 0
        var i = 0
        while (i < n) {
          val j = if (i + 1 == n) 0 else i + 1
          val px = curX(i); val py = curY(i)
          val qx = curX(j); val qy = curY(j)
          val sp = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
          val sq = (x2 - x1) * (qy - y1) - (y2 - y1) * (qx - x1)
          val inP = sp >= 0.0
          val inQ = sq >= 0.0
          if (inP != inQ) { // the edge crosses the clip line: emit the hit
            val t = sp / (sp - sq)
            nxtX(m) = px + t * (qx - px)
            nxtY(m) = py + t * (qy - py)
            m += 1
          }
          if (inQ) { nxtX(m) = qx; nxtY(m) = qy; m += 1 }
          i += 1
        }
        val tx = curX; val ty = curY
        curX = nxtX; curY = nxtY
        nxtX = tx; nxtY = ty
        n = m
      }
      e += 1
    }
    if (n < 3) 0.0
    else math.abs(signedArea2(curX, curY, n)) * 0.5
  }
}
