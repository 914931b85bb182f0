package graft.core

/** Exact closed convex–convex intersection test (separating-axis with
  * the orientation-SUM interior side) — the SAT of the overlay joins.
  * Its SQL twin (`SparkEntry.convexSatSql`, replayed by the oracle) uses
  * the SAME primitive, evaluation order and comparisons, so the two
  * decide bit-identically.
  *
  * Why a kernel: a Column-tree SAT at ring width n expands to
  * O(n²) orientation sub-expressions (n=24 hulls → ~5,000 arithmetic
  * nodes), and the dominant cost of an overlay join over a handful of
  * hull rows becomes the driver-side CODEGEN COMPILE of that tree, not
  * execution. One static kernel call keeps whole-stage codegen (the
  * clip_area pattern) with a constant-size generated method.
  *
  * Semantics: separated iff some edge of either ring has ALL vertices
  * of the other strictly on the opposite side from the ring's own
  * interior, where the interior side is the sign of the left-associated
  * SUM of orientations over the ring's own vertices (for triangles, the
  * classic third-vertex test). Repeated vertices form degenerate
  * edges whose sum is 0 and claim no separation. Degenerate (zero-area)
  * rings never separate anything; callers supply convex, non-degenerate
  * rings (`Overlay.isConvex` guards).
  */
object ConvexSat {
  @inline private def orient(px: Double, py: Double, qx: Double, qy: Double,
                             rx: Double, ry: Double): Double =
    (qx - px) * (ry - py) - (qy - py) * (rx - px)

  /** Does some edge of ring P separate it from ring O? */
  private def separates(px: Array[Double], py: Array[Double],
                        ox: Array[Double], oy: Array[Double]): Boolean = {
    val n = px.length
    val m = ox.length
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val ax = px(i); val ay = py(i)
      val bx = px(j); val by = py(j)
      // left-associated orientation sum over P's own vertices — the
      // exact term order of the SQL twin
      var oSelf = orient(ax, ay, bx, by, px(0), py(0))
      var k = 1
      while (k < n) {
        oSelf += orient(ax, ay, bx, by, px(k), py(k))
        k += 1
      }
      var allNeg = true
      var allPos = true
      k = 0
      while (k < m) {
        val o = orient(ax, ay, bx, by, ox(k), oy(k))
        if (!(o < 0)) allNeg = false
        if (!(o > 0)) allPos = false
        k += 1
      }
      if ((oSelf > 0 && allNeg) || (oSelf < 0 && allPos)) return true
      i += 1
    }
    false
  }

  /** Closed intersection: touching at a point or edge counts. */
  def intersects(ax: Array[Double], ay: Array[Double],
                 bx: Array[Double], by: Array[Double]): Boolean =
    !(separates(ax, ay, bx, by) || separates(bx, by, ax, ay))
}
