package graft.core

/** Pure-Scala planar geometry kernels (point-in-polygon, bbox, haversine)
  * — static methods callable from codegen'd expressions. JTS is used at
  * the operator layer for prepared geometries / simplification; these
  * kernels keep the per-row hot path allocation-free.
  */
object GeoKernels {
  /** Ray-casting PIP with on-edge counted as inside (matches JTS covers
    * for simple rings; fixtures never place points exactly on edges).
    * Ring is closed or open (first==last optional), coords as parallel
    * arrays.
    */
  def pointInRing(xs: Array[Double], ys: Array[Double], px: Double, py: Double): Boolean = {
    var inside = false
    val n = if (xs(0) == xs(xs.length - 1) && ys(0) == ys(ys.length - 1)) xs.length - 1 else xs.length
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = xs(i); val yi = ys(i)
      val xj = xs(j); val yj = ys(j)
      // edge crossing test
      if (((yi > py) != (yj > py)) &&
          (px < (xj - xi) * (py - yi) / (yj - yi) + xi)) inside = !inside
      // on-edge check: collinear + within bbox of segment
      val cross = (xj - xi) * (py - yi) - (yj - yi) * (px - xi)
      if (cross == 0.0 &&
          px >= math.min(xi, xj) && px <= math.max(xi, xj) &&
          py >= math.min(yi, yj) && py <= math.max(yi, yj)) return true
      j = i
      i += 1
    }
    inside
  }

  /** Squared planar distance in degrees (kNN ranking metric at small
    * extents; monotone with true distance locally).
    */
  @inline def dist2(x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dx = x1 - x2; val dy = y1 - y2
    dx * dx + dy * dy
  }

  /** Mean Earth radius (IUGG), meters. */
  val EarthRadiusM: Double = 6371008.8

  /** Great-circle distance in METERS, with the operation order mirrored
    * 1:1 in the DuckDB oracle SQL (SparkEntry q44: explicit `* π / 180`,
    * sin half-angles squared, asin(sqrt(h)), R = 6371008.8) — same
    * float sequence both engines, so round(…,2) meters compare exactly.
    */
  def haversineM(lon1: Double, lat1: Double,
                 lon2: Double, lat2: Double): Double = {
    val sLat = Math.sin((lat2 - lat1) * Math.PI / 180.0 / 2.0)
    val sLon = Math.sin((lon2 - lon1) * Math.PI / 180.0 / 2.0)
    val h = sLat * sLat +
      Math.cos(lat1 * Math.PI / 180.0) * Math.cos(lat2 * Math.PI / 180.0) *
        sLon * sLon
    2.0 * EarthRadiusM * Math.asin(Math.sqrt(h))
  }

  /** Nearest reference point by geodesic distance: refs rows are
    * [id, lon, lat]; returns [id, dist_m]. Ties break to the lowest id
    * (refs are scanned in id order; strict `<` keeps the first minimum).
    */
  def nearestRef(lon: Double, lat: Double,
                 refs: Array[Array[Double]]): Array[Double] = {
    var bestId = -1.0
    var bestD = Double.PositiveInfinity
    var i = 0
    while (i < refs.length) {
      val d = haversineM(lon, lat, refs(i)(1), refs(i)(2))
      if (d < bestD) { bestD = d; bestId = refs(i)(0) }
      i += 1
    }
    Array(bestId, bestD)
  }

  /** One-pass ring geometry: [signed_area, centroid_x, centroid_y,
    * perimeter] of a CLOSED ring (last vertex == first). Shoelace area,
    * area-weighted centroid, Euclidean perimeter — planar (lon/lat plane,
    * matching the synthetic registry's planar semantics). Degenerate
    * (zero-area) rings fall back to the vertex mean for the centroid.
    * Summation is in vertex order so an external SQL recomputation (lead
    * window over the same vertex list) reproduces the floats exactly.
    */
  def ringStats(xs: Array[Double], ys: Array[Double]): Array[Double] = {
    val n = math.min(xs.length, ys.length)
    if (n < 2) return Array(0.0, if (n == 1) xs(0) else 0.0,
      if (n == 1) ys(0) else 0.0, 0.0)
    var twoA = 0.0
    var sx = 0.0
    var sy = 0.0
    var per = 0.0
    var i = 0
    while (i < n - 1) {
      val cross = xs(i) * ys(i + 1) - xs(i + 1) * ys(i)
      twoA += cross
      sx += (xs(i) + xs(i + 1)) * cross
      sy += (ys(i) + ys(i + 1)) * cross
      val dx = xs(i + 1) - xs(i)
      val dy = ys(i + 1) - ys(i)
      per += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    if (twoA == 0.0) {
      var mx = 0.0; var my = 0.0
      i = 0
      while (i < n - 1) { mx += xs(i); my += ys(i); i += 1 }
      Array(0.0, mx / (n - 1), my / (n - 1), per)
    } else {
      Array(twoA / 2.0, sx / (3.0 * twoA), sy / (3.0 * twoA), per)
    }
  }
}
