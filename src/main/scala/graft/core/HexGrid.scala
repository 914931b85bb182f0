package graft.core

/** H3-style hierarchical hexagonal index, resolutions 0–12.
  *
  * DOCUMENTED DEVIATION (SURVEY.md §7.5.1): canonical H3 cell IDs require
  * the full icosahedral gnomonic projection plus its published base-cell
  * tables, which cannot be reproduced faithfully in this offline sandbox.
  * Following the survey's controlled decision, this is an *H3-compatible
  * surface*: aperture-7 hexagonal hierarchy (each resolution √7× finer and
  * rotated by the aperture-7 angle α = atan(√3/5) ≈ 19.107°, exactly as in
  * published H3), axial-coordinate cells, kRing / parent / children — but
  * laid on an equirectangular (lon,lat) plane instead of icosahedron faces.
  * All hierarchy, ring and kNN semantics match H3's; the raw 64-bit IDs do
  * not. Exact S2 IDs (graft.core.S2) are the canonical index; correctness
  * here is gated on self-consistency properties.
  *
  * ID layout: [4-bit res][1 bit sign-free pad][q+2^28 : 29 bits][r+2^28 :
  * 29 bits] with q,r axial coordinates.
  */
object HexGrid {
  final val MaxRes = 12
  /** Circumradius of a res-0 hexagon, in degrees on the (lon,lat) plane. */
  final val Res0Radius = 12.0
  private final val Sqrt7 = math.sqrt(7.0)
  private final val Sqrt3 = math.sqrt(3.0)
  /** Aperture-7 inter-resolution rotation (published H3 constant). */
  final val Aperture7Rotation = math.atan(Sqrt3 / 5.0)

  private final val Bias = 1 << 28
  private final val CoordMask = (1L << 29) - 1

  /** Hex circumradius at resolution r. */
  def radius(res: Int): Double = Res0Radius / math.pow(Sqrt7, res)

  /** Cumulative grid rotation at resolution r. */
  def rotation(res: Int): Double = res * Aperture7Rotation

  def pack(res: Int, q: Int, r: Int): Long = {
    (res.toLong << 58) | ((q.toLong + Bias) << 29) | (r.toLong + Bias)
  }
  def res(id: Long): Int = (id >>> 58).toInt
  def q(id: Long): Int = (((id >>> 29) & CoordMask) - Bias).toInt
  def r(id: Long): Int = ((id & CoordMask) - Bias).toInt

  /** Point (lon,lat degrees) → plane coords of the res-r grid (rotated). */
  @inline private def toGridPlane(lon: Double, lat: Double, resol: Int): (Double, Double) = {
    val a = -rotation(resol)
    val c = math.cos(a); val s = math.sin(a)
    (lon * c - lat * s, lon * s + lat * c)
  }

  @inline private def fromGridPlane(x: Double, y: Double, resol: Int): (Double, Double) = {
    val a = rotation(resol)
    val c = math.cos(a); val s = math.sin(a)
    (x * c - y * s, x * s + y * c)
  }

  /** Point → cell at resolution `resol` (pointy-top axial coords). */
  def cell(lon: Double, lat: Double, resol: Int): Long = {
    val rad = radius(resol)
    val (x, y) = toGridPlane(lon, lat, resol)
    // pointy-top hex: q = (√3/3·x − 1/3·y)/R, r = (2/3·y)/R
    val qf = (Sqrt3 / 3.0 * x - y / 3.0) / rad
    val rf = (2.0 / 3.0 * y) / rad
    val (qi, ri) = axialRound(qf, rf)
    pack(resol, qi, ri)
  }

  /** Cube-coordinate rounding (standard hex-grid algorithm). */
  def axialRound(qf: Double, rf: Double): (Int, Int) = {
    val sf = -qf - rf
    var qr = math.round(qf).toInt
    var rr = math.round(rf).toInt
    val sr = math.round(sf).toInt
    val dq = math.abs(qr - qf); val dr = math.abs(rr - rf); val ds = math.abs(sr - sf)
    if (dq > dr && dq > ds) qr = -rr - sr
    else if (dr > ds) rr = -qr - sr
    (qr, rr)
  }

  /** Center of a cell as (lon, lat) degrees. */
  def center(id: Long): (Double, Double) = {
    val resol = res(id)
    val rad = radius(resol)
    val qq = q(id).toDouble; val rr = r(id).toDouble
    val x = rad * (Sqrt3 * qq + Sqrt3 / 2.0 * rr)
    val y = rad * (1.5 * rr)
    fromGridPlane(x, y, resol)
  }

  /** Hexagon boundary (7 points, closed) as (lon,lat) pairs. */
  def boundary(id: Long): Array[(Double, Double)] = {
    val resol = res(id)
    val rad = radius(resol)
    val (cx, cy) = {
      val qq = q(id).toDouble; val rr = r(id).toDouble
      (rad * (Sqrt3 * qq + Sqrt3 / 2.0 * rr), rad * 1.5 * rr)
    }
    val out = new Array[(Double, Double)](7)
    var k = 0
    while (k < 7) {
      val ang = math.Pi / 180.0 * (60.0 * (k % 6) - 30.0)
      val vx = cx + rad * math.cos(ang)
      val vy = cy + rad * math.sin(ang)
      out(k) = fromGridPlane(vx, vy, resol)
      k += 1
    }
    out
  }

  /** Boundary as a WKT POLYGON string (codegen-callable; Double.toString
    * is locale-independent, so the text is byte-identical on any JVM).
    */
  def boundaryWkt(id: Long): String = {
    val b = boundary(id)
    val sb = new java.lang.StringBuilder(160)
    sb.append("POLYGON ((")
    var k = 0
    while (k < b.length) {
      if (k > 0) sb.append(", ")
      sb.append(b(k)._1).append(' ').append(b(k)._2)
      k += 1
    }
    sb.append("))")
    sb.toString
  }

  private val axialDirs: Array[(Int, Int)] =
    Array((1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1))

  /** Cells at exactly ring-distance k (6k cells for k ≥ 1; the cell for k=0). */
  def ring(id: Long, k: Int): Array[Long] = {
    if (k == 0) return Array(id)
    val resol = res(id)
    val out = new Array[Long](6 * k)
    var cq = q(id) + axialDirs(4)._1 * k
    var cr = r(id) + axialDirs(4)._2 * k
    var i = 0
    var d = 0
    while (d < 6) {
      var step = 0
      while (step < k) {
        out(i) = pack(resol, cq, cr); i += 1
        cq += axialDirs(d)._1; cr += axialDirs(d)._2
        step += 1
      }
      d += 1
    }
    out
  }

  /** All cells within ring distance k (1 + 3k(k+1) cells). */
  def kRing(id: Long, k: Int): Array[Long] = {
    val out = Array.newBuilder[Long]
    var i = 0
    while (i <= k) { out ++= ring(id, i); i += 1 }
    out.result()
  }

  /** Hex grid distance between two same-res cells. */
  def gridDistance(a: Long, b: Long): Int = {
    require(res(a) == res(b))
    val dq = q(a) - q(b); val dr = r(a) - r(b)
    (math.abs(dq) + math.abs(dr) + math.abs(dq + dr)) / 2
  }

  /** Parent: the cell at res−1 containing this cell's center. */
  def parent(id: Long): Long = {
    val resol = res(id)
    require(resol > 0, "res-0 cell has no parent")
    val (lon, lat) = center(id)
    cell(lon, lat, resol - 1)
  }

  /** Children: cells at res+1 whose parent is this cell (≈7 per cell). */
  def children(id: Long): Array[Long] = {
    val resol = res(id)
    require(resol < MaxRes)
    val (lon, lat) = center(id)
    val centerChild = cell(lon, lat, resol + 1)
    kRing(centerChild, 2).filter(c => parent(c) == id)
  }
}
