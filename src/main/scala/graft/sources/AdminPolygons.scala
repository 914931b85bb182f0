package graft.sources

import graft.core.{Gazetteer, GeoKernels, HexGrid, Rng}
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Polygon}

/** Deterministic synthetic admin-boundary polygons — one irregular convex
  * octagon per gazetteer city (admin_id = city index) plus six continental
  * rectangles (admin_id = 1000+i). Pure function of the fixed seed, so
  * every executor JVM materializes an identical registry at class load —
  * the broadcast-free analog of the reference's small normalization
  * aggregate that every row is matched against (reference:
  * mvt/matrix.py:289-294 OOT master).
  */
object AdminPolygons {
  final case class AdminPolygon(adminId: Long, name: String, level: Int,
                                xs: Array[Double], ys: Array[Double]) {
    def contains(lon: Double, lat: Double): Boolean =
      GeoKernels.pointInRing(xs, ys, lon, lat)
    def bbox: (Double, Double, Double, Double) =
      (xs.min, ys.min, xs.max, ys.max)
  }

  private val seed = 20260816L

  /** City octagons: radius 0.8–3.2°, per-vertex radial jitter (convex). */
  lazy val cityPolygons: IndexedSeq[AdminPolygon] =
    Gazetteer.entries.zipWithIndex.map { case ((name, clat, clon), i) =>
      val base = 0.8 + Rng.uniform(seed, i.toLong, 1L) * 2.4
      val nv = 8
      val xs = new Array[Double](nv + 1)
      val ys = new Array[Double](nv + 1)
      var k = 0
      while (k < nv) {
        val ang = 2 * math.Pi * k / nv
        val r = base * (0.85 + 0.3 * Rng.uniform(seed, i.toLong, 10L + k))
        // shrink lon extent at high latitude to keep shapes sane
        xs(k) = clon + r * math.cos(ang)
        ys(k) = math.max(-85.0, math.min(85.0, clat + r * math.sin(ang) * 0.8))
        k += 1
      }
      xs(nv) = xs(0); ys(nv) = ys(0)
      AdminPolygon(i.toLong, name, 2, xs, ys)
    }.toIndexedSeq

  /** Continental rectangles (level-1 admins). */
  lazy val regionPolygons: IndexedSeq[AdminPolygon] = IndexedSeq(
    ("europe", -12.0, 35.0, 32.0, 62.0),
    ("north_america", -130.0, 22.0, -65.0, 63.0),
    ("south_america", -82.0, -40.0, -40.0, 8.0),
    ("east_asia", 95.0, 5.0, 150.0, 45.0),
    ("middle_east_africa", -10.0, -36.0, 58.0, 34.0),
    ("oceania", 110.0, -45.0, 180.0, -8.0)
  ).zipWithIndex.map { case ((name, x1, y1, x2, y2), i) =>
    AdminPolygon(1000L + i, name, 1,
      Array(x1, x2, x2, x1, x1), Array(y1, y1, y2, y2, y1))
  }

  lazy val all: IndexedSeq[AdminPolygon] = cityPolygons ++ regionPolygons

  lazy val byId: Map[Long, AdminPolygon] = all.map(p => p.adminId -> p).toMap

  private lazy val gf = new GeometryFactory()

  def toJts(p: AdminPolygon): Polygon = {
    val coords = p.xs.indices.map(i => new Coordinate(p.xs(i), p.ys(i))).toArray
    gf.createPolygon(coords)
  }

  /** Hex cells (at `res`) covering the polygon: every cell whose hexagon
    * could contain a point of the polygon. Enumerates the axial-coordinate
    * rectangle spanned by the bbox corners (padded), then keeps cells whose
    * JTS hexagon intersects the polygon — the build side of the per-cell
    * candidate index behind the PIP join.
    */
  def cellCover(p: AdminPolygon, res: Int): Array[Long] = {
    val (x1, y1, x2, y2) = p.bbox
    val corners = Array((x1, y1), (x1, y2), (x2, y1), (x2, y2))
    val cells = corners.map { case (x, y) => HexGrid.cell(x, y, res) }
    val qs = cells.map(HexGrid.q)
    val rs = cells.map(HexGrid.r)
    val pad = 2
    val jts = toJts(p)
    val out = Array.newBuilder[Long]
    var q = qs.min - pad
    while (q <= qs.max + pad) {
      var r = rs.min - pad
      while (r <= rs.max + pad) {
        val id = HexGrid.pack(res, q, r)
        val b = HexGrid.boundary(id)
        val hexCoords = b.map { case (bx, by) => new Coordinate(bx, by) }
        val hex = gf.createPolygon(hexCoords)
        if (hex.intersects(jts)) out += id
        r += 1
      }
      q += 1
    }
    out.result()
  }

  /** Default cover resolution: hexagons comparable to polygon size. */
  val CoverRes = 3
}
