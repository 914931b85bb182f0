package graft.sources

import graft.sources.AdminPolygons.AdminPolygon

/** Registry of deterministic polygon sets addressable from codegen'd
  * expressions by (registry, id). Registry 0 = the admin-boundary set;
  * registry 1 = small convex triangles whose containment is also
  * expressible as half-plane ANSI SQL — the oracle-checkable PIP surface.
  */
object PolyRegistry {
  final val Admin = 0
  final val OracleTri = 1

  /** Eight convex (CCW) triangles, coordinates chosen as short decimal
    * literals so the same numbers round-trip exactly through SQL text.
    */
  lazy val oracleTriangles: IndexedSeq[AdminPolygon] = {
    val tris: Seq[(Double, Double, Double, Double, Double, Double)] = Seq(
      (-170.0, -80.0, -110.0, -75.0, -140.0, -20.0),
      (-100.0, -60.0, -40.0, -55.0, -70.0, 0.0),
      (-30.0, -40.0, 30.0, -45.0, 0.0, 20.0),
      (40.0, -70.0, 100.0, -65.0, 70.0, -5.0),
      (110.0, -50.0, 170.0, -55.0, 140.0, 10.0),
      (-160.0, 20.0, -100.0, 15.0, -130.0, 75.0),
      (-20.0, 30.0, 40.0, 25.0, 10.0, 80.0),
      (90.0, 20.0, 150.0, 30.0, 120.0, 70.0))
    tris.zipWithIndex.map { case ((x1, y1, x2, y2, x3, y3), i) =>
      AdminPolygon(i.toLong, s"tri$i", 9,
        Array(x1, x2, x3, x1), Array(y1, y2, y3, y1))
    }.toIndexedSeq
  }

  def polys(registry: Int): IndexedSeq[AdminPolygon] = registry match {
    case Admin => AdminPolygons.all
    case OracleTri => oracleTriangles
    case r => throw new IllegalArgumentException(s"registry $r")
  }

  private lazy val byId: Array[Map[Long, AdminPolygon]] =
    Array(AdminPolygons.byId, oracleTriangles.map(p => p.adminId -> p).toMap)

  /** O(1) polygon lookup by (registry, id). */
  def polyById(registry: Int, id: Long): AdminPolygon = byId(registry)(id)

  // raw JTS geometries, built once per (registry, id) per JVM — clip/
  // intersection callers (PolyTiler) never rebuild coordinate arrays
  private val jtsCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Long), org.locationtech.jts.geom.Geometry]()

  def jts(registry: Int, id: Long): org.locationtech.jts.geom.Geometry =
    jtsCache.computeIfAbsent((registry, id),
      { _ => AdminPolygons.toJts(byId(registry)(id)) })

  /** Static PIP entry point for codegen. */
  def contains(registry: Int, adminId: Long, lon: Double, lat: Double): Boolean =
    byId(registry).get(adminId).exists(_.contains(lon, lat))

  // ---- per-cell candidate index (the "R-tree per cell prefix") ----
  // The registry is deterministic, so each executor JVM builds identical
  // indexes lazily — semantically equivalent to broadcasting them. Cell
  // covers keep candidate lists short (at CoverRes: at most 3 polygons
  // per cell for Admin, 1 for OracleTri), so a flat scan of the cell's
  // list is the whole index; no tree is needed.

  // cell → polygon-id inverted index, built ONCE per (registry, res) by a
  // single pass over the registry (invert cellCover) — first touch per
  // cell is then O(polys-in-cell), never O(all polys × bbox cells)
  private val coverIndexCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Map[Long, Array[Long]]]()

  def coverIndex(registry: Int, res: Int): Map[Long, Array[Long]] =
    coverIndexCache.computeIfAbsent((registry, res), { _ =>
      val m = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      polys(registry).foreach { p =>
        AdminPolygons.cellCover(p, res).foreach { c =>
          m.getOrElseUpdate(c, scala.collection.mutable.ArrayBuffer.empty) += p.adminId
        }
      }
      m.view.mapValues(_.toArray.sorted).toMap
    })

  private val EmptyHits = Array.empty[Long]

  /** Per-cell flat candidates: (id, bbox, polygon) sorted by id. */
  private final case class Cand(id: Long, x1: Double, y1: Double,
                                x2: Double, y2: Double, p: AdminPolygon)
  private val candCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Int), Map[Long, Array[Cand]]]()

  private def candsFor(registry: Int, res: Int, level: Int): Map[Long, Array[Cand]] =
    candCache.computeIfAbsent((registry, res, level), { _ =>
      coverIndex(registry, res).view.mapValues { ids =>
        ids.flatMap { id =>
          val p = byId(registry)(id)
          if (level < 0 || p.level == level) {
            val (x1, y1, x2, y2) = p.bbox
            Some(Cand(id, x1, y1, x2, y2, p))
          } else None
        }
      }.toMap
    })

  /** All admin ids whose polygon covers the point, ascending: bbox test
    * then exact ray-cast over the cell's candidates.
    */
  def queryTree(registry: Int, res: Int, level: Int, cell: Long,
                lon: Double, lat: Double): Array[Long] = {
    val cands = candsFor(registry, res, level).getOrElse(cell, null)
    if (cands == null) return EmptyHits
    var out = EmptyHits
    var i = 0
    while (i < cands.length) {
      val c = cands(i)
      if (lon >= c.x1 && lon <= c.x2 && lat >= c.y1 && lat <= c.y2 &&
          c.p.contains(lon, lat)) out = out :+ c.id
      i += 1
    }
    out
  }

  /** Half-plane SQL predicate for a CCW convex ring (oracle generation). */
  def halfPlaneSql(p: AdminPolygon, lonCol: String, latCol: String): String = {
    val n = p.xs.length - 1 // closed ring
    (0 until n).map { i =>
      val x1 = p.xs(i); val y1 = p.ys(i)
      val x2 = p.xs(i + 1); val y2 = p.ys(i + 1)
      s"(($x2 - $x1) * ($latCol - $y1) - ($y2 - $y1) * ($lonCol - $x1)) >= 0"
    }.mkString("(", " AND ", ")")
  }
}
