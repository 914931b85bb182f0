package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, Polygon}
import org.locationtech.jts.simplify.DouglasPeuckerSimplifier
import graft.core.{MvtEncoder, WebMercator}
import graft.sources.PolyRegistry

/** Polygon (admin-boundary) layer tiling: cover → clip → simplify → encode.
  *
  * Per (polygon, tile): clip to the tile envelope + buffer (JTS
  * intersection), Douglas-Peucker simplify at tile resolution (tolerance =
  * one tile pixel in degrees — the reference's per-row cleanup-at-grid-
  * resolution semantics, SURVEY.md §7.1), then integer tile-local coords
  * with MVT winding (exterior positive shoelace in y-down coords).
  *
  * Scale shape: the (polygon × tile) fan-out is computed as a DataFrame of
  * keys (cheap), the single shuffle groups by tile, and clipping/encoding
  * stream per tile via flatMapGroups. Polygon registries are static per JVM —
  * no broadcast of JTS objects (they are not kryo-friendly).
  */
object PolyTiler {
  private val BufferPx = 64 // clip buffer in tile pixels

  /** Tiles (z,x,y) whose envelope intersects the polygon bbox. */
  def coveringTiles(p: graft.sources.AdminPolygons.AdminPolygon, z: Int): Seq[(Long, Long)] = {
    val (x1, y1, x2, y2) = p.bbox
    val txMin = WebMercator.tileX(x1, z); val txMax = WebMercator.tileX(x2, z)
    val tyMin = WebMercator.tileY(y2, z); val tyMax = WebMercator.tileY(y1, z)
    for (tx <- txMin to txMax; ty <- tyMin to tyMax) yield (tx, ty)
  }

  /** Build the polygon layer for the given registry and zooms.
    *
    * The (polygon × tile) key fan-out happens ON EXECUTORS: the driver
    * ships one row per (polygon id, zoom) — tiny even at 10⁵ polygons —
    * and each task expands its polygons' covering tiles (at z12 worldwide
    * that is millions of rows the driver never holds). One shuffle groups
    * by tile; clipping/encoding stream per tile through [[encodeTile]]
    * against the per-JVM cached registry geometries.
    */
  def buildPolygonTiles(spark: SparkSession, zooms: Seq[Int],
                        registry: Int = PolyRegistry.Admin,
                        layerName: String = "admin",
                        extent: Int = WebMercator.Extent): Dataset[TileRow] = {
    import spark.implicits._
    val reg = registry
    val ext = extent
    val layer = layerName
    val zoomsArr = zooms.toArray
    val ids = PolyRegistry.polys(registry).map(_.adminId)
    val parts = math.max(spark.sparkContext.defaultParallelism,
      ids.length * zoomsArr.length / 64)
    val keys = spark.createDataset(
        for { id <- ids; z <- zoomsArr.toSeq } yield (id, z))
      .repartition(math.min(parts, ids.length * zoomsArr.length))
      .flatMap { case (id: Long, z: Int) =>
        coveringTiles(PolyRegistry.polyById(reg, id), z).iterator
          .map { case (tx, ty) => (WebMercator.tileId(z, tx, ty), id) }
      }
      .toDF("tile_id", "admin_id")
    keys
      .repartition(col("tile_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (tileId: Long, rows: Iterator[(Long, Long)]) =>
        encodeTile(tileId, rows.map(_._2).toSeq.sorted.map { id =>
          val p = PolyRegistry.polyById(reg, id)
          // per-JVM cached geometry
          (id, PolyRegistry.jts(reg, id), Seq("admin_id" -> MvtEncoder.IVal(id),
            "name" -> MvtEncoder.SVal(p.name),
            "level" -> MvtEncoder.IVal(p.level.toLong)))
        }, layer, ext).iterator
      }
  }

  private lazy val gf = new GeometryFactory()

  /** One tile of the layer: each (id, geometry, tags) feature is clipped
    * to the tile envelope plus a `BufferPx` buffer, Douglas-Peucker
    * simplified at one pixel, and encoded as MVT feature `id + 1`.
    * None when every feature clips to nothing — a bbox cover
    * over-approximates the polygon (e.g. tile squares at a convex
    * hull's bbox corners), and zero-feature rows with empty mvt_bytes
    * would bloat the serving table with tiles the point tiler never
    * writes.
    */
  private def encodeTile(tileId: Long,
                         feats: Seq[(Long, Geometry, Seq[(String, MvtEncoder.TagValue)])],
                         layerName: String, extent: Int): Option[TileRow] = {
    val z = WebMercator.tileIdZoom(tileId)
    val tx = WebMercator.tileIdX(tileId)
    val ty = WebMercator.tileIdY(tileId)
    val (lonMin, latMin, lonMax, latMax) = WebMercator.tileBounds(z, tx, ty)
    val bufLon = (lonMax - lonMin) * BufferPx / extent
    val bufLat = (latMax - latMin) * BufferPx / extent
    val envelope = gf.createPolygon(Array(
      new Coordinate(lonMin - bufLon, latMin - bufLat),
      new Coordinate(lonMax + bufLon, latMin - bufLat),
      new Coordinate(lonMax + bufLon, latMax + bufLat),
      new Coordinate(lonMin - bufLon, latMax + bufLat),
      new Coordinate(lonMin - bufLon, latMin - bufLat)))
    // DP tolerance: one pixel in degrees at this tile
    val tolerance = (lonMax - lonMin) / extent
    val encoded = feats.flatMap { case (id, geom, tags) =>
      val clipped = geom.intersection(envelope)
      if (clipped.isEmpty) None
      else {
        val simplified = DouglasPeuckerSimplifier.simplify(clipped, tolerance)
        val rings = geometryRings(simplified, z, tx, ty, extent)
        if (rings.isEmpty) None
        else Some(MvtEncoder.Feature(id + 1, MvtEncoder.GeomPolygon, rings, tags))
      }
    }
    if (encoded.isEmpty) None
    else Some(TileRow(z, tx, ty, encoded.length,
      MvtEncoder.encodeTile(Seq(layerName -> encoded), extent)))
  }

  /** Tile ARBITRARY polygon rows — the bridge that turns DERIVED
    * geometry (q103's DBSCAN cluster hulls, any WKT polygon column)
    * into a servable MVT layer, completing the loop points → clusters
    * → hull polygons → tiles. Same cover → clip → simplify → encode
    * path as the registry tiler, but the geometry rides the rows:
    * derived layers are registry-sized (hulls are bounded by cluster
    * count, not point count), so carrying WKT through the one
    * tile-keyed shuffle is cheap and nothing is driver-collected.
    * Non-polygonal WKT (degenerate ≤2-point hulls come out as
    * LINESTRINGs) is skipped. Features carry `geom_id` = idCol.
    */
  def buildTilesFromWkt(polys: DataFrame, idCol: String, wktCol: String,
                        zooms: Seq[Int], layerName: String = "derived",
                        extent: Int = WebMercator.Extent): Dataset[TileRow] = {
    val spark = polys.sparkSession
    import spark.implicits._
    val zoomsArr = zooms.toArray
    val ext = extent
    val layer = layerName
    val rows = polys
      .select(col(idCol).cast("long"), col(wktCol).cast("string"))
      .as[(Long, String)]
    rows
      .flatMap { case (id, wkt) =>
        if (!wkt.startsWith("POLYGON")) Iterator.empty
        else {
          val g = new org.locationtech.jts.io.WKTReader(gf).read(wkt)
          val env = g.getEnvelopeInternal
          zoomsArr.iterator.flatMap { z =>
            val txMin = WebMercator.tileX(env.getMinX, z)
            val txMax = WebMercator.tileX(env.getMaxX, z)
            val tyMin = WebMercator.tileY(env.getMaxY, z)
            val tyMax = WebMercator.tileY(env.getMinY, z)
            for (tx <- txMin to txMax; ty <- tyMin to tyMax)
              yield (WebMercator.tileId(z, tx, ty), id, wkt)
          }
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (tileId, it) =>
        val reader = new org.locationtech.jts.io.WKTReader(gf)
        encodeTile(tileId, it.toSeq.sortBy(_._2).map { case (_, id, wkt) =>
          (id, reader.read(wkt), Seq("geom_id" -> MvtEncoder.IVal(id)))
        }, layer, ext).iterator
      }
  }

  /** JTS geometry → MVT rings in tile-local ints with enforced winding. */
  def geometryRings(g: Geometry, z: Int, tx: Long, ty: Long,
                    extent: Int): Array[Array[(Int, Int)]] = {
    val polys: Seq[Polygon] = (0 until g.getNumGeometries)
      .map(g.getGeometryN).collect { case p: Polygon if !p.isEmpty => p }
    polys.flatMap { p =>
      val shell = ringCoords(p.getExteriorRing.getCoordinates, z, tx, ty, extent,
        wantPositive = true)
      shell.toSeq.flatMap { sh =>
        val holes = (0 until p.getNumInteriorRing).flatMap { i =>
          ringCoords(p.getInteriorRingN(i).getCoordinates, z, tx, ty, extent,
            wantPositive = false)
        }
        sh +: holes
      }
    }.toArray
  }

  private def ringCoords(cs: Array[Coordinate], z: Int, tx: Long, ty: Long,
                         extent: Int, wantPositive: Boolean): Option[Array[(Int, Int)]] = {
    var pts = cs.map(c => (
      WebMercator.localX(c.x, z, tx, extent),
      WebMercator.localY(c.y, z, ty, extent)))
    // drop consecutive duplicates introduced by integer snapping
    pts = pts.zipWithIndex.filter { case (p, i) => i == 0 || p != pts(i - 1) }.map(_._1)
    if (pts.length > 1 && pts.head == pts.last) pts = pts.dropRight(1)
    if (pts.length < 3) return None
    val area2 = MvtEncoder.signedArea2(pts)
    if (area2 == 0) return None
    val oriented = if ((area2 > 0) == wantPositive) pts else pts.reverse
    Some(oriented)
  }
}
