package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Rng, WebMercator}

/** Minimal MVT wire-format reader used only to verify the encoder. */
object MvtReader {
  final case class RawFeature(id: Long, geomType: Int, geometry: Seq[Long],
                              tags: Seq[Int])
  final case class RawLayer(name: String, version: Int, extent: Int,
                            keys: Seq[String], features: Seq[RawFeature])

  private class Reader(b: Array[Byte]) {
    var pos = 0
    def hasMore: Boolean = pos < b.length
    def varint(): Long = {
      var shift = 0; var out = 0L
      while (true) {
        val x = b(pos) & 0xff; pos += 1
        out |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return out
        shift += 7
      }
      out
    }
    def bytes(n: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(b, pos, pos + n); pos += n; out
    }
  }

  def readTile(bytes: Array[Byte]): Seq[RawLayer] = {
    val r = new Reader(bytes)
    val layers = Seq.newBuilder[RawLayer]
    while (r.hasMore) {
      val tag = r.varint()
      assert((tag >> 3) == 3 && (tag & 7) == 2, s"unexpected tile field $tag")
      layers += readLayer(r.bytes(r.varint().toInt))
    }
    layers.result()
  }

  private def readLayer(bytes: Array[Byte]): RawLayer = {
    val r = new Reader(bytes)
    var name = ""; var version = 0; var extent = 4096
    val keys = Seq.newBuilder[String]; val feats = Seq.newBuilder[RawFeature]
    while (r.hasMore) {
      val tag = r.varint(); val field = (tag >> 3).toInt
      (tag & 7) match {
        case 0 =>
          val v = r.varint()
          if (field == 15) version = v.toInt else if (field == 5) extent = v.toInt
        case 2 =>
          val payload = r.bytes(r.varint().toInt)
          field match {
            case 1 => name = new String(payload, "UTF-8")
            case 2 => feats += readFeature(payload)
            case 3 => keys += new String(payload, "UTF-8")
            case _ => // values: skip detailed decode
          }
        case w => throw new AssertionError(s"wire type $w")
      }
    }
    RawLayer(name, version, extent, keys.result(), feats.result())
  }

  private def readFeature(bytes: Array[Byte]): RawFeature = {
    val r = new Reader(bytes)
    var id = -1L; var gt = 0
    var geom = Seq.empty[Long]; var tags = Seq.empty[Int]
    while (r.hasMore) {
      val tag = r.varint(); val field = (tag >> 3).toInt
      (tag & 7) match {
        case 0 =>
          val v = r.varint()
          if (field == 1) id = v else if (field == 3) gt = v.toInt
        case 2 =>
          val payload = r.bytes(r.varint().toInt)
          val rr = new Reader(payload)
          val vs = Seq.newBuilder[Long]
          while (rr.hasMore) vs += rr.varint()
          if (field == 4) geom = vs.result() else if (field == 2) tags = vs.result().map(_.toInt)
        case w => throw new AssertionError(s"wire type $w")
      }
    }
    RawFeature(id, gt, geom, tags)
  }

  /** Decode a point-geometry command stream back to coords. */
  def decodePoints(geom: Seq[Long]): Seq[(Int, Int)] = {
    def unzig(v: Long): Int = ((v >>> 1) ^ -(v & 1)).toInt
    val count = (geom.head >> 3).toInt
    assert((geom.head & 7) == 1)
    var cx = 0; var cy = 0
    (0 until count).map { i =>
      cx += unzig(geom(1 + 2 * i)); cy += unzig(geom(2 + 2 * i))
      (cx, cy)
    }
  }
}

class TilerSpec extends AnyFunSuite {
  import SharedSpark._

  test("tile encode round-trip: every feature lands in its tile at the right local coords") {
    import spark.implicits._
    val pts = (0 until 400).map { i =>
      (Rng.uniform(41L, i.toLong, 1L) * 320.0 - 160.0,
        Rng.uniform(41L, i.toLong, 2L) * 140.0 - 70.0, s"p$i")
    }
    val df = pts.toDF("lon", "lat", "name")
    val tiles = graft.operators.Tiler.buildTiles(df, Seq(5), layerName = "pois").collect()
    assert(tiles.map(_.n_features).sum === 400)
    tiles.foreach { t =>
      val layers = MvtReader.readTile(t.mvt_bytes)
      assert(layers.size === 1)
      assert(layers.head.name === "pois")
      assert(layers.head.version === 2)
      assert(layers.head.features.size === t.n_features)
      layers.head.features.foreach { f =>
        val coords = MvtReader.decodePoints(f.geometry)
        coords.foreach { case (lx, ly) =>
          assert(lx >= 0 && lx <= WebMercator.Extent)
          assert(ly >= 0 && ly <= WebMercator.Extent)
        }
      }
    }
    // cross-check: per-tile feature count equals direct assignment counts
    val direct = pts.groupBy(p =>
      (WebMercator.tileX(p._1, 5), WebMercator.tileY(p._2, 5)))
      .view.mapValues(_.size).toMap
    tiles.foreach(t => assert(direct((t.x, t.y)) === t.n_features))
  }

  test("tiles are deterministic across runs and partitionings") {
    import spark.implicits._
    def digest(parts: Int): Map[(Int, Long, Long), Int] = {
      val df = spark.range(0, 500, 1, parts)
        .map(i => (Rng.uniform(43L, i, 1L) * 320.0 - 160.0,
          Rng.uniform(43L, i, 2L) * 140.0 - 70.0, s"n$i"))
        .toDF("lon", "lat", "name")
      graft.operators.Tiler.buildTiles(df, Seq(3, 6)).collect()
        .map(t => (t.zoom, t.x, t.y) -> java.util.Arrays.hashCode(t.mvt_bytes)).toMap
    }
    assert(digest(2) === digest(9))
  }

  test("hot-tile cap bounds tile size deterministically") {
    import spark.implicits._
    // 5000 points in one city block → one hot tile at z8
    val df = (0 until 5000).map { i =>
      (2.35 + i * 1e-6, 48.85 + i * 1e-6, s"x$i")
    }.toDF("lon", "lat", "name")
    val tiles = graft.operators.Tiler.buildTiles(df, Seq(8), cap = 256).collect()
    assert(tiles.length === 1)
    assert(tiles.head.n_features === 256)
  }

  test("a tile cap below 1 fails on the driver at every entry point") {
    import spark.implicits._
    import graft.operators.Tiler
    val df = Seq((2.35, 48.85, "a"), (2.36, 48.86, "b")).toDF("lon", "lat", "name")
    val zoomed = Tiler.assignTiles(df, Seq(8))
    val kept = Tiler.withStats(Tiler.encodeTilesKeepFeatures(zoomed, 4).toDF())
    val calls: Seq[(String, Int => Any)] = Seq(
      "buildTiles" -> (c => Tiler.buildTiles(df, Seq(8), c)),
      "encodeTiles" -> (c => Tiler.encodeTiles(zoomed, c)),
      "buildTilesPyramid" -> (c => Tiler.buildTilesPyramid(df, Seq(4, 8), c)),
      "encodeTilesKeepFeatures" -> (c => Tiler.encodeTilesKeepFeatures(zoomed, c)),
      "mergeTiles" -> (c => Tiler.mergeTiles(kept, c)))
    calls.foreach { case (name, call) =>
      Seq(0, -1).foreach { cap =>
        val e = intercept[IllegalArgumentException](call(cap))
        assert(e.getMessage.contains("tile cap"), s"$name cap=$cap: ${e.getMessage}")
      }
    }
  }

  test("a null kind encodes as a feature without a kind tag") {
    import spark.implicits._
    def layerOf(kind: String, name: String) = {
      val tiles = graft.operators.Tiler.buildTiles(
        Seq((2.35, 48.85, kind, name)).toDF("lon", "lat", "kind", "name"),
        Seq(4)).collect()
      assert(tiles.length === 1 && tiles.head.n_features === 1)
      MvtReader.readTile(tiles.head.mvt_bytes).head
    }
    val named = layerOf(null, "paris")
    assert(named.keys === Seq("name"))
    assert(named.features.map(_.tags) === Seq(Seq(0, 0)))
    val bare = layerOf(null, null)
    assert(bare.keys.isEmpty && bare.features.map(_.tags) === Seq(Nil))
  }

  test("a null coordinate fails the encode instead of landing at 0.0") {
    import spark.implicits._
    val df = Seq((Some(2.35), 48.85, "a"), (None, 48.86, "b")).toDF("lon", "lat", "name")
    val e = intercept[org.apache.spark.SparkException](
      graft.operators.Tiler.buildTiles(df, Seq(8)).collect())
    assert(e.getMessage.toLowerCase.contains("null"), e.getMessage)
  }
}

class PyramidTilerSpec extends AnyFunSuite {
  import SharedSpark._

  private def skewedFeatures(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      // Zipf-ish: most points cluster in one city tile, tail spreads out
      val hot = graft.core.Rng.uniform(21L, i, 1L) < 0.6
      val lon = if (hot) 2.30 + graft.core.Rng.uniform(21L, i, 2L) * 0.05
                else graft.core.Rng.uniform(21L, i, 3L) * 360.0 - 180.0
      val lat = if (hot) 48.80 + graft.core.Rng.uniform(21L, i, 4L) * 0.05
                else graft.core.Rng.uniform(21L, i, 5L) * 170.0 - 85.0
      (lon, lat, "point", s"f$i")
    }.toDF("lon", "lat", "kind", "name")
  }

  private def canon(t: graft.operators.TileRow): (Int, Long, Long, Int, Seq[Byte]) =
    (t.zoom, t.x, t.y, t.n_features, t.mvt_bytes.toSeq)

  test("pyramid build is byte-identical to the per-zoom build (capped + uncapped)") {
    val feats = skewedFeatures(3000)
    for (cap <- Seq(32, Int.MaxValue)) {
      val direct = graft.operators.Tiler.buildTiles(feats, Seq(3, 5, 9), cap)
        .collect().map(canon).sortBy(t => (t._1, t._2, t._3)).toSeq
      val pyramid = graft.operators.Tiler.buildTilesPyramid(feats, Seq(3, 5, 9), cap)
        .collect().map(canon).sortBy(t => (t._1, t._2, t._3)).toSeq
      assert(pyramid === direct, s"cap=$cap")
    }
  }

  test("pyramid build assigns the raw input at the finest zoom only") {
    val feats = skewedFeatures(400)
    val plan = graft.operators.Tiler.buildTilesPyramid(feats, Seq(4, 8, 12), 64)
      .queryExecution.optimizedPlan.toString
    // the ×|zooms| explode over the raw input would show a 3-element array
    assert(!plan.contains("explode([4,8,12]"), plan.take(1200))
  }

  test("mergeTileLayers: byte-concat yields a valid two-layer tile; lone tiles pass through") {
    import SharedSpark.spark
    val zooms = Seq(2, 4)
    val points = graft.operators.Tiler.buildTiles(skewedFeatures(600), zooms)
    val polys = graft.operators.PolyTiler.buildPolygonTiles(spark, zooms)
    val merged = graft.operators.Tiler.mergeTileLayers(points, polys).collect()
    val pKeys = points.collect().map(t => (t.zoom, t.x, t.y)).toSet
    val aKeys = polys.collect().map(t => (t.zoom, t.x, t.y)).toSet
    assert(merged.map(t => (t.zoom, t.x, t.y)).toSet === (pKeys ++ aKeys))
    val both = merged.filter(t => pKeys((t.zoom, t.x, t.y)) && aKeys((t.zoom, t.x, t.y)))
    assert(both.nonEmpty, "no overlapping tile between the two layers — weak test")
    both.foreach { t =>
      val layers = MvtReader.readTile(t.mvt_bytes)
      assert(layers.map(_.name) === Seq("features", "admin"),
        s"tile ${(t.zoom, t.x, t.y)} layers ${layers.map(_.name)}")
      assert(layers.map(_.features.size).sum === t.n_features)
    }
    // a point-only tile keeps exactly its original layer
    merged.filter(t => pKeys((t.zoom, t.x, t.y)) && !aKeys((t.zoom, t.x, t.y)))
      .take(3).foreach { t =>
        assert(MvtReader.readTile(t.mvt_bytes).map(_.name) === Seq("features"))
      }
  }
}
