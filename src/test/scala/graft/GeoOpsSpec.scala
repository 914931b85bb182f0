package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{MvtEncoder, WebMercator}

class PolyTilerSpec extends AnyFunSuite {
  import SharedSpark._

  test("polygon tiles decode with valid winding and plausible coverage") {
    val tiles = graft.operators.PolyTiler
      .buildPolygonTiles(spark, Seq(2, 4)).collect()
    assert(tiles.nonEmpty)
    var nPolys = 0
    tiles.foreach { t =>
      val layers = MvtReader.readTile(t.mvt_bytes)
      assert(layers.head.name === "admin")
      assert(layers.head.features.nonEmpty)
      layers.head.features.foreach { f =>
        assert(f.geomType === MvtEncoder.GeomPolygon)
        nPolys += 1
      }
    }
    assert(nPolys > tiles.length / 2)
    // every polygon's own city-center tile must contain that polygon
    val byTile = tiles.map(t => (t.zoom, t.x, t.y)).toSet
    graft.sources.AdminPolygons.cityPolygons.take(20).foreach { p =>
      val (cx, cy) = {
        val n = p.xs.length - 1
        ((0 until n).map(p.xs(_)).sum / n, (0 until n).map(p.ys(_)).sum / n)
      }
      val z = 4
      assert(byTile.contains((z, WebMercator.tileX(cx, z), WebMercator.tileY(cy, z))),
        s"missing tile for ${p.name}")
    }
  }

  test("derived WKT polygons (cluster hulls) tile into a decodable MVT layer") {
    import spark.implicits._
    // q103-style blobbed points → DBSCAN hulls → MVT hull layer
    val pts = (0 until 400).map { i =>
      val lon = (i * 17.000170000017) % 360.0 - 180.0
      val lat = (i * 7.000070000007) % 170.0 - 85.0
      (i.toLong, (i % 8) * 45.0 - 157.5 + lon * 0.05,
        (i % 8) * 20.0 - 70.0 + lat * 0.05)
    }.toDF("doc_id", "lon", "lat")
    val hulls = graft.operators.Dbscan.hulls(pts, "doc_id",
      graft.operators.Dbscan.cluster(pts, "doc_id", epsDeg = 5.0, minPts = 8,
        res = 1))
    val nHulls = hulls.count()
    assert(nHulls === 8L)
    val tiles = graft.operators.PolyTiler
      .buildTilesFromWkt(hulls, "cluster_id", "wkt", Seq(2, 4),
        layerName = "hulls")
      .collect()
    assert(tiles.nonEmpty)
    val seen = scala.collection.mutable.Set[Long]()
    tiles.filter(_.mvt_bytes.nonEmpty).foreach { t =>
      val layers = MvtReader.readTile(t.mvt_bytes)
      assert(layers.head.name === "hulls")
      layers.head.features.foreach { f =>
        assert(f.geomType === MvtEncoder.GeomPolygon)
        seen += f.id - 1 // feature id = geom_id + 1
      }
    }
    // every cluster's hull lands in at least one tile at some zoom
    val clusterIds = hulls.select("cluster_id").collect()
      .map(_.getLong(0)).toSet
    assert(seen.toSet === clusterIds)
  }

  test("clipping: a polygon bigger than the tile fills the whole tile") {
    // europe region rect at z4 — interior tiles are fully covered
    val tiles = graft.operators.PolyTiler
      .buildPolygonTiles(spark, Seq(5), registry = graft.sources.PolyRegistry.Admin)
      .collect()
    // interior tile of europe rect (lon -12..32, lat 35..62): pick (10, 50)
    val tx = WebMercator.tileX(10.0, 5); val ty = WebMercator.tileY(50.0, 5)
    val t = tiles.find(t => t.zoom == 5 && t.x == tx && t.y == ty)
    assert(t.isDefined)
    val feats = MvtReader.readTile(t.get.mvt_bytes).head.features
    assert(feats.nonEmpty)
  }
}

class RasterSpec extends AnyFunSuite {
  import SharedSpark._

  test("rasterize conserves point count and pixel indices are in range") {
    import spark.implicits._
    val pts = (0 until 1000).map { i =>
      (graft.core.Rng.uniform(61L, i.toLong, 1L) * 360.0 - 180.0,
        graft.core.Rng.uniform(61L, i.toLong, 2L) * 160.0 - 80.0)
    }.toDF("lon", "lat")
    val r = graft.operators.Raster.rasterize(pts, zoom = 3, gridSize = 64)
    assert(r.agg(sum("n")).head.getLong(0) === 1000L)
    val bad = r.filter(col("px") < 0 || col("px") > 63 || col("py") < 0 || col("py") > 63)
    assert(bad.count() === 0)
  }

  test("vectorize emits closed WKT hexagons containing their cells' points") {
    import spark.implicits._
    val pts = Seq((2.35, 48.85), (2.36, 48.86), (100.0, 13.7)).toDF("lon", "lat")
    val v = graft.operators.Raster.vectorize(
      graft.operators.Raster.cellCounts(pts, res = 4)).collect()
    assert(v.length === 2) // paris pair shares a cell at res 4
    v.foreach { row =>
      val wkt = row.getAs[String]("wkt")
      assert(wkt.startsWith("POLYGON ((") && wkt.endsWith("))"))
      val coords = wkt.stripPrefix("POLYGON ((").stripSuffix("))").split(", ")
      assert(coords.length === 7)
      assert(coords.head === coords.last)
    }
  }
}

class MultimodalSpec extends AnyFunSuite {
  import SharedSpark._

  test("binary decode plumbing: deterministic, batched, resize/frame plans consistent") {
    val media = graft.operators.Multimodal.synthMedia(spark, 500)
    val dec = graft.operators.Multimodal.decode(media).toDF().cache()
    assert(dec.count() === 500)
    // deterministic across runs
    val sig1 = dec.agg(sum(col("width") + col("height") * 7)).head.getLong(0)
    val dec2 = graft.operators.Multimodal.decode(
      graft.operators.Multimodal.synthMedia(spark, 500)).toDF()
    assert(sig1 === dec2.agg(sum(col("width") + col("height") * 7)).head.getLong(0))
    val planned = graft.operators.Multimodal.withFrameSample(
      graft.operators.Multimodal.withResizePlan(dec, 512), 10, 16)
    // resize bound respected, aspect ratio preserved within rounding
    val badResize = planned.filter(col("out_width") > 512 || col("out_height") > 512)
    assert(badResize.count() === 0)
    // only videos have multiple sampled frames
    val badFrames = planned
      .filter(col("kind") =!= "video" && size(col("sampled_frames")) > 1)
    assert(badFrames.count() === 0)
    assert(planned.filter(col("kind") === "video")
      .filter(size(col("sampled_frames")) > 1).count() > 0)
    dec.unpersist()
  }
}

class EventStreamSpec extends AnyFunSuite {
  import SharedSpark._

  test("streaming windowed counts equal the batch result (memory sink)") {
    import spark.implicits._
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
    val expected = graft.streaming.EventStream.windowedCounts(batch)
      .collect().map(_.toString).sorted.toSeq

    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (java.sql.Timestamp, String, Double)]
    val streamDf = input.toDF().toDF("ts", "event_type", "value")
    val q = graft.streaming.EventStream.windowedCounts(streamDf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("winagg").start()
    val rows = batch
      .select(col("ts").cast("timestamp"), col("event_type"), col("value"))
      .as[(java.sql.Timestamp, String, Double)].collect()
    input.addData(rows.toSeq)
    q.processAllAvailable()
    val got = spark.table("winagg").collect().map(_.toString).sorted.toSeq
    q.stop()
    assert(got === expected)
  }

  test("stateful sessionization counts events per open session") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1000L), (1L, 2000L), (1L, 500000L), // user 1: gap closes session
      (2L, 10L)).toDS()
    val out = graft.streaming.EventStream.sessionize(ev, gapUs = 100000L)
      .collect().map(s => s.user_id -> s).toMap
    assert(out(1L).n_events === 1) // last session restarted after the gap
    assert(out(2L).n_events === 1)
  }
}

class HotCellAlertSpec extends AnyFunSuite {
  import SharedSpark._

  test("hot-cell alerts fire exactly once per crossing cell; streamed set equals batch set") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pages = graft.sources.SynthPages.pagesDF(spark, 400)
    val minCount = 5L
    // ground truth: cells whose TOTAL mention count reaches minCount
    val totals = pages
      .select(explode(graft.functions.geoparse.geoparse_mentions(col("text"))).as("m"))
      .select(graft.functions.geo.hex_cell(col("m.lon"), col("m.lat"), lit(4)).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
    val wantCells = totals.filter(col("n") >= minCount)
      .select("cell").as[Long].collect().toSet
    assert(wantCells.nonEmpty &&
      wantCells.size < totals.count()) // both hot and cold cells exist
    // batch mode: one pass, same definition
    val batchGot = graft.streaming.EventStream
      .hotCellAlerts(pages, res = 4, minCount = minCount)
      .collect().map(_.cell).toSet
    assert(batchGot === wantCells)

    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, java.sql.Timestamp, String)]
    val streamDf = input.toDF().toDF("url", "warc_ts", "text")
    val q = graft.streaming.EventStream
      .hotCellAlerts(streamDf, res = 4, minCount = minCount)
      .writeStream.outputMode("append")
      .format("memory").queryName("hotcells").start()
    val rows = pages.select(col("url"), col("warc_ts"), col("text"))
      .as[(String, java.sql.Timestamp, String)].collect()
    // three micro-batches: a cell crossing in batch 1 must NOT re-fire
    // when batches 2 and 3 add more mentions to it
    val thirds = rows.grouped((rows.length + 2) / 3).toSeq
    thirds.foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    val alerts = spark.table("hotcells").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    assert(alerts.map(_._1).toSet === wantCells)
    assert(alerts.length === wantCells.size, "an alert re-fired")
    alerts.foreach { case (_, n) => assert(n >= minCount) }
  }
}

class TilerStreamSpec extends AnyFunSuite {
  import SharedSpark._

  test("streaming tile counts equal the batch result over the same pages") {
    import spark.implicits._
    val pages = graft.sources.SynthPages.pagesDF(spark, 400)
    val expected = graft.streaming.EventStream.tileCounts(pages)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty) // synthetic pages must yield geo mentions

    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, java.sql.Timestamp, String)]
    val streamDf = input.toDF().toDF("url", "warc_ts", "text")
    val q = graft.streaming.EventStream.tileCounts(streamDf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("tilestream").start()
    val rows = pages.select(col("url"), col("warc_ts"), col("text"))
      .as[(String, java.sql.Timestamp, String)].collect()
    // two micro-batches: parity must hold across incremental ingest
    val (b1, b2) = rows.splitAt(rows.length / 2)
    input.addData(b1.toSeq); q.processAllAvailable()
    input.addData(b2.toSeq); q.processAllAvailable()
    val got = spark.table("tilestream").collect().map(_.toString).sorted.toSeq
    q.stop()
    assert(got === expected)
  }
}

class GeodesicSpec extends AnyFunSuite {
  import SharedSpark._
  import graft.core.GeoKernels

  test("haversineM: known distances and symmetry") {
    // London (-0.1276, 51.5072) <-> Paris (2.3522, 48.8566): ~343.5 km
    val lp = GeoKernels.haversineM(-0.1276, 51.5072, 2.3522, 48.8566)
    assert(math.abs(lp - 343.5e3) < 1.5e3, s"london-paris $lp")
    assert(GeoKernels.haversineM(10, 20, 10, 20) === 0.0)
    assert(GeoKernels.haversineM(-0.1276, 51.5072, 2.3522, 48.8566) ===
      GeoKernels.haversineM(2.3522, 48.8566, -0.1276, 51.5072))
    // antipodal ~ half circumference
    val anti = GeoKernels.haversineM(0, 0, 180, 0)
    assert(math.abs(anti - math.Pi * GeoKernels.EarthRadiusM) < 1.0)
  }

  test("nearest_ref expression: argmin parity with brute force, zero-shuffle plan") {
    import spark.implicits._
    val refs = Array(Array(0.0, -0.1276, 51.5072), Array(1.0, 2.3522, 48.8566),
      Array(2.0, -74.006, 40.7128), Array(3.0, 139.6917, 35.6895))
    val pts = (0 until 500).map { i =>
      (i.toLong, graft.core.Rng.uniform(9L, i, 1L) * 360 - 180,
        graft.core.Rng.uniform(9L, i, 2L) * 170 - 85)
    }
    val df = pts.toDF("id", "lon", "lat")
      .withColumn("nr", graft.functions.geodesic.nearest_ref(col("lon"), col("lat"), refs))
      .select(col("id"), col("nr").getItem(0).cast("long").as("ref_id"),
        col("nr").getItem(1).as("dist_m"))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
    val got = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    pts.foreach { case (id, lon, lat) =>
      val expect = refs.map(r => (r(0).toLong,
        GeoKernels.haversineM(lon, lat, r(1), r(2)))).minBy(t => (t._2, t._1))
      assert(got(id) === expect, s"pt $id")
    }
  }
}

class StreamDedupSpec extends AnyFunSuite {
  import SharedSpark._

  test("streaming dedup keeps one row per fingerprint; batch mode agrees on the fp set") {
    import spark.implicits._
    val pages = graft.sources.SynthPages.pagesDF(spark, 600) // generator injects dups
    val batchFps = graft.streaming.EventStream.dedupStream(pages)
      .select("fp").collect().map(_.getLong(0)).sorted.toSeq
    val distinctFps = pages
      .select(graft.functions.text.fingerprint64(col("text")).as("fp"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(batchFps === distinctFps)
    assert(batchFps.length < 600, "generator must emit duplicate texts")

    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, java.sql.Timestamp, String)]
    // watermark spans the whole corpus: within the delay the stream must
    // agree exactly with batch distinct (state eviction semantics are
    // pinned separately below)
    val q = graft.streaming.EventStream.dedupStream(
        input.toDF().toDF("url", "warc_ts", "text"), watermark = "3650 days")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedupstream").start()
    // micro-batches arrive in event-time order (live ingest); rows behind
    // the watermark would be dropped as late data by design
    val rows = pages.select(col("url"), col("warc_ts"), col("text"))
      .as[(String, java.sql.Timestamp, String)].collect()
      .sortBy(_._2.getTime)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    input.addData(b1.toSeq); q.processAllAvailable()
    input.addData(b2.toSeq); q.processAllAvailable()
    val got = spark.table("dedupstream").select("fp")
      .collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(got === distinctFps) // dedup holds ACROSS micro-batches
  }

  test("streaming dedup state is watermark-bounded: a dup past the delay is re-admitted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int) = new java.sql.Timestamp(h * 3600L * 1000L)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, java.sql.Timestamp, String)]
    val q = graft.streaming.EventStream.dedupStream(
        input.toDF().toDF("url", "warc_ts", "text"), watermark = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedupevict").start()
    // same text twice inside the delay → dedup'd; an unrelated row 50h
    // later advances the watermark past the key's expiry (watermark only
    // moves at batch boundaries, so eviction needs this intermediate
    // batch); the same text again after that → re-admitted because its
    // state was evicted. This bounded-state trade (vs unbounded
    // dropDuplicates state at 100 TB) is the operator's documented
    // contract; the standing-fp-table batch dedup (q64) covers re-crawls
    // beyond the watermark.
    input.addData(Seq(("u1", ts(1000), "same text"),
      ("u2", new java.sql.Timestamp(1000L * 3600000L + 600000L), "same text")))
    q.processAllAvailable()
    input.addData(Seq(("adv", ts(1050), "other text")))
    q.processAllAvailable()
    input.addData(Seq(("u3", ts(1051), "same text")))
    q.processAllAvailable()
    val urls = spark.table("dedupevict").select("url")
      .collect().map(_.getString(0)).sorted.toSeq
    q.stop()
    assert(urls === Seq("adv", "u1", "u3"))
  }
}

class AdmitNovelSpec extends AnyFunSuite {
  import SharedSpark._

  test("streaming crawl admission == batch: anti-join vs corpus fps + quality gate") {
    import spark.implicits._
    val pages = graft.sources.SynthPages.pagesDF(spark, 400)
    // standing corpus = the first 100 crawl docs' fingerprints (synth
    // pages are pure in id, so these contents recur inside the 400)
    val corpus = graft.sources.SynthPages.pagesDF(spark, 100)
      .select(graft.functions.text.fingerprint64(col("text")).as("text_fp"))
      .distinct()
    val batch = graft.streaming.EventStream.admitNovel(pages, corpus, minWords = 3)
    val batchFps = batch.select("fp").collect().map(_.getLong(0)).sorted.toSeq
    assert(batchFps.nonEmpty && batchFps.length < 400)
    // nothing admitted is in the corpus
    val corpusSet = corpus.collect().map(_.getLong(0)).toSet
    assert(batchFps.forall(f => !corpusSet.contains(f)))

    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, java.sql.Timestamp, String)]
    val q = graft.streaming.EventStream.admitNovel(
        input.toDF().toDF("url", "warc_ts", "text"), corpus,
        minWords = 3, watermark = "3650 days")
      .writeStream.outputMode("append")
      .format("memory").queryName("admitstream").start()
    val rows = pages.select(col("url"), col("warc_ts"), col("text"))
      .as[(String, java.sql.Timestamp, String)].collect()
      .sortBy(_._2.getTime)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    input.addData(b1.toSeq); q.processAllAvailable()
    input.addData(b2.toSeq); q.processAllAvailable()
    val got = spark.table("admitstream").select("fp")
      .collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    // same admitted CONTENT set (keeper urls may differ: batch keeps the
    // min url per fp, a stream keeps the first arrival)
    assert(got === batchFps)
  }
}

class StatelessStreamSpec extends AnyFunSuite {
  import SharedSpark._

  test("quality gate + bbox filter compose onto a stream unchanged (append mode)") {
    import spark.implicits._
    import graft.operators.{SpatialFilter, TextAnalysis}
    val bbox = SpatialFilter.Bbox(-90, -45, 90, 45)
    def pipeline(df: org.apache.spark.sql.DataFrame) = {
      val inBox = SpatialFilter.bboxFilter(df, "lon", "lat", bbox)
      TextAnalysis.gopherFilters(inBox, "text", "doc_id", minWords = 3)
        .filter(col("flag_stopwords") && col("flag_repetition"))
    }
    val docs = (0 until 300).map { i =>
      val lon = (i * 37) % 360 - 180.0
      val lat = (i * 23) % 170 - 85.0
      val text = if (i % 3 == 0) "the quick fox is here with friends today"
      else if (i % 3 == 1) "spam spam spam spam"
      else "one two"
      (i.toLong, text, lon, lat)
    }
    val batchDf = docs.toDF("doc_id", "text", "lon", "lat")
    val expected = pipeline(batchDf).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(expected.nonEmpty && expected.length < 300)

    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String, Double, Double)]
    val q = pipeline(input.toDF().toDF("doc_id", "text", "lon", "lat"))
      .writeStream.outputMode("append")
      .format("memory").queryName("gatestream").start()
    val (b1, b2) = docs.splitAt(docs.length / 3)
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val got = spark.table("gatestream").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(got === expected)
  }
}

class StreamHotspotSpec extends AnyFunSuite {
  import SharedSpark._

  test("foreachBatch hotspot refresh over streaming tile counts matches batch") {
    import spark.implicits._
    val pages = graft.sources.SynthPages.pagesDF(spark, 500)
    val mask = (1L << 29) - 1
    def withXY(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("x", shiftrightunsigned(col("tile_id"), 29).bitwiseAND(mask))
      .withColumn("y", col("tile_id").bitwiseAND(mask))
      .groupBy("x", "y").agg(sum("n_mentions").as("n"))
    // batch reference: tile counts → hotspot scores
    val batchCounts = withXY(graft.streaming.EventStream.tileCounts(pages))
    val expected = graft.operators.CellSmooth
      .gridHotspot(batchCounts, "x", "y", "n")
      .select("x", "y", "z").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(expected.nonEmpty)

    // streaming: complete-mode tile counts; each batch refreshes the
    // hotspot table from the full aggregate state (the standard
    // foreachBatch pattern for analytics that need global stats)
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (String, java.sql.Timestamp, String)]
    @volatile var latest: Map[(Long, Long), Double] = Map.empty
    val q = graft.streaming.EventStream
      .tileCounts(input.toDF().toDF("url", "warc_ts", "text"))
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        latest = graft.operators.CellSmooth
          .gridHotspot(withXY(batch.toDF()), "x", "y", "n")
          .select("x", "y", "z").collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      }
      .start()
    val rows = pages.select(col("url"), col("warc_ts"), col("text"))
      .as[(String, java.sql.Timestamp, String)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    input.addData(b1.toSeq); q.processAllAvailable()
    input.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    assert(latest === expected)
  }
}

class StreamEnrichSpec extends AnyFunSuite {
  import SharedSpark._

  test("zonal stats: exact parity with per-point containment brute force") {
    import spark.implicits._
    import graft.sources.PolyRegistry
    val pts = (0L until 400L).map { i =>
      val lon = (i * 17.000170000017) % 360.0 - 180.0
      val lat = (i * 7.000070000007) % 170.0 - 85.0
      (i, lon, lat, i % 97)
    }
    val got = graft.operators.SpatialJoin.zonalStats(
        pts.toDF("doc_id", "lon", "lat", "v"), "v",
        registry = PolyRegistry.OracleTri)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val want = pts
      .flatMap { case (_, lon, lat, v) =>
        PolyRegistry.polys(PolyRegistry.OracleTri)
          .filter(p => PolyRegistry.contains(
            PolyRegistry.OracleTri, p.adminId, lon, lat))
          .map(p => p.adminId -> v)
      }
      .groupBy(_._1).map { case (k, vs) =>
        val n = vs.size.toLong
        val s = vs.map(_._2).sum
        val m = BigDecimal(s.toDouble / n.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        k -> ((n, s, m))
      }
    assert(got === want)
    assert(got.nonEmpty && got.values.map(_._1).sum > 0L)
  }

  test("stream-static PIP enrichment equals batch (broadcast R-tree on a stream)") {
    import spark.implicits._
    // deterministic points, some inside admin polygons
    val pts = (0 until 400).map { i =>
      val lon = ((i * 2654435761L) % 3600).toDouble / 10.0 - 180.0
      val lat = ((i * 40503L) % 1700).toDouble / 10.0 - 85.0
      (i.toLong, lon, lat)
    }
    val batch = graft.operators.SpatialJoin
      .pipJoinRtree(pts.toDF("id", "lon", "lat"))
      .select("id", "admin_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(batch.nonEmpty)

    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, Double, Double)]
    val q = graft.operators.SpatialJoin
      .pipJoinRtree(input.toDF().toDF("id", "lon", "lat"))
      .select("id", "admin_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("pipstream").start()
    val (b1, b2) = pts.splitAt(pts.length / 2)
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    val got = spark.table("pipstream")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    q.stop()
    assert(got === batch)
  }
}

class CrossModalSpec extends AnyFunSuite {
  import SharedSpark._

  test("decode features → PCA → ANN compose into a media-similarity pipeline") {
    import org.apache.spark.sql.functions._
    val media = graft.operators.Multimodal.synthMedia(spark, 400)
    val feats = graft.operators.Multimodal.decode(media).toDF()
      .select(col("media_id").as("vec_id"),
        transform(col("features"), f => f).as("embedding"))
    val m = graft.operators.Similarity.pcaTrain(feats, k = 8)
    val reduced = feats.select(col("vec_id"),
      graft.functions.vec.pca_project(col("embedding"), m.mean, m.basis)
        .as("embedding"))
    val qs = reduced.filter(pmod(col("vec_id"), lit(40)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val topk = graft.operators.Similarity.bruteForceTopK(qs, reduced, k = 5)
    val counts = topk.groupBy("q_id").count().collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(1) === 5L))
    // self-similarity: each query's own vector ranks first
    val self = topk.filter(col("rank") === 1)
      .filter(col("q_id") === col("vec_id")).count()
    assert(self === counts.length.toLong)
  }
}

class GeohashSpec extends AnyFunSuite {
  import SharedSpark._
  import graft.core.Geohash

  test("known geohash vectors (public reference values)") {
    // canonical examples from the public geohash documentation
    assert(Geohash.encode(-5.6, 42.6, 5) === "ezs42")
    assert(Geohash.encode(10.40744, 57.64911, 11) === "u4pruydqqvj")
  }

  test("round-trip: every encoded point lies inside its decoded bbox; prefix = parent") {
    (0 until 500).foreach { i =>
      val lon = graft.core.Rng.uniform(31L, i, 1L) * 360.0 - 180.0
      val lat = graft.core.Rng.uniform(31L, i, 2L) * 180.0 - 90.0
      val gh9 = Geohash.encode(lon, lat, 9)
      val (lo, la, hi, ha) = Geohash.decodeBbox(gh9)
      assert(lon >= lo && lon < hi && lat >= la && lat < ha, s"($lon,$lat) vs $gh9")
      // prefix property: truncation is the containing coarser cell
      (1 until 9).foreach { p =>
        assert(Geohash.encode(lon, lat, p) === gh9.take(p))
      }
    }
  }

  test("geohash expression stays codegen'd; distinct cells partition the points") {
    import spark.implicits._
    val pts = spark.range(0, 2000, 1, 4).toDF("id")
      .withColumn("lon", pmod(col("id") * 17.17, lit(360.0)) - 180.0)
      .withColumn("lat", pmod(col("id") * 7.07, lit(180.0)) - 90.0)
    val enc = pts.select(col("id"),
      graft.functions.geo.geohash(col("lon"), col("lat"), lit(4)).as("gh"))
    assert(enc.queryExecution.executedPlan.toString.contains("*(1)"))
    // every row gets exactly one cell; coarser grouping only merges cells
    assert(enc.count() === 2000)
    val fine = enc.select(substring(col("gh"), 1, 2).as("p")).distinct().count()
    val coarse = pts.select(graft.functions.geo.geohash(col("lon"), col("lat"), lit(2)).as("p"))
      .distinct().count()
    assert(fine === coarse) // prefix-2 of precision-4 == precision-2 encode
  }
}

class KAnonymitySpec extends AnyFunSuite {
  import SharedSpark._

  test("no output row sits in a cell with fewer than k peers; suppression is complete") {
    import spark.implicits._
    // 10 points clustered in one cell + 5 scattered singletons
    val pts = ((0 until 10).map(i => (i.toLong, 2.30 + i * 0.001, 48.85)) ++
      Seq((10L, 100.0, 10.0), (11L, -100.0, -10.0), (12L, 50.0, 50.0),
        (13L, -50.0, -50.0), (14L, 170.0, 70.0)))
      .toDF("id", "lon", "lat")
    val out = graft.operators.SpatialJoin.kAnonymizeCells(pts,
      graft.functions.geo.hex_cell(col("lon"), col("lat"), lit(5)), k = 3)
    val rows = out.select("id", "cell_n").collect()
    assert(rows.length === 10) // only the cluster survives
    assert(rows.forall(_.getLong(1) >= 3))
    assert(rows.map(_.getLong(0)).toSet === (0L until 10L).toSet)
  }
}
