package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with session confs set, then restores the old values. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

class SynthPagesSpec extends AnyFunSuite {
  import SharedSpark._

  test("per-row invariant: extracted text is byte-identical to the text column") {
    import spark.implicits._
    val pages = graft.sources.SynthPages.pages(spark, 400)
    val bad = pages.map { p =>
      val re = TextExtract.extract(p.html)
      if (re == p.text) 0 else 1
    }.reduce(_ + _)
    assert(bad === 0)
  }

  test("generator is parallelism-invariant (counter-based RNG)") {
    import spark.implicits._
    def checksum(parts: Int): Seq[Long] = {
      spark.range(0, 300, 1, parts)
        .map(id => graft.sources.SynthPages.genPage(42L, id))
        .select(xxhash64(col("url"), col("text"), col("lang")).as("h"))
        .as[Long].collect().sorted.toSeq
    }
    assert(checksum(1) === checksum(7))
  }

  test("pages contain geo mentions and duplicates (injected signal present)") {
    import spark.implicits._
    val pages = graft.sources.SynthPages.pages(spark, 1000).cache()
    val nMentions = pages.map(p => Geoparse.parse(p.text).size.toLong).reduce(_ + _)
    assert(nMentions > 500, s"expected many mentions, got $nMentions")
    val nDups = pages.groupBy("text").count().filter(col("count") > 1).count()
    assert(nDups > 0, "expected exact duplicates")
    pages.unpersist()
  }
}

class GeoPipelineSpec extends AnyFunSuite {
  import SharedSpark._

  test("DataFrame mention extraction matches scalar Geoparse (multiset)") {
    import spark.implicits._
    val pages = graft.sources.SynthPages.pagesDF(spark, 300).cache()
    val dfMentions = graft.operators.GeoPipeline.pagesToMentions(pages)
      .select("url", "lat", "lon", "kind")
      .as[(String, Double, Double, String)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val scalarMentions = pages.select("url", "text").as[(String, String)].collect()
      .flatMap { case (url, text) =>
        Geoparse.parse(text).map(m => (url, m.lat, m.lon, m.kind))
      }
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(dfMentions === scalarMentions)
    pages.unpersist()
  }

  test("codegen'd cell exprs agree with the scalar kernels") {
    import spark.implicits._
    val pts = (0 until 500).map { i =>
      (Rng.uniform(31L, i.toLong, 1L) * 170.0 - 85.0,
        Rng.uniform(31L, i.toLong, 2L) * 360.0 - 180.0)
    }
    val df = pts.toDF("lat", "lon")
      .withColumn("s2", graft.functions.geo.s2_cell(col("lat"), col("lon"), lit(12)))
      .withColumn("hex", graft.functions.geo.hex_cell(col("lon"), col("lat"), lit(7)))
      .withColumn("tile", graft.functions.geo.tile_id(col("lon"), col("lat"), lit(11)))
    val rows = df.collect()
    rows.foreach { r =>
      val lat = r.getDouble(0); val lon = r.getDouble(1)
      assert(r.getLong(2) === S2.cellId(lat, lon, 12))
      assert(r.getLong(3) === HexGrid.cell(lon, lat, 7))
      assert(r.getLong(4) === WebMercator.tileId(11,
        WebMercator.tileX(lon, 11), WebMercator.tileY(lat, 11)))
    }
  }

  test("broadcast PIP join matches brute force exactly (join-row parity)") {
    import spark.implicits._
    import graft.sources.AdminPolygons
    val pts = (0 until 3000).map { i =>
      (i.toLong,
        Rng.uniform(33L, i.toLong, 1L) * 360.0 - 180.0,
        Rng.uniform(33L, i.toLong, 2L) * 170.0 - 85.0)
    }
    val df = pts.toDF("pid", "lon", "lat")
    val joined = graft.operators.SpatialJoin.pipJoinRtree(df, level = Some(2))
      .select("pid", "admin_id").as[(Long, Long)].collect().toSet
    val brute = pts.flatMap { case (pid, lon, lat) =>
      AdminPolygons.cityPolygons.filter(_.contains(lon, lat)).map(p => (pid, p.adminId))
    }.toSet
    assert(joined === brute)
  }

  test("null test: points far from every polygon join to nothing") {
    import spark.implicits._
    // mid-Pacific points
    val df = (0 until 50).map(i => (i.toLong, -150.0 + i * 0.1, -45.0 - i * 0.1))
      .toDF("pid", "lon", "lat")
    assert(graft.operators.SpatialJoin.pipJoinRtree(df, level = Some(2)).count() === 0)
  }

  test("injection-recovery: k points injected into a known cell are all recovered") {
    import spark.implicits._
    import graft.sources.AdminPolygons
    val target = AdminPolygons.cityPolygons.head // london octagon
    val (clon, clat) = (Gazetteer.entries(0)._3, Gazetteer.entries(0)._2)
    val k = 17
    val injected = (0 until k).map(i => (i.toLong, clon + i * 1e-4, clat + i * 1e-4))
    val df = injected.toDF("pid", "lon", "lat")
    val got = graft.operators.SpatialJoin.pipJoinRtree(df, level = Some(2))
      .filter(col("admin_id") === target.adminId).count()
    assert(got === k.toLong)
  }

  /** Left PIP tag vs brute force over 3,000 seeded points (odd ids
    * jittered around gazetteer cities so city octagons get hits and
    * overlaps) plus three null-coordinate rows: every (point, polygon)
    * hit exactly once with its name, every miss as exactly one
    * null-tagged row; the inner path drops the null-coordinate rows.
    */
  private def leftPipParity(registry: Int, level: Option[Int]): Unit = {
    import spark.implicits._
    import graft.sources.PolyRegistry
    import graft.operators.SpatialJoin
    val pts: Seq[(Long, Option[Double], Option[Double])] = (0 until 3000).map { i =>
      val (lon, lat) =
        if (i % 2 == 0)
          (Rng.uniform(35L, i.toLong, 1L) * 360.0 - 180.0,
            Rng.uniform(35L, i.toLong, 2L) * 170.0 - 85.0)
        else {
          val (_, clat, clon) = Gazetteer.entries(i % Gazetteer.entries.length)
          (clon + Rng.uniform(35L, i.toLong, 3L) * 8.0 - 4.0,
            clat + Rng.uniform(35L, i.toLong, 4L) * 8.0 - 4.0)
        }
      (i.toLong, Some(lon), Some(lat))
    } ++ Seq((3000L, None, Some(10.0)), (3001L, Some(10.0), None), (3002L, None, None))
    val df = pts.toDF("pid", "lon", "lat")
    val polys = PolyRegistry.polys(registry).filter(p => level.forall(_ == p.level))
    def hits(lon: Option[Double], lat: Option[Double]) = (lon, lat) match {
      case (Some(x), Some(y)) =>
        polys.filter(p => PolyRegistry.contains(registry, p.adminId, x, y))
      case _ => Seq.empty
    }
    val want: Seq[(Long, Option[Long], Option[String])] = pts.flatMap { case (pid, lon, lat) =>
      val hs = hits(lon, lat)
      if (hs.isEmpty) Seq((pid, None, None))
      else hs.map(p => (pid, Some(p.adminId), Some(p.name)))
    }.sorted
    val got = SpatialJoin.pipJoinLeftRtree(df, registry = registry, level = level)
      .select("pid", "admin_id", "admin_name")
      .as[(Long, Option[Long], Option[String])].collect().toSeq.sorted
    assert(got === want)
    assert(want.count(_._2.isDefined) > 100, "too few hits to mean anything")
    assert(want.count(_._2.isEmpty) > 100, "too few misses to mean anything")
    val inner = SpatialJoin.pipJoinRtree(df, registry = registry, level = level)
      .select("pid", "admin_id").as[(Long, Long)].collect().toSeq.sorted
    assert(inner === want.collect { case (pid, Some(id), _) => (pid, id) })
  }

  test("left PIP tag matches brute force: admin registry, level 2") {
    leftPipParity(graft.sources.PolyRegistry.Admin, Some(2))
  }

  test("left PIP tag matches brute force: oracle triangles") {
    leftPipParity(graft.sources.PolyRegistry.OracleTri, None)
  }

  test("flagship entry returns features") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }
}

class QueriesSpec extends AnyFunSuite {
  import SharedSpark._

  test("every query runs on sf0.001 and returns rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("every oracle key exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }
}

class WarcSpec extends AnyFunSuite {
  import SharedSpark._

  test("WARC-style records round-trip through the distributed text-split reader") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warc").toString
    val pages = graft.sources.SynthPages.pagesDF(spark, 60)
    // two files so the glob + multi-file path is exercised
    graft.sources.BinaryPages.writeWarcFile(
      pages.filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("url")),
        org.apache.spark.sql.functions.lit(2)) === 0), s"$dir/a.warc")
    graft.sources.BinaryPages.writeWarcFile(
      pages.filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("url")),
        org.apache.spark.sql.functions.lit(2)) === 1), s"$dir/b.warc")
    val back = graft.sources.BinaryPages.readWarcDir(spark, dir)
    assert(back.count() === 60)
    val got = back.select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val want = pages.select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.keySet === want.keySet)
    // extraction through the WARC path is byte-identical per url
    want.foreach { case (u, t) => assert(got(u) === t, s"url $u") }
  }
}
