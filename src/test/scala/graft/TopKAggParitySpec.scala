package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.core.{Rng, WebMercator}

/** The typed, kryo-buffered top-cap aggregators and the groupByKey tiler
  * paths that [[TopKTileAgg]] replaced, kept verbatim as the reference
  * the native aggregate must reproduce byte for byte.
  */
object TopKAggReference {
  class TopKFeatures(cap: Int)
      extends Aggregator[Feat, TopKBuf, Array[Feat]] {
    override def zero: TopKBuf = new TopKBuf(cap)
    override def reduce(b: TopKBuf, a: Feat): TopKBuf = {
      b.offer(a.fkey, a.lon, a.lat, a.kind, a.name); b
    }
    override def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf = b1.mergeFrom(b2)
    override def finish(b: TopKBuf): Array[Feat] = b.toSorted
    override def bufferEncoder: Encoder[TopKBuf] = Encoders.kryo[TopKBuf]
    override def outputEncoder: Encoder[Array[Feat]] = Encoders.kryo[Array[Feat]]
  }

  class TopKTileEncode(cap: Int, layerName: String)
      extends Aggregator[(Long, Feat), TopKBuf, TileRow] {
    override def zero: TopKBuf = new TopKBuf(cap)
    override def reduce(b: TopKBuf, a: (Long, Feat)): TopKBuf = {
      b.tileId = a._1
      b.offer(a._2.fkey, a._2.lon, a._2.lat, a._2.kind, a._2.name); b
    }
    override def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf = {
      if (b1.tileId == Long.MinValue) b1.tileId = b2.tileId
      b1.mergeFrom(b2)
    }
    override def finish(b: TopKBuf): TileRow =
      Tiler.encodeOne(b.tileId, b.toSorted, layerName)
    override def bufferEncoder: Encoder[TopKBuf] = Encoders.kryo[TopKBuf]
    override def outputEncoder: Encoder[TileRow] = Encoders.product[TileRow]
  }

  class TopKTileEncodeF(cap: Int, layerName: String)
      extends Aggregator[(Long, Feat), TopKBuf, TileRowF] {
    override def zero: TopKBuf = new TopKBuf(cap)
    override def reduce(b: TopKBuf, a: (Long, Feat)): TopKBuf = {
      b.tileId = a._1
      b.offer(a._2.fkey, a._2.lon, a._2.lat, a._2.kind, a._2.name); b
    }
    override def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf = {
      if (b1.tileId == Long.MinValue) b1.tileId = b2.tileId
      b1.mergeFrom(b2)
    }
    override def finish(b: TopKBuf): TileRowF = {
      val fs = b.toSorted
      val t = Tiler.encodeOne(b.tileId, fs, layerName)
      TileRowF(t.zoom, t.x, t.y, t.n_features, t.mvt_bytes, fs)
    }
    override def bufferEncoder: Encoder[TopKBuf] = Encoders.kryo[TopKBuf]
    override def outputEncoder: Encoder[TileRowF] = Encoders.product[TileRowF]
  }

  def encodeTiles(zoomed: DataFrame, cap: Int = 4096,
                  layerName: String = "features"): Dataset[TileRow] = {
    val spark = zoomed.sparkSession
    import spark.implicits._

    val proj = zoomed.select(
        col("tile_id"), col("fkey"), col("lon"), col("lat"),
        col("kind"), col("name"))
      .as[(Long, Long, Double, Double, String, String)]

    val enc = new TopKTileEncode(cap, layerName).toColumn
    proj.groupByKey(_._1)
      .mapValues(r => (r._1, Feat(r._2, r._3, r._4, r._5, r._6)))
      .agg(enc)
      .toDF("__tid", "tile")
      .select("tile.*")
      .as[TileRow]
  }

  private def encodeBuffered(buffered: Dataset[(Long, Array[Feat])],
                             layerName: String): Dataset[TileRow] = {
    import buffered.sparkSession.implicits._
    buffered.map { case (tileId, feats) => Tiler.encodeOne(tileId, feats, layerName) }
  }

  def buildTilesPyramid(features: DataFrame, zooms: Seq[Int],
                        cap: Int = 4096,
                        layerName: String = "features"): Dataset[TileRow] = {
    val spark = features.sparkSession
    import spark.implicits._
    val zs = zooms.distinct.sorted
    val finest = zs.max
    val proj = Tiler.assignTiles(features, Seq(finest)).select(
        col("tile_id"), col("fkey"), col("lon"), col("lat"),
        col("kind"), col("name"))
      .as[(Long, Long, Double, Double, String, String)]
    val topk = new TopKFeatures(cap).toColumn
    val base = proj.groupByKey(_._1)
      .mapValues(r => Feat(r._2, r._3, r._4, r._5, r._6))
      .agg(topk)
      .localCheckpoint(true)
    val coarser = zs.init.map { z =>
      val dz = finest - z
      val rolled = base.flatMap { case (tid, feats) =>
        val pid = WebMercator.tileId(z,
          WebMercator.tileIdX(tid) >> dz, WebMercator.tileIdY(tid) >> dz)
        feats.iterator.map(f => (pid, f))
      }
      val enc = new TopKTileEncode(cap, layerName).toColumn
      rolled.groupByKey(_._1).agg(enc)
        .toDF("__tid", "tile")
        .select("tile.*")
        .as[TileRow]
    }
    coarser.foldLeft(encodeBuffered(base, layerName))(_ unionByName _)
  }

  def encodeTilesKeepFeatures(zoomed: DataFrame, cap: Int = 4096,
                              layerName: String = "features"): Dataset[TileRowF] = {
    val spark = zoomed.sparkSession
    import spark.implicits._
    val proj = zoomed.select(
        col("tile_id"), col("fkey"), col("lon"), col("lat"),
        col("kind"), col("name"))
      .as[(Long, Long, Double, Double, String, String)]
    val enc = new TopKTileEncodeF(cap, layerName).toColumn
    proj.groupByKey(_._1)
      .mapValues(r => (r._1, Feat(r._2, r._3, r._4, r._5, r._6)))
      .agg(enc)
      .toDF("__tid", "tile")
      .select("tile.*")
      .as[TileRowF]
  }

  def mergeTiles(tilesWithFeats: DataFrame, cap: Int = 4096,
                 layerName: String = "features"): Dataset[TileRowF] = {
    val spark = tilesWithFeats.sparkSession
    import spark.implicits._
    val feats = tilesWithFeats
      .select(col("tile_id"), explode(col("feats")).as("f"))
      .select(col("tile_id"), col("f.fkey"), col("f.lon"), col("f.lat"),
        col("f.kind"), col("f.name"))
      .as[(Long, Long, Double, Double, String, String)]
    val enc = new TopKTileEncodeF(cap, layerName).toColumn
    feats.groupByKey(_._1)
      .mapValues(r => (r._1, Feat(r._2, r._3, r._4, r._5, r._6)))
      .agg(enc)
      .toDF("__tid", "tile")
      .select("tile.*")
      .as[TileRowF]
  }
}

/** [[TopKTileAgg]] against [[TopKAggReference]] on seeded skewed features:
  * every TileRow / TileRowF field byte-identical, `feats` in the same order
  * with the same double bits and the same null / "" strings, on the pure
  * hash aggregation and on the sort-based fallback (which serializes,
  * sorts and merges partial buffers).
  */
class TopKAggParitySpec extends AnyFunSuite {
  import SharedSpark._

  private val Cap = 16
  private val Fallback = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  private val Names = Array(null, "", "Zürich", "東京都", "𝔊𝔢𝔬 😀", "naïve café")

  /** (lon, lat, kind, name, fkey override) rows, spread over 3 partitions;
    * some kinds are null.
    * 60% fall in one hot tile. 40 hot rows share one (fkey, lon, lat) and
    * rank first, so the tie order decides which of them survive the cap;
    * four more tie on (fkey, ±0.0, lat).
    */
  private def features(seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val hot = Rng.uniform(seed, i, 1L) < 0.6
      val lon = if (hot) 2.30 + Rng.uniform(seed, i, 2L) * 0.05
                else Rng.uniform(seed, i, 3L) * 360.0 - 180.0
      val lat = if (hot) 48.80 + Rng.uniform(seed, i, 4L) * 0.05
                else Rng.uniform(seed, i, 5L) * 170.0 - 85.0
      val name = if (i % 3 == 0) Names(i / 3 % Names.length) else s"f$i"
      val kind = if (i % 11 == 0) null else if (i % 7 == 0) "city" else "point"
      (lon, lat, kind, name, Option.empty[Long])
    } ++ (0 until 40).map { k =>
      (2.31, 48.81, if (k % 4 == 0) null else "point",
        if (k % 5 == 0) Names(k / 5 % Names.length) else s"tie$k",
        Some(Long.MinValue + 1))
    } ++ Seq(-0.0, 0.0, 0.0, -0.0).zipWithIndex.map { case (lon, k) =>
      (lon, 10.0, "point", Names(k), Some(Long.MinValue + 2))
    }
    // interleave so the hot tile and the ties land in every partition
    val spread = rows.zipWithIndex.sortBy { case (_, i) => (i % 3, i) }.map(_._1)
    spark.sparkContext.parallelize(spread, 3).toDF("lon", "lat", "kind", "name", "tie")
  }

  private def zoomed(df: DataFrame): DataFrame =
    Tiler.assignTiles(df, Seq(2, 9))
      .withColumn("fkey", coalesce(col("tie"), col("fkey"))).drop("tie")

  private type Canon = (Int, Long, Long, Int, Seq[Byte], Seq[(Long, Long, Long, String, String)])

  private def canon(t: TileRow): Canon = (t.zoom, t.x, t.y, t.n_features, t.mvt_bytes.toSeq, Nil)

  private def canonF(t: TileRowF): Canon =
    (t.zoom, t.x, t.y, t.n_features, t.mvt_bytes.toSeq, t.feats.toSeq.map(f =>
      (f.fkey, java.lang.Double.doubleToRawLongBits(f.lon),
        java.lang.Double.doubleToRawLongBits(f.lat), f.kind, f.name)))

  private def sorted(ts: Seq[Canon]): Seq[Canon] = ts.sortBy(t => (t._1, t._2, t._3))

  private def assertSame(what: String, got: Seq[Canon], want: Seq[Canon]): Unit = {
    assert(got.nonEmpty, what)
    assert(got.map(t => (t._1, t._2, t._3)) === want.map(t => (t._1, t._2, t._3)), what)
    got.zip(want).foreach { case (g, w) => assert(g === w, s"$what tile ${(g._1, g._2, g._3)}") }
  }

  private def parity(mode: String): Unit = {
    val z = zoomed(features(51L, 3000))
    assertSame(s"$mode encodeTiles",
      sorted(Tiler.encodeTiles(z, Cap).collect().toSeq.map(canon)),
      sorted(TopKAggReference.encodeTiles(z, Cap).collect().toSeq.map(canon)))
    val kept = sorted(Tiler.encodeTilesKeepFeatures(z, Cap).collect().toSeq.map(canonF))
    assertSame(s"$mode encodeTilesKeepFeatures", kept,
      sorted(TopKAggReference.encodeTilesKeepFeatures(z, Cap).collect().toSeq.map(canonF)))
    // the tie tile is capped, and null, "", non-ASCII and ±0.0 survive it
    val fs = kept.flatMap(_._6)
    assert(kept.exists(_._4 == Cap))
    assert(fs.exists(_._5 == null) && fs.exists(_._5 == "") && fs.exists(_._5 == "𝔊𝔢𝔬 😀"))
    assert(fs.exists(_._4 == null) && fs.exists(f => f._4 == null && f._5 == null))
    assert(fs.map(_._2).toSet.contains(java.lang.Double.doubleToRawLongBits(-0.0)))
    // two half batches regrouped by tile_id, as a serving compaction does
    val halves = Seq(0, 1).map(h => Tiler.withStats(Tiler.encodeTilesKeepFeatures(
      z.filter(pmod(col("fkey"), lit(2L)) === h), Cap).toDF()))
    val both = halves(0).unionByName(halves(1))
    assertSame(s"$mode mergeTiles",
      sorted(Tiler.mergeTiles(both, Cap).collect().toSeq.map(canonF)),
      sorted(TopKAggReference.mergeTiles(both, Cap).collect().toSeq.map(canonF)))
    val df = features(52L, 1500).drop("tie")
    assertSame(s"$mode buildTilesPyramid",
      sorted(Tiler.buildTilesPyramid(df, Seq(2, 5, 9), Cap).collect().toSeq.map(canon)),
      sorted(TopKAggReference.buildTilesPyramid(df, Seq(2, 5, 9), Cap).collect().toSeq.map(canon)))
  }

  test("native top-cap aggregate matches the typed aggregators: hash path") {
    withConf(Fallback -> "1000000")(parity("hash"))
  }

  test("native top-cap aggregate matches the typed aggregators: sort-based fallback") {
    withConf(Fallback -> "1")(parity("sort"))
  }
}
