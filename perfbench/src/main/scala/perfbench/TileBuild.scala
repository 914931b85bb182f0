package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{GeoPipeline, Tiler}

/** tile-build: the BASELINE headline. A stored table of seeded pages runs
  * through GeoPipeline.pagesToFeatures and Tiler.buildTiles at zooms 4, 8
  * and 12; one pass is one build, consumed by an order-free hash of every
  * tile column (so encoding cannot be pruned away).
  */
object TileBuild extends Workload {
  val name = "tile-build"
  val Pages = 50000L
  val WarmPages = 5000L
  val Zooms: Seq[Int] = Seq(4, 8, 12)
  val Cap = 4096

  def pagesPath(ctx: Ctx) = s"${ctx.work}/tile-build/pages"
  private def warmPath(ctx: Ctx) = s"${ctx.work}/tile-build/warm-pages"

  def setup(ctx: Ctx): Unit = {
    Inputs.writePages(ctx.spark, ctx.seed, 0L, Pages, pagesPath(ctx))
    Inputs.writePages(ctx.spark, ctx.seed, Pages, Pages + WarmPages, warmPath(ctx))
  }

  def features(ctx: Ctx, pages: DataFrame): DataFrame =
    ctx.span("operators.pages_to_features") {
      GeoPipeline.pagesToFeatures(ctx.spark, pages).filter(col("lat").isNotNull)
    }

  /** Per zoom: (tiles, Σ n_features, digest of the tile rows). */
  def build(ctx: Ctx, path: String): Map[Int, (Long, Long, OrderFreeHash.Digest)] = {
    val pages = ctx.span("sources.read_pages")(ctx.spark.read.parquet(path))
    val tiles = ctx.span("operators.build_tiles") {
      Tiler.buildTiles(features(ctx, pages), Zooms, Cap).toDF()
    }
    ctx.span("spark.execute") {
      OrderFreeHash.byKey(tiles, "zoom", sum(col("n_features")).cast("long"))
        .map { case (k, (extra, d)) => k.toString.toInt -> (d.count, extra, d) }
    }
  }

  /** Passes keep getting faster while the JIT compiles the pipeline; two
    * untimed builds of the full table bring them to a steady speed. The
    * small build first doubles as the capped-count check: per zoom,
    * Σ n_features must equal Σ min(features in tile, cap), counted
    * independently of the encoder.
    */
  def warmUp(ctx: Ctx): Unit = {
    val built = build(ctx, warmPath(ctx))
    val feats = features(ctx, ctx.spark.read.parquet(warmPath(ctx)))
    val expect = Tiler.assignTiles(feats, Zooms)
      .groupBy("zoom", "tile_id").count()
      .groupBy("zoom").agg(sum(least(col("count"), lit(Cap.toLong))).cast("long"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Zooms.foreach { zoom =>
      val got = built.get(zoom).map(_._2)
      ctx.check(s"tile-build.features_capped.z$zoom", got.isDefined && got == expect.get(zoom),
        s"sum n_features=$got, expected ${expect.get(zoom)}")
    }
    (1 to 2).foreach(_ => build(ctx, pagesPath(ctx)))
  }

  private var firstDigests: Option[Map[Int, (Long, Long, OrderFreeHash.Digest)]] = None

  def pass(ctx: Ctx, i: Int): Pass = ctx.pass("tile_build.pass") {
    ctx.op("tile_build.build")(build(ctx, pagesPath(ctx))) match {
      case Some(z) =>
        firstDigests match {
          case None => firstDigests = Some(z)
          case Some(f) => ctx.check("tile-build.repeatable", f == z,
            s"pass $i digests differ from the first pass")
        }
        Map("tiles" -> z.values.map(_._1).sum.toDouble)
      case None => Map("tiles" -> 0.0)
    }
  }

  def finalChecks(ctx: Ctx): Unit = firstDigests.foreach { z =>
    Zooms.foreach { zoom =>
      ctx.golden(s"tiles.z$zoom", z.get(zoom).map(_._1).getOrElse(-1L))
      ctx.golden(s"features.z$zoom", z.get(zoom).map(_._2).getOrElse(-1L))
      ctx.golden(s"digest.z$zoom", z.get(zoom).map(_._3).getOrElse("missing"))
    }
    ctx.golden("tiles", z.values.map(_._1).sum)
  }

  def details(passes: Seq[Pass]): Seq[(String, Double, String)] = {
    val tiles = passes.head.values("tiles")
    Seq(
      ("tiles_per_s", tiles / Stats.median(passes.map(_.wallS)), "1/s"),
      ("tiles_per_cpu_s", tiles / Stats.median(passes.map(_.cpuS)), "1/s"))
  }

  def profileData(ctx: Ctx): ProfileData = ProfileData(pagesPath(ctx), Pages)
}
