package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.HexGrid
import graft.functions.geo
import graft.operators.{GeoPipeline, SpatialJoin, Tiler}
import graft.sources.{AdminPolygons, PolyRegistry}

/** The layer profile of a traced run, over the workload's own pages:
  * `core` kernels, the tile pipeline's stages timed one at a time, the
  * query sweep and a snapshot cycle (each of the last two only when the
  * workload's own traced pass does not already record it).
  */
object Profile {
  val KernelPages = 2000
  val PlanBatchPages = 5000L

  val Stages: Seq[String] = Seq("sources.scan", "functions.geoparse", "functions.cells",
    "operators.pip", "operators.tile_assign", "operators.tile_encode")

  def run(ctx: Ctx, w: Workload): Unit = {
    val d = w.profileData(ctx)
    kernels(ctx, d)
    stages(ctx, d)
    if (!w.tracedPassCovers("queries")) queries(ctx, d)
    if (!w.tracedPassCovers("plans")) plans(ctx, d)
  }

  def kernels(ctx: Ctx, d: ProfileData): Unit = {
    val in = new Kernels.KernelInputs(Inputs.samplePages(ctx.spark, d.pagesPath, KernelPages))
    Kernels.batches(in).foreach { case (name, ops, batch) =>
      ctx.span(s"core.$name") {
        val r = Kernels.measure(ops)(batch)
        ctx.tracer.annotate("ns_per_op", r.nsPerOp)
        ctx.tracer.annotate("alloc_b_per_op", r.allocPerOp)
      }
    }
  }

  /** Times `f` alone on an already materialised input through the noop
    * sink, then materialises its output for the next stage (untimed).
    */
  private def stage(ctx: Ctx, name: String, in: DataFrame, last: Boolean = false)
                   (f: DataFrame => DataFrame): DataFrame = {
    val out = f(in)
    ctx.span(name)(out.write.format("noop").mode("overwrite").save())
    val kept = if (last) out else out.persist(StorageLevel.MEMORY_AND_DISK)
    ctx.tracer.annotateLast(name, "rows_out", kept.count().toDouble)
    if (in != null) in.unpersist()
    kept
  }

  def stages(ctx: Ctx, d: ProfileData): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val pages = stage(ctx, "sources.scan", null)(_ =>
      spark.read.parquet(d.pagesPath).select("url", "text"))
    val mentions = stage(ctx, "functions.geoparse", pages)(GeoPipeline.pagesToMentions)
    val cells = stage(ctx, "functions.cells", mentions)(_
      .withColumn("s2_cell", geo.s2_cell(col("lat"), col("lon"), lit(16)))
      .withColumn("hex_cell", geo.hex_cell(col("lon"), col("lat"), lit(8)))
      .withColumn("tile_z12", geo.tile_id(col("lon"), col("lat"), lit(12))))
    // filter-and-refine ratio of the PIP cover: level-2 candidate polygons
    // in each point's cover cell against the polygons that contain it
    ctx.span("operators.pip.candidates") {
      val res = AdminPolygons.CoverRes
      val index = PolyRegistry.coverIndex(PolyRegistry.Admin, res)
      var cands = 0L
      var hits = 0L
      cells.select("lon", "lat").as[(Double, Double)].collect().foreach { case (lon, lat) =>
        val cell = HexGrid.cell(lon, lat, res)
        cands += index.getOrElse(cell, Array.empty[Long])
          .count(id => PolyRegistry.polyById(PolyRegistry.Admin, id).level == 2)
        hits += PolyRegistry.queryTree(PolyRegistry.Admin, res, 2, cell, lon, lat).length
      }
      ctx.tracer.annotate("candidates", cands.toDouble)
      ctx.tracer.annotate("hits", hits.toDouble)
      ctx.tracer.annotate("cand_per_hit", cands.toDouble / math.max(1L, hits))
    }
    val features = stage(ctx, "operators.pip", cells)(SpatialJoin.pipJoinLeftRtree(_, level = Some(2)))
    val assigned = stage(ctx, "operators.tile_assign", features)(df =>
      Tiler.assignTiles(df.filter(col("lat").isNotNull && col("lon").isNotNull),
        TileBuild.Zooms))
    val mark = ctx.probe.totals()("reduce_tasks").toInt
    stage(ctx, "operators.tile_encode", assigned, last = true)(Tiler.encodeTiles(_, TileBuild.Cap).toDF())
    // max ÷ median input rows over the encode's reduce tasks (the first
    // run of the stage, not the row count that follows it)
    val recs = ctx.probe.reduceRecordsFrom(mark).map(_.toDouble)
    if (recs.nonEmpty)
      ctx.tracer.annotateLast("operators.tile_encode", "skew_ratio", recs.max / Stats.median(recs))
  }

  def queries(ctx: Ctx, d: ProfileData): Unit = {
    val dir = s"${ctx.work}/profile/tables"
    Inputs.writeSweepTables(ctx.spark, d.pagesPath, OperatorSweep.Docs,
      math.min(OperatorSweep.Events, d.pages), dir)
    ctx.span("profile.queries")(OperatorSweep.sweep(ctx, dir, recordSchemas = false))
  }

  def plans(ctx: Ctx, d: ProfileData): Unit = {
    val pages = ctx.spark.read.parquet(d.pagesPath)
      .withColumn("__id", regexp_extract(col("url"), "(\\d+)$", 1).cast("long"))
    val batches = Seq(0L, 1L).map(b => pages
      .filter(col("__id") >= b * PlanBatchPages && col("__id") < (b + 1) * PlanBatchPages)
      .drop("__id"))
    ctx.span("profile.plans") {
      SnapshotServe.cycle(ctx, batches, reads = 4, root = s"${ctx.work}/profile/root",
        recordGoldens = false)
    }
  }
}
