package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftConfig
import graft.plans.Lineage

/** snapshot-serve: writes and reads on one tile table through the
  * `plans` layer. One pass (a cycle) on a fresh root commits disjoint
  * seeded page batches with resume on, re-runs an already committed
  * batch, compacts and range-clusters the snapshots, then makes seeded
  * random tile-range reads.
  */
object SnapshotServe extends Workload {
  val name = "snapshot-serve"
  val Batches = 4
  val BatchPages = 10000L
  val Reads = 16
  val WarmPages = 1000L
  private val cfg = GraftConfig()

  private def dir(ctx: Ctx) = s"${ctx.work}/snapshot-serve"
  private def batchPath(ctx: Ctx, b: Int) = s"${dir(ctx)}/batch-$b"
  private def warmPath(ctx: Ctx, b: Int) = s"${dir(ctx)}/warm-$b"

  def setup(ctx: Ctx): Unit = {
    (0 until Batches).foreach { b =>
      Inputs.writePages(ctx.spark, ctx.seed, b * BatchPages, (b + 1) * BatchPages,
        batchPath(ctx, b))
    }
    val w0 = Batches * BatchPages
    Seq(0, 1).foreach { b =>
      Inputs.writePages(ctx.spark, ctx.seed, w0 + b * WarmPages, w0 + (b + 1) * WarmPages,
        warmPath(ctx, b))
    }
  }

  def warmUp(ctx: Ctx): Unit =
    cycle(ctx, Seq(0, 1).map(b => ctx.spark.read.parquet(warmPath(ctx, b))),
      reads = 2, root = s"${dir(ctx)}/warm-root", recordGoldens = false)

  /** Pending tiles of `pages` (resume on) committed as one snapshot. */
  private def ingest(ctx: Ctx, pages: DataFrame, root: String,
                     note: String): Lineage.Snapshot = {
    val tiles = ctx.span("plans.pending") {
      if (ctx.tracer.enabled) {
        // rows before and after the resume anti-join (extra jobs, traced only)
        val zoomed = graft.operators.Tiler.assignTiles(
          graft.operators.GeoPipeline.pagesToFeatures(ctx.spark, pages,
            cfg.s2Level, cfg.hexRes)
            .filter(col("lat").isNotNull && col("lon").isNotNull), cfg.zooms)
        ctx.tracer.annotate("rows_in", zoomed.count().toDouble)
        ctx.tracer.annotate("rows_out", Lineage.pendingOnly(zoomed, root).count().toDouble)
      }
      graft.Main.tilesFor(ctx.spark, pages, cfg, resumeRoot = Some(root))
    }
    ctx.span("plans.commit") {
      val snap = Lineage.commit(tiles, root, note)
      if (ctx.tracer.enabled) ctx.tracer.annotate("bytes_written",
        Inputs.duBytes(s"$root/data/snap-${snap.id}") +
          Inputs.duBytes(s"$root/metrics/snap-${snap.id}"))
      snap
    }
  }

  private def activeDigest(ctx: Ctx, root: String) =
    OrderFreeHash.of(Lineage.activeTable(ctx.spark, root))

  /** One write-maintain-read cycle on a fresh `root`, with its checks. */
  def cycle(ctx: Ctx, batches: Seq[DataFrame], reads: Int, root: String,
            recordGoldens: Boolean): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    Inputs.deleteTree(root)
    var ingested = 0L
    batches.zipWithIndex.foreach { case (pages, b) =>
      ctx.op("snapshot_serve.ingest")(ingest(ctx, pages, root, s"batch $b"))
        .foreach { s =>
          ingested += s.rows
          if (recordGoldens) ctx.golden(s"ingest.batch$b.tiles", s.rows)
        }
    }
    ctx.op("snapshot_serve.resume")(ingest(ctx, batches.head, root, "resume batch 0"))
      .foreach(s => ctx.check("snapshot-serve.resume_commits_nothing", s.rows == 0,
        s"resume re-committed ${s.rows} tiles"))

    val before = activeDigest(ctx, root)
    ctx.op("snapshot_serve.compact") {
      ctx.span("plans.compact") {
        val snap = Lineage.compactSnapshots(spark, root)
        if (ctx.tracer.enabled) snap.foreach(s => ctx.tracer.annotate("bytes_rewritten",
          Inputs.duBytes(s"$root/data/snap-${s.id}")))
        snap
      }
    }
    val compacted = activeDigest(ctx, root)
    val dupes = Lineage.activeTable(spark, root).groupBy("tile_id").count()
      .filter(col("count") > 1).count()
    ctx.check("snapshot-serve.no_duplicate_tile_id", dupes == 0, s"$dupes duplicated tile ids")
    ctx.op("snapshot_serve.cluster")(ctx.span("plans.cluster")(Lineage.clusterSnapshots(spark, root)))
    val clustered = activeDigest(ctx, root)
    ctx.check("snapshot-serve.maintenance_keeps_table",
      before == compacted && compacted == clustered,
      s"digests: before $before, compacted $compacted, clustered $clustered")
    if (recordGoldens) ctx.golden("table.digest", clustered)

    val table = Lineage.activeTable(spark, root)
    val rows = table.count()
    val manifestRows = Lineage.activeSnapshots(root).map { id =>
      val txt = java.nio.file.Files.readString(
        java.nio.file.Paths.get(root, "manifests", s"snap-$id.json"))
      """"row_count":\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(-1L)
    }.sum
    ctx.check("snapshot-serve.manifest_row_count", manifestRows == rows,
      s"manifests say $manifestRows rows, table has $rows")

    val ids = table.select("tile_id").as[Long].collect().sorted
    val rng = new scala.util.Random(ctx.seed)
    (0 until reads).foreach { r =>
      val i = rng.nextInt(ids.length)
      val lo = ids(i)
      val hi = ids(math.min(ids.length - 1, i + rng.nextInt(64)))
      ctx.op("snapshot_serve.range_read") {
        ctx.span("plans.range_read") {
          val df = Lineage.readTileRange(spark, root, lo, hi)
          if (ctx.tracer.enabled) ctx.tracer.annotate("files_opened", df.inputFiles.length)
          df.collect()
        }
      }
      if (r < 4) {
        val got = OrderFreeHash.of(Lineage.readTileRange(spark, root, lo, hi))
        val want = OrderFreeHash.of(table.filter(col("tile_id").between(lo, hi)))
        ctx.check("snapshot-serve.range_read_matches_scan", got == want,
          s"range [$lo, $hi]: read $got, scan $want")
      }
    }
    val tileBytes = table.agg(sum("byte_len")).head().getLong(0)
    Map("ingested_tiles" -> ingested.toDouble,
      "write_amp" -> Inputs.duBytes(root).toDouble / tileBytes)
  }

  def pass(ctx: Ctx, i: Int): Pass = ctx.pass("snapshot_serve.pass") {
    cycle(ctx, (0 until Batches).map(b => ctx.spark.read.parquet(batchPath(ctx, b))),
      Reads, s"${dir(ctx)}/root", recordGoldens = i == 0)
  }

  def finalChecks(ctx: Ctx): Unit = ()

  def details(passes: Seq[Pass]): Seq[(String, Double, String)] = {
    def med(f: Pass => Double) = Stats.median(passes.map(f))
    val reads = passes.flatMap(_.msOf("snapshot_serve.range_read"))
    val tail = Stats.tailPercentile(reads.size).map { p =>
      (f"range_read_p${(p * 100).round}%d_ms", Stats.percentile(reads, p), "ms")
    }
    Seq(
      ("ingest_tiles_per_s",
        med(p => p.values("ingested_tiles") / (p.msOf("snapshot_serve.ingest").sum / 1e3)), "1/s"),
      ("resume_noop_s", med(_.msOf("snapshot_serve.resume").sum / 1e3), "s"),
      ("maintain_s", med(p => (p.msOf("snapshot_serve.compact").sum +
        p.msOf("snapshot_serve.cluster").sum) / 1e3), "s"),
      ("range_read_p50_ms", Stats.median(reads), "ms")) ++ tail.toSeq ++
      Seq(("write_amp", med(_.values("write_amp")), "ratio"))
  }

  def profileData(ctx: Ctx): ProfileData = ProfileData(batchPath(ctx, 0), BatchPages)

  override def tracedPassCovers: Set[String] = Set("plans")
}
