package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entry point: the full resumable pipeline
  *   page table (materialized Iceberg-style or generated inline) →
  *   extract/geoparse → cell encode → PIP join → tile build (salted,
  *   capped) → MVT encode → snapshot commit.
  *
  * Usage:
  *   graft.Main --config <file.yaml|file.json>
  *   graft.Main <outDir> [nPages] [zooms csv] [--resume] [--materialize]
  *
  * Staged-main shape mirrors the reference pipeline main (reference:
  * mvt/run_mvt_espre.py:103-423: config → scan/parse → transforms →
  * grouped reduction → persist + QA tables).
  */
object Main {
  /** The one SparkSession every entry point runs on (the pipeline CLI,
    * `Bench`, `Verify`, `Explain`, the tools). A master already in the
    * SparkConf — spark-submit's `--master` — wins; otherwise the session
    * runs `local[cores]`.
    */
  def session(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val spark = SparkSession.builder()
      .master(master(new SparkConf().getOption("spark.master"), cores))
      .appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      // small synthetic tables must still split across all cores —
      // at 100 TB the default 128 MB splits are right, here they serialize
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "512k")
      // object-agg buffers are growth-bounded → keep hashing far longer
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      // shuffle on tmpfs: the sandbox disk shows burst-credit-like IOPS
      // collapse under sustained writes — RAM-backed local dirs decouple
      // measurements from it
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      shufflePartitions(spark.sparkContext.defaultParallelism).toLong)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The master a new session runs on: a preset one (spark-submit's
    * `--master`) is kept, an absent one becomes `local[cores]`.
    */
  def master(preset: Option[String], cores: Int): String =
    preset.getOrElse(s"local[$cores]")

  /** Upper bound only — AQE coalesces; 4× the task slots gives the reduce
    * side several waves of small tasks, so one slow task can't stretch a
    * single-wave stage (the 8-core tail observed in the stage audit).
    */
  def shufflePartitions(parallelism: Int): Int = math.max(parallelism * 4, 32)

  /** The page table: materialized to parquet once (the "Iceberg-style
    * input table" of BASELINE.json input_hint — at 100 TB this is the
    * pre-existing table the job reads), or generated inline.
    */
  def pageTable(spark: SparkSession, cfg: GraftConfig): DataFrame = {
    if (!cfg.materializePages)
      return graft.sources.SynthPages.pagesDF(spark, cfg.nPages, cfg.seed)
    val path = s"${cfg.outDir}/pages"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))) {
      graft.sources.SynthPages.pagesDF(spark, cfg.nPages, cfg.seed)
        .write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
  }

  /** The shared pages→features→assigned-tiles→encoded-tiles chain, with
    * the config's cell levels and tile cap — ONE definition for the
    * batch run, the resume run, and every streaming micro-batch (no
    * parameter drift between modes writing into the same table).
    * `restrictTo` optionally anti-joins a tile_id set BEFORE the heavy
    * group+encode (the batch-resume filter).
    */
  def tilesFor(spark: SparkSession, pages: DataFrame, cfg: GraftConfig,
               resumeRoot: Option[String],
               keepFeatures: Boolean = false): DataFrame = {
    val features = graft.operators.GeoPipeline
      .pagesToFeatures(spark, pages, cfg.s2Level, cfg.hexRes)
      .filter(col("lat").isNotNull && col("lon").isNotNull)
    val zoomed = graft.operators.Tiler.assignTiles(features, cfg.zooms)
    val pending = resumeRoot match {
      case Some(root) => graft.plans.Lineage.pendingOnly(zoomed, root)
      case None => zoomed
    }
    // keepFeatures = the mergeable DELTA layout (streaming): tiles carry
    // their top-cap buffers so serving compaction can regroup + re-encode
    if (keepFeatures)
      graft.operators.Tiler.withStats(
        graft.operators.Tiler.encodeTilesKeepFeatures(pending, cfg.tileCap).toDF())
    else
      graft.operators.Tiler.tilesWithStats(
        graft.operators.Tiler.encodeTiles(pending, cfg.tileCap))
  }

  /** Pipeline from pages to committed tile snapshot, with optional resume
    * (anti-join committed tile ids BEFORE the heavy group+encode).
    */
  def run(spark: SparkSession, cfg: GraftConfig): graft.plans.Lineage.Snapshot = {
    val pages = pageTable(spark, cfg)
    val withStats = tilesFor(spark, pages, cfg,
      resumeRoot = if (cfg.resume) Some(cfg.outDir) else None)
    graft.plans.Lineage.commit(withStats, cfg.outDir,
      s"pages=${cfg.nPages} zooms=${cfg.zooms.mkString(",")} resume=${cfg.resume}")
  }

  /** The full product story in one invocation (`--e2e`): crawl pages →
    * curated corpus (lineage root `outDir/curated`) → geo features →
    * tile table (lineage root `outDir/tiles`), each stage committed
    * through the snapshot layer. Stage 2 reads the COMMITTED curated
    * table, not the in-flight frame — the lineage root is the contract
    * between stages, so a crash between the two commits resumes from
    * durable state, and a `--resume` rerun is idempotent end-to-end
    * (curate's fp anti-join + the tile anti-join). Existing operators
    * only; both roots share one QA report.
    */
  def e2e(spark: SparkSession, cfg: GraftConfig)
      : (graft.plans.Lineage.Snapshot, graft.plans.Lineage.Snapshot) = {
    val pages = pageTable(spark, cfg)
    val curatedRoot = s"${cfg.outDir}/curated"
    val tilesRoot = s"${cfg.outDir}/tiles"
    val csnap = graft.operators.Curate.run(pages, curatedRoot,
      resume = cfg.resume,
      note = s"e2e curate pages=${cfg.nPages} resume=${cfg.resume}")
    val curated = graft.plans.Lineage.activeTable(spark, curatedRoot)
      .select(col("url"), col("text_curated").as("text"))
    val tiles = tilesFor(spark, curated, cfg,
      resumeRoot = if (cfg.resume) Some(tilesRoot) else None)
    val tsnap = graft.plans.Lineage.commit(tiles, tilesRoot,
      s"e2e tiles zooms=${cfg.zooms.mkString(",")} resume=${cfg.resume}")
    (csnap, tsnap)
  }

  /** `--stream` argument shape → (config, watchDir). Tile parameters
    * come from the SAME parser as batch mode (pass `--config` for
    * non-default s2Level/hexRes/tileCap — parameter drift between a
    * batch and a stream writing one table was the r3 gap); without
    * `--config` the legacy positional shape `<outDir> [watchDir]
    * [zooms]` still works.
    */
  def parseStreamArgs(args: Array[String]): (GraftConfig, String) = {
    val rest = args.filterNot(a => a == "--stream" || a == "--resume")
    val cfgIdx = rest.indexOf("--config")
    if (cfgIdx >= 0) {
      val c = parseArgs(rest)
      val cfgFile = rest(cfgIdx + 1)
      val pos = rest.filterNot(_.startsWith("--")).filterNot(_ == cfgFile)
      (c, pos.headOption.getOrElse(s"${c.outDir}/incoming"))
    } else {
      val positional = rest.filterNot(_.startsWith("--"))
      val c = parseArgs(positional.take(1))
        .copy(zooms = positional.lift(2).map(_.split(",").map(_.toInt).toSeq)
          .getOrElse(Seq(4, 8, 12)))
      (c, positional.lift(1).getOrElse(s"${c.outDir}/incoming"))
    }
  }

  def parseArgs(args: Array[String]): GraftConfig = {
    val cfgIdx = args.indexOf("--config")
    if (cfgIdx >= 0) {
      val base = GraftConfig.fromFile(args(cfgIdx + 1))
      base.copy(resume = base.resume || args.contains("--resume"))
    } else {
      val positional = args.filterNot(_.startsWith("--"))
      GraftConfig(
        outDir = positional.headOption.getOrElse("/tmp/graft-tiles"),
        nPages = positional.lift(1).map(_.toLong).getOrElse(20000L),
        zooms = positional.lift(2).map(_.split(",").map(_.toInt).toSeq)
          .getOrElse(Seq(4, 8, 12)),
        resume = args.contains("--resume"),
        materializePages = args.contains("--materialize"))
    }
  }

  def main(args: Array[String]): Unit = {
    // storage maintenance: sweep crash-orphaned uncommitted snapshot dirs
    // (file-system only, so it runs before any Spark session opens)
    if (args.contains("--vacuum")) {
      val pos = args.filterNot(_.startsWith("--"))
      val outDir = pos.headOption.getOrElse("/tmp/graft-tiles")
      val hours = pos.lift(1).map(_.toDouble).getOrElse(24.0)
      val removed = graft.plans.Lineage.vacuumOrphans(outDir,
        (hours * 3600 * 1000).toLong)
      println(if (removed.isEmpty) "no orphans older than the age guard"
        else s"vacuumed ${removed.length} orphaned dirs:\n  " +
          removed.mkString("\n  "))
      return
    }
    val spark = session()
    try runMode(spark, args) finally spark.stop()
  }

  private def runMode(spark: SparkSession, args: Array[String]): Unit = {
    // QA report mode: per-stage verdicts over the committed lineage
    // (conservation, skew gate, resume overlap, encode drift) + a
    // one-screen summary — the reference's consolidated frame verdict
    // (mvt/frameguess.py:131-215) over this engine's metrics table
    if (args.contains("--report")) {
      val outDir = args.filterNot(_.startsWith("--")).headOption
        .getOrElse("/tmp/graft-tiles")
      // streamed delta roots get delta-overlap semantics: auto-detected
      // from stream manifest notes, or forced with --delta
      val delta = args.contains("--delta") ||
        graft.plans.Lineage.isDeltaRoot(outDir)
      println(graft.plans.QaReport.report(spark, outDir, delta))
      return
    }
    // streaming ingestion mode: watch a directory of page parquet, run
    // the SAME tile chain as batch mode per micro-batch (tilesFor — no
    // parameter drift), and commit each batch exactly once through the
    // snapshot layer (StreamCommit keyed by the checkpoint location).
    //
    // DELTA-TILE SEMANTICS, deliberately: each snapshot's tiles encode
    // ONLY that batch's pages, so a tile id can recur across snapshots
    // as later batches add features to the same tile. The batch-resume
    // anti-join must NOT be applied here — it assumes identical input
    // across runs, and on a live stream it would silently DROP new
    // pages whose tile was already committed (data loss). Tiles commit
    // WITH their top-cap feature buffers (the mergeable delta layout),
    // so `--compact` later derives the SERVING table: one re-encoded
    // row per tile_id, byte-identical to a batch run over the union
    // input (Lineage.compactServingTiles). `--report` auto-detects the
    // delta root and reports overlap as expected, not as a resume bug.
    // Trigger.AvailableNow drains what exists and stops, so the mode
    // drives as a CLI.
    if (args.contains("--stream")) {
      val (cfg, watchDir) = parseStreamArgs(args)
      val checkpoint = s"${cfg.outDir}/stream-checkpoint"
      val pageSchema = org.apache.spark.sql.Encoders
        .product[graft.sources.Page].schema
      val pages = spark.readStream.schema(pageSchema).parquet(watchDir)
      val sink = graft.plans.StreamCommit.cachedCommitter(
        cfg.outDir, streamId = checkpoint, cap = cfg.tileCap)
      val query = pages.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val tiles = tilesFor(spark, batch, cfg, resumeRoot = None,
            keepFeatures = true)
          sink(tiles, bid) match {
            case Some(snap) => println(
              s"committed snapshot ${snap.id} rows=${snap.rows} " +
                s"bytes=${snap.bytes} (stream batch $bid)")
            case None => println(s"stream batch $bid already committed — skipped")
          }
        }
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      return
    }
    // curation mode: the training-data pass (normalize → exact dedup →
    // paragraph dedup → span analysis → Gopher gate) snapshot-committed
    // with the same resume/QA discipline as the tile pipeline
    // training-data export mode: committed curated root → token-balanced
    // shard directories + manifest.json (one shard per trainer worker)
    if (args.contains("--export")) {
      val pos = args.filterNot(_.startsWith("--"))
      require(pos.length >= 2,
        "usage: --export <curatedRoot> <exportDir> [shards]")
      val shards = if (pos.length > 2) pos(2).toInt else 16
      val stats = graft.operators.Curate.exportShards(
        spark, pos(0), pos(1), shards)
      val docs = stats.map(_.docs).sum
      val toks = stats.map(_.tokens).sum
      println(s"exported $docs docs / $toks tokens into ${stats.length} " +
        s"shards (tokens min=${stats.map(_.tokens).min} " +
        s"max=${stats.map(_.tokens).max}) at ${pos(1)}")
      return
    }
    // hot-region layer: geoparsed points → DBSCAN clusters → convex-hull
    // polygons → MVT "hotspots" layer, committed as its own lineage root
    // (merge onto the point tiles with Tiler.mergeTileLayers for a
    // multi-layer serving table). Default labeling is GRID (weighted)
    // DBSCAN — geoparse output is exactly the Zipf-hot dense-blob input
    // whose exact ε-pair set is Σ|blob|² (Dbscan scaladoc): the grid
    // path bounds pairs by occupied-cell geometry while hulls keep full
    // point resolution. `--exact-hulls` opts into exact point-level
    // labels for analytic runs that can afford the quadratic blobs.
    if (args.contains("--hulls")) {
      val exact = args.contains("--exact-hulls")
      val cfg = parseArgs(args.filterNot(a =>
        a == "--hulls" || a == "--exact-hulls"))
      val t0 = System.nanoTime()
      val feats = graft.operators.GeoPipeline
        .pagesToFeatures(spark, pageTable(spark, cfg), cfg.s2Level, cfg.hexRes)
        .filter(col("lat").isNotNull && col("lon").isNotNull)
      // one row per distinct point; the content-derived id keeps the
      // labeling deterministic at any parallelism
      // materialized once: the ε-pair join consumes the point cloud on
      // BOTH sides and the hull stage joins coordinates back — without
      // this the geoparse lineage re-runs per consumer
      val pts = feats.select(
          xxhash64(col("url"), col("name"), col("lon"), col("lat")).as("pid"),
          col("lon"), col("lat")).distinct()
        .localCheckpoint(true)
      val labels =
        if (exact) graft.operators.Dbscan.cluster(pts, "pid",
          epsDeg = 3.0, minPts = 25, res = 2)
        else graft.operators.Dbscan.clusterGrid(pts, "pid",
          epsDeg = 3.0, minPts = 25, cellDeg = 0.5, res = 2)
      val hulls = graft.operators.Dbscan.hulls(pts, "pid", labels)
      // dense non-negative ids for the MVT feature ids (cluster_id is a
      // min content hash — possibly negative, meaningless to a client)
      val w = org.apache.spark.sql.expressions.Window.orderBy("cluster_id")
      val ranked = hulls.withColumn("hull_id",
        row_number().over(w).cast("long"))
      val tiles = graft.operators.PolyTiler.buildTilesFromWkt(
        ranked, "hull_id", "wkt", cfg.zooms, layerName = "hotspots")
      val snap = graft.plans.Lineage.commit(
        graft.operators.Tiler.tilesWithStats(tiles), cfg.outDir,
        s"hotspot hulls pages=${cfg.nPages} zooms=${cfg.zooms.mkString(",")}")
      val nHulls = ranked.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"committed snapshot ${snap.id}: $nHulls hull polygons → " +
        f"${snap.rows} hotspot tiles in $secs%.1f s")
      return
    }
    if (args.contains("--curate")) {
      val cfg = parseArgs(args.filterNot(a =>
        a == "--curate" || a == "--neardup" || a == "--site-boiler"))
      val t0 = System.nanoTime()
      val snap = graft.operators.Curate.run(
        pageTable(spark, cfg), cfg.outDir, cfg.resume,
        note = s"curate pages=${cfg.nPages} resume=${cfg.resume}",
        nearDupJaccard = if (args.contains("--neardup")) Some(0.7) else None,
        siteBoilerMinDocs =
          if (args.contains("--site-boiler")) Some(20) else None)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"committed snapshot ${snap.id} rows=${snap.rows} " +
        f"bytes=${snap.bytes} in $secs%.1f s (${snap.rows / secs}%.1f docs/sec)")
      return
    }
    // full-product mode: pages → curated corpus → tiles, two committed
    // lineage roots, one QA report across both (see [[e2e]])
    if (args.contains("--e2e")) {
      val cfg = parseArgs(args.filterNot(_ == "--e2e"))
      val t0 = System.nanoTime()
      val (csnap, tsnap) = e2e(spark, cfg)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"e2e: curated snapshot ${csnap.id} rows=${csnap.rows}, " +
        f"tile snapshot ${tsnap.id} rows=${tsnap.rows} in $secs%.1f s")
      println("== curated root ==")
      println(graft.plans.QaReport.report(spark, s"${cfg.outDir}/curated"))
      println("== tiles root ==")
      println(graft.plans.QaReport.report(spark, s"${cfg.outDir}/tiles"))
      return
    }
    // version-diff mode: the cache-invalidation list between two
    // committed snapshots — added/removed/changed tile_ids
    if (args.contains("--diff")) {
      val pos = args.filterNot(_.startsWith("--"))
      require(pos.length >= 3, "usage: --diff <outDir> <fromSnap> <toSnap>")
      val diff = graft.plans.Lineage
        .diffVersions(spark, pos(0), pos(1).toLong, pos(2).toLong)
        .groupBy("status").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
      println(s"tile diff snap-${pos(1)} → snap-${pos(2)}: " +
        (if (diff.isEmpty) "identical" else diff.mkString(" ")))
      return
    }
    // layout maintenance mode: range-cluster the table by tile_id so the
    // per-file lineage ranges become a pruning index (readTileRange)
    if (args.contains("--cluster")) {
      val outDir = args.filterNot(_.startsWith("--")).headOption
        .getOrElse("/tmp/graft-tiles")
      graft.plans.Lineage.clusterSnapshots(spark, outDir) match {
        case Some(s) =>
          val expired = graft.plans.Lineage.expireSnapshots(outDir)
          println(s"clustered into snapshot ${s.id} rows=${s.rows} " +
            s"bytes=${s.bytes} (tile_id range-ordered files); " +
            s"expired snapshots ${expired.mkString(",")}")
        case None => println("nothing to cluster (no committed snapshots)")
      }
      return
    }
    // table maintenance mode: rewrite active snapshots into one and
    // physically expire the replaced ones — no pipeline run. Delta
    // roots (tiles committed with feature buffers, i.e. streamed) get
    // the SERVING compaction — duplicate tile_ids merged + re-encoded
    // to one authoritative row per tile; lean roots get the file-level
    // rewrite.
    if (args.contains("--compact")) {
      val outDir = args.filterNot(_.startsWith("--")).headOption
        .getOrElse("/tmp/graft-tiles")
      val active = graft.plans.Lineage.activeSnapshots(outDir)
      // per-snapshot detection: a mixed lean/delta root must surface the
      // clear compactServingTiles error, not silently take the lean path
      // (whose union read would also misbehave on mixed schemas)
      val isDelta = active.size >= 2 &&
        graft.plans.Lineage.leanSnapshots(spark, outDir).size < active.size
      // the cap the stream committed with is AUTHORITATIVE: read it back
      // from the manifest notes; an explicit --config must agree (the
      // compactServingTiles require fails loudly on a mismatch instead
      // of silently re-encoding truncated buffers at a different cap)
      val recorded =
        if (isDelta) graft.plans.Lineage.recordedTileCap(outDir) else None
      val parsedCap = parseArgs(args.filterNot(_ == "--compact")).tileCap
      val cap =
        if (args.contains("--config")) parsedCap
        else recorded.getOrElse(parsedCap)
      val compacted =
        if (isDelta) graft.plans.Lineage.compactServingTiles(spark, outDir, cap)
        else graft.plans.Lineage.compactSnapshots(spark, outDir)
      compacted match {
        case Some(s) =>
          val expired = graft.plans.Lineage.expireSnapshots(outDir)
          println(s"compacted into snapshot ${s.id} rows=${s.rows} " +
            s"bytes=${s.bytes}" +
            (if (isDelta) " (serving: merged duplicate tile_ids)" else "") +
            s"; expired snapshots ${expired.mkString(",")}")
        case None => println("nothing to compact (fewer than 2 active snapshots)")
      }
      return
    }
    val cfg = parseArgs(args)
    val t0 = System.nanoTime()
    val snap = run(spark, cfg)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"committed snapshot ${snap.id} rows=${snap.rows} " +
      f"bytes=${snap.bytes} in $secs%.1f s (${snap.rows / secs}%.1f tiles/sec)")
  }
}
