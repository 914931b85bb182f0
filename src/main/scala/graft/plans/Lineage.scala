package graft.plans

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}
import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal Iceberg-style snapshot/lineage layer (no Iceberg jar ships in
  * the offline env — SURVEY.md §4.2): Parquet data files + per-partition
  * metrics + a JSON manifest whose ATOMIC RENAME is the commit point. A
  * killed job resumes from the last committed snapshot by anti-joining
  * completed tile_ids — no completed tile is re-encoded.
  *
  * This is the reference's per-stage QA-table discipline made transactional
  * (reference: mvt/run_mvt_espre.py:171-176,246-252 QA CSVs;
  * mvt/saveio.py:30-38 append-once summary semantics).
  *
  * Layout under `root`:
  *   data/snap-N/       tile parquet (written before commit)
  *   metrics/snap-N/    per-partition lineage parquet
  *   manifests/snap-N.json   commit marker (atomic rename, written LAST)
  *
  * A manifest's keys are `snapshot_id`, `note`, `data_path`,
  * `metrics_path`, `row_count`, `bytes`, `replaces` (the snapshot ids a
  * compaction supersedes) and `parent`. Every reader goes through
  * [[manifests]], which parses them into a [[Manifest]].
  */
object Lineage {
  final case class Snapshot(id: Long, rows: Long, bytes: Long)

  /** One parsed `manifests/snap-N.json`, fields named as its keys.
    * `note` is free text, except that a streamed batch writes
    * `stream=<id> batch=<n>` and a delta snapshot appends ` cap=<c>`, its
    * tileCap. The stream id is arbitrary (it may itself contain ` batch=`
    * or ` cap=`), so both fields are read from the END of the note.
    */
  final case class Manifest(snapshot_id: Long, note: String,
      data_path: String, metrics_path: String, row_count: Long, bytes: Long,
      // the Scala module sees Seq[Long] as Seq[Object] after erasure
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) replaces: Seq[Long],
      parent: Long) {
    private val Manifest.NoteRe(stream, batch, cap) = note
    def streamBatch: Option[(String, Long)] = Option(stream).map(_ -> batch.toLong)
    def tileCap: Option[Int] = Option(cap).map(_.toInt)
  }

  object Manifest {
    private val NoteRe = """(?s)(?:stream=(.*) batch=(\d+)|.*?)(?: cap=(\d+))?""".r

    /** A negative cap records none. */
    private[plans] def withCap(note: String, cap: Int): String =
      if (cap >= 0) s"$note cap=$cap" else note

    private[plans] def streamNote(streamId: String, batchId: Long, cap: Int): String =
      withCap(s"stream=$streamId batch=$batchId", cap)
  }

  private def manifestDir(root: String) = Paths.get(root, "manifests")

  /** Committed snapshot ids, ascending. */
  def committedSnapshots(root: String): Seq[Long] = {
    val dir = manifestDir(root)
    if (!Files.isDirectory(dir)) return Seq.empty
    // closed: an open Files.list stream pins a directory handle until GC
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
      .map(_.stripPrefix("snap-").stripSuffix(".json").toLong).toSeq.sorted)
  }

  def nextSnapshotId(root: String): Long =
    committedSnapshots(root).lastOption.getOrElse(0L) + 1L

  // a manifest missing a key is as unreadable as a truncated one
  private lazy val manifestReader = graft.GraftConfig.mapper
    .readerFor(classOf[Manifest])
    .`with`(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES)

  /** Every committed manifest by snapshot id, each file read and parsed
    * once. A file that does not parse is a Failure naming it: its
    * snapshot stays committed (the file name is the commit point) but
    * replaces nothing.
    */
  def manifests(root: String): SortedMap[Long, Try[Manifest]] =
    SortedMap.from(committedSnapshots(root).map { id =>
      val p = manifestDir(root).resolve(s"snap-$id.json")
      id -> Try(manifestReader.readValue[Manifest](p.toFile)).recoverWith { case e =>
        Failure(new java.io.IOException(
          s"unreadable manifest $p: ${e.toString.linesIterator.next()}", e))
      }
    })

  private def replaced(ms: SortedMap[Long, Try[Manifest]]): Set[Long] =
    ms.values.flatMap(_.toOption).flatMap(_.replaces).toSet

  /** Snapshot ids superseded by a later compaction commit (their data is
    * duplicated inside the compacted snapshot and must not be read).
    */
  def replacedSnapshots(root: String): Set[Long] = replaced(manifests(root))

  /** The manifests of [[activeSnapshots]]. */
  def activeManifests(root: String): SortedMap[Long, Try[Manifest]] = {
    val ms = manifests(root)
    ms.removedAll(replaced(ms))
  }

  /** Committed snapshots that are still readable (not compacted away). */
  def activeSnapshots(root: String): Seq[Long] = activeManifests(root).keys.toSeq

  /** The table's current contents: every active snapshot's data as one
    * DataFrame (empty frame when nothing is committed).
    */
  def activeTable(spark: SparkSession, root: String): DataFrame = {
    val snaps = activeSnapshots(root)
    if (snaps.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(snaps.map(s => s"$root/data/snap-$s"): _*)
  }

  /** Rewrite all active snapshots into ONE (Iceberg's rewrite_data_files
    * + the visibility half of expire_snapshots): the compacted manifest's
    * atomic rename is the flip — it lists the snapshots it `replaces`, and
    * every reader (`completedTileIds`, `metricsTable`, resume) skips
    * replaced snapshots, so a crash at ANY point leaves a consistent view
    * (before the rename: old snapshots; after: only the compacted one).
    * Physical deletion is a separate, idempotent `expireSnapshots` pass.
    * Returns None when there is nothing to compact.
    */
  def compactSnapshots(spark: SparkSession, root: String,
                       note: String = "compaction"): Option[Snapshot] = {
    val active = activeSnapshots(root)
    if (active.size < 2) return None
    Some(commit(activeTable(spark, root), root, note, replaces = active))
  }

  /** SERVING compaction for delta-tile roots (streamed ingestion): active
    * snapshots each carry per-BATCH tiles, so a hot tile id recurs across
    * snapshots with partial `mvt_bytes`. This pass regroups the committed
    * feature buffers by tile_id, re-runs the same bounded top-cap
    * reduction, and re-encodes ONE authoritative row per tile —
    * byte-identical to a batch run over the union input (the per-batch
    * top-caps are supersets of their contribution to the global top-cap).
    * Requires the delta layout (a `feats` column — commit via
    * `Tiler.encodeTilesKeepFeatures`); the compacted snapshot keeps
    * `feats`, so later stream batches + another compaction compose.
    * The atomic `replaces` manifest rename is the flip, exactly as in
    * [[compactSnapshots]]. Reference precedent: the append-once
    * one-authoritative-row-per-key semantics (saveio.py:30-38).
    */
  def compactServingTiles(spark: SparkSession, root: String,
                          cap: Int = 4096, layerName: String = "features",
                          note: String = "serving compaction"): Option[Snapshot] = {
    val active = activeSnapshots(root)
    if (active.size < 2) return None
    val lean = leanSnapshots(spark, root)
    require(lean.isEmpty,
      "serving compaction needs the delta layout (a feats column — commit " +
        s"via Tiler.encodeTilesKeepFeatures) in EVERY active snapshot; " +
        s"snapshot(s) ${lean.mkString(",")} hold lean tiles" +
        (if (lean.size == active.size) " — use compactSnapshots"
         else " — this root mixes lean and delta writers"))
    // the stream recorded its tileCap in the manifest note: re-encoding
    // at any OTHER cap silently produces serving bytes matching no batch
    // run at either cap (buffers were truncated at the recorded cap)
    val recorded = recordedTileCap(root)
    require(recorded.forall(_ == cap),
      s"this delta root committed tiles at tileCap=${recorded.get} but the " +
        s"compaction was asked to re-encode at $cap — pass cap=${recorded.get}")
    val merged = graft.operators.Tiler.withStats(
      graft.operators.Tiler.mergeTiles(activeTable(spark, root), cap, layerName)
        .toDF())
    // carry the cap forward so stream→compact→stream cycles keep deriving it
    Some(commit(merged, root, Manifest.withCap(note, cap), replaces = active))
  }

  /** Active snapshots whose data has no `feats` column (lean tiles, not
    * the delta layout). Checked per snapshot from schema metadata: a
    * union read takes its schema from one file, so a MIXED root (lean +
    * delta writers) could pass a union-level check while explode(feats =
    * null) silently DROPPED the lean snapshots' tiles from a merge.
    */
  def leanSnapshots(spark: SparkSession, root: String): Seq[Long] =
    activeSnapshots(root).filterNot(id =>
      spark.read.parquet(s"$root/data/snap-$id").columns.contains("feats"))

  /** Range-cluster the table: rewrite active snapshots ordered by
    * tile_id (range repartition + in-partition sort), so every data file
    * covers a TIGHT, non-overlapping tile_id range and the per-file
    * (tile_id_min, tile_id_max) lineage metrics become a file-pruning
    * index — the Iceberg manifest-pruning analog, served by
    * [[readTileRange]]. The commit recomputes metrics from the written
    * files, so the index is tight by construction; parquet row groups
    * are tile_id-sorted too (min/max page stats line up with the scan
    * filter). Atomic `replaces` flip as in [[compactSnapshots]]. Works
    * on one snapshot as well (a pure re-layout).
    */
  def clusterSnapshots(spark: SparkSession, root: String,
                       note: String = "range clustering",
                       files: Option[Int] = None): Option[Snapshot] = {
    val active = activeSnapshots(root)
    if (active.isEmpty) return None
    val base = activeTable(spark, root)
    // explicit file count pins the layout (AQE won't coalesce a
    // user-specified partition number); default lets AQE size files
    val ranged = files match {
      case Some(n) => base.repartitionByRange(n, col("tile_id"))
      case None => base.repartitionByRange(col("tile_id"))
    }
    Some(commit(ranged.sortWithinPartitions("tile_id"), root, note,
      replaces = active))
  }

  /** Read only the rows with tile_id in [lo, hi], opening only the data
    * FILES whose committed lineage range intersects the query range —
    * manifest-level pruning from the metrics table (thousands of
    * file-level rows at 100 TB), not a full-table scan that hopes for
    * parquet row-group skipping. Best after [[clusterSnapshots]] (tight
    * disjoint ranges); correct on any root (unclustered files simply
    * prune less). Snapshots whose metrics were lost fall back to a full
    * read of that snapshot — pruning must never silently DROP files.
    * The collected file list is the MATCHED subset only; for full-table
    * reads use [[activeTable]].
    */
  def readTileRange(spark: SparkSession, root: String,
                    lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    val active = activeSnapshots(root)
    val (withM, withoutM) = active.partition(id =>
      Files.isDirectory(Paths.get(root, "metrics", s"snap-$id")))
    val pruned: Seq[String] =
      if (withM.isEmpty) Seq.empty
      else spark.read.parquet(withM.map(s => s"$root/metrics/snap-$s"): _*)
        .filter(col("tile_id_max") >= lo && col("tile_id_min") <= hi)
        .select("file").as[String].collect().toSeq
    val paths = pruned ++ withoutM.map(id => s"$root/data/snap-$id")
    if (paths.isEmpty) return spark.emptyDataFrame
    spark.read.parquet(paths: _*)
      .filter(col("tile_id").between(lo, hi))
  }

  /** Manifest note of a committed snapshot (None when the manifest is
    * gone or unreadable).
    */
  def manifestNote(root: String, id: Long): Option[String] =
    manifests(root).get(id).flatMap(_.toOption).map(_.note)

  /** A root whose ACTIVE snapshots include streamed delta commits —
    * duplicate tile_ids across snapshots are expected there (the QA
    * overlap check reads this to switch semantics).
    */
  def isDeltaRoot(root: String): Boolean =
    activeManifests(root).values.flatMap(_.toOption)
      .exists(_.streamBatch.nonEmpty)

  /** The tileCap the root's active snapshots were encoded with, read
    * back from manifest notes (` cap=N`, written by streamed commits
    * and serving compactions). None when no note records one; throws on
    * a root whose snapshots record DIFFERENT caps — per-batch feature
    * buffers were already truncated at their cap, so no single
    * re-encode can be byte-faithful to all of them — and on an
    * unreadable active manifest, whose cap is unknown.
    */
  def recordedTileCap(root: String): Option[Int] = {
    val caps = activeManifests(root).values.toSeq
      .flatMap(_.get.tileCap)
      .distinct
    require(caps.size <= 1,
      s"active snapshots record conflicting tileCaps ${caps.sorted.mkString(",")} " +
        s"under $root — compact per-writer roots separately")
    caps.headOption
  }

  /** Time travel: the table as of snapshot `asOf` — every snapshot
    * committed up to that id, minus those replaced by a compaction that
    * had itself committed by `asOf` (a later compaction doesn't rewrite
    * history). Returns the data DataFrame; empty if nothing qualifies or
    * expiry already deleted the files.
    */
  def tableAt(spark: SparkSession, root: String, asOf: Long): DataFrame = {
    val byThen = manifests(root).rangeTo(asOf)
    val snaps = byThen.keys.toSeq.filterNot(replaced(byThen))
      .filter(id => Files.isDirectory(Paths.get(root, "data", s"snap-$id")))
    if (snaps.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(snaps.map(s => s"$root/data/snap-$s"): _*)
  }

  /** Tile-level diff between two table VERSIONS (time-travel points) —
    * the cache/CDN invalidation list an incremental tile server needs:
    * which tile_ids were added, removed, or changed between snapshot
    * `fromSnap` and snapshot `toSnap`. One full-outer join of 64-bit
    * content hashes keyed by tile_id — tile bytes never leave the
    * executors. Per-version multi-row tiles (delta roots) combine with
    * an order-insensitive bit_xor, so the comparison is well-defined on
    * any root. Returns (tile_id, status ∈ added|removed|changed); equal
    * tiles are omitted.
    */
  def diffVersions(spark: SparkSession, root: String,
                   fromSnap: Long, toSnap: Long): DataFrame = {
    def hashed(asOf: Long): DataFrame = {
      val t = tableAt(spark, root, asOf)
      if (t.columns.isEmpty)
        spark.range(0).select(col("id").as("tile_id"), col("id").as("h"))
      else t.select(col("tile_id"), xxhash64(col("mvt_bytes")).as("h"))
        .groupBy("tile_id").agg(expr("bit_xor(h)").as("h"))
    }
    val a = hashed(fromSnap).withColumnRenamed("h", "__ha")
    val b = hashed(toSnap).withColumnRenamed("h", "__hb")
    a.join(b, Seq("tile_id"), "full_outer")
      .withColumn("status",
        when(col("__ha").isNull, "added")
          .when(col("__hb").isNull, "removed")
          .when(col("__ha") =!= col("__hb"), "changed"))
      .filter(col("status").isNotNull)
      .select("tile_id", "status")
  }

  /** Delete data/metrics snapshot directories that were WRITTEN but
    * never COMMITTED — a crash between the parquet write and the
    * manifest's atomic rename leaves them orphaned: invisible to every
    * reader, but occupying storage forever. Age-guarded like Iceberg's
    * remove_orphan_files: only directories last modified more than
    * `olderThanMs` ago are swept, so an IN-FLIGHT commit's fresh dir is
    * never touched. Idempotent; returns the paths removed.
    */
  def vacuumOrphans(root: String,
                    olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val committed = committedSnapshots(root).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    for (kind <- Seq("data", "metrics")) {
      val dir = Paths.get(root, kind)
      if (Files.isDirectory(dir)) {
        // Files.list holds a directory handle until closed — a leaked
        // stream per kind per invocation would pin fds until GC
        scala.util.Using.resource(Files.list(dir)) { stream =>
          val it = stream.iterator()
          while (it.hasNext) {
            val p = it.next()
            val name = p.getFileName.toString
            if (name.startsWith("snap-")) {
              val id = name.stripPrefix("snap-").toLongOption
              val orphan = id.exists(!committed(_))
              if (orphan && Files.getLastModifiedTime(p).toMillis < cutoff) {
                deleteRecursively(p)
                removed += p.toString
              }
            }
          }
        }
      }
    }
    removed.toSeq
  }

  /** Physically delete replaced snapshots' data, metrics and manifests.
    * Safe and idempotent any time after a compaction commit. Returns the
    * ids removed.
    */
  def expireSnapshots(root: String): Seq[Long] = {
    val dead = replacedSnapshots(root).intersect(committedSnapshots(root).toSet)
      .toSeq.sorted
    dead.foreach { id =>
      deleteRecursively(Paths.get(root, "data", s"snap-$id"))
      deleteRecursively(Paths.get(root, "metrics", s"snap-$id"))
      Files.deleteIfExists(manifestDir(root).resolve(s"snap-$id.json"))
    }
    dead
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator()
      while (it.hasNext) Files.deleteIfExists(it.next())
    }
  }

  /** Commit a tiles DataFrame (must carry `tile_id`, `byte_len`) as a new
    * snapshot. Steps: write data parquet → write per-partition metrics →
    * atomically rename the manifest into place (the commit point).
    */
  def commit(tilesWithStats: DataFrame, root: String, note: String,
             replaces: Seq[Long] = Nil): Snapshot = {
    val spark = tilesWithStats.sparkSession
    val snapId = nextSnapshotId(root)
    val dataPath = s"$root/data/snap-$snapId"
    val metricsPath = s"$root/metrics/snap-$snapId"

    tilesWithStats.write.mode(SaveMode.Overwrite).parquet(dataPath)

    // per-partition lineage from the COMMITTED files (ground truth):
    // tile_id ranges, row counts, bytes per parquet partition file
    val written = spark.read.parquet(dataPath)
      .select(col("tile_id"), col("byte_len"),
        input_file_name().as("file"))
    val metrics = written.groupBy("file").agg(
      min("tile_id").as("tile_id_min"),
      max("tile_id").as("tile_id_max"),
      count(lit(1)).as("row_count"),
      sum("byte_len").as("bytes"))
      .withColumn("snapshot_id", lit(snapId))
    metrics.write.mode(SaveMode.Overwrite).parquet(metricsPath)

    val (rows, bytes) = {
      // coalesce: an empty tiles frame (e.g. a --resume rerun with nothing
      // pending) must commit an empty snapshot, not NPE on null sums
      val r = spark.read.parquet(metricsPath)
        .agg(coalesce(sum("row_count"), lit(0L)),
          coalesce(sum("bytes"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    // commit point: write manifest to tmp, atomic rename into manifests/
    Files.createDirectories(manifestDir(root))
    val manifest =
      s"""{"snapshot_id": $snapId, "note": ${jsonStr(note)},
         | "data_path": ${jsonStr(dataPath)},
         | "metrics_path": ${jsonStr(metricsPath)},
         | "row_count": $rows, "bytes": $bytes,
         | "replaces": [${replaces.mkString(", ")}],
         | "parent": ${committedSnapshots(root).lastOption.getOrElse(0L)}}"""
        .stripMargin
    val tmp = Files.createTempFile(manifestDir(root), s".snap-$snapId", ".tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, manifestDir(root).resolve(s"snap-$snapId.json"),
      StandardCopyOption.ATOMIC_MOVE)
    Snapshot(snapId, rows, bytes)
  }

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR left raw makes the document unparseable.
    */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** All tile_ids across ACTIVE snapshots (the resume anti-join side;
    * compacted-away snapshots are invisible — their tiles live in the
    * compacted snapshot).
    */
  def completedTileIds(spark: SparkSession, root: String): DataFrame = {
    val snaps = activeSnapshots(root)
    if (snaps.isEmpty)
      return spark.range(0).select(col("id").as("tile_id"))
    val paths = snaps.map(s => s"$root/data/snap-$s")
    spark.read.parquet(paths: _*).select("tile_id").distinct()
  }

  /** Resume filter: drop rows whose tile_id is already committed. `df`
    * must carry a `tile_id` column (applied BEFORE the expensive encode).
    */
  def pendingOnly(df: DataFrame, root: String): DataFrame = {
    val done = completedTileIds(df.sparkSession, root)
    df.join(done, Seq("tile_id"), "left_anti")
  }

  /** Combined metrics table across active snapshots. Snapshots whose
    * metrics directory was lost are SKIPPED here (a multi-path read
    * would throw and take every caller down with it) — the QA report's
    * conservation check is where their loss is surfaced as a verdict.
    */
  def metricsTable(spark: SparkSession, root: String): DataFrame = {
    val snaps = activeSnapshots(root)
      .filter(s => Files.isDirectory(Paths.get(root, "metrics", s"snap-$s")))
    if (snaps.isEmpty)
      spark.emptyDataFrame
    else
      spark.read.parquet(snaps.map(s => s"$root/metrics/snap-$s"): _*)
  }
}
