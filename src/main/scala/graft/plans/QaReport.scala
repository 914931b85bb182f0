package graft.plans

import java.nio.file.{Files, Paths}
import scala.util.{Failure, Success}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Diagnose-and-explain QA report over a lineage root: per-stage
  * pass/fail verdicts plus a one-screen, human-readable summary with
  * quantified impact — the Spark-table analog of the reference's frame
  * verdict + impact CLI (reference: mvt/frameguess.py:44-129 `_verdict`
  * threshold heuristics with reason strings, `_impact` attenuation
  * estimates; :131-215 `verdict_from_framecheck` consolidated report).
  *
  * Checks, per ACTIVE snapshot:
  *   - conservation: manifest row_count/bytes == recomputed sums from the
  *     committed per-partition metrics == actual data-file row count. A
  *     mismatch means the commit record no longer describes the data
  *     (tamper, partial delete, filesystem loss).
  *   - skew: max per-file bytes ≤ factor × median per-file bytes (the
  *     BASELINE hot-tile gate applied to what was actually committed).
  *     Impact analog: straggler amplification = max/median — the
  *     predicted wall-clock stretch of the widest reader over this
  *     snapshot, same shape as the reference's depth-attenuation
  *     estimate (frameguess.py:73-129).
  *   - overlap (cross-snapshot): active snapshots must be disjoint in
  *     tile_id — the resume anti-join's contract. Impact analog: the
  *     wasted re-encode fraction = duplicate rows / total rows.
  *   - drift (cross-snapshot): each snapshot's mean bytes/tile vs the
  *     median snapshot's — a resumed run whose encode drifted (config
  *     skew, code change mid-table) shows up as a ratio far from 1, the
  *     same scatter-ratio heuristic as the reference verdict
  *     (frameguess.py:58-66: ratio + threshold → guess + reason).
  *   - clustering (tile roots, informational): global Moran's I over the
  *     coarsest zoom's tile feature counts — whether density is spatially
  *     autocorrelated, the forward-looking "pre-salt hot tiles" signal
  *     complementing the backward-looking skew verdict.
  *
  * All checks are metrics-table aggregations (file-level rows, thousands
  * per snapshot at 100 TB) plus ONE count over each snapshot's data for
  * conservation — no tile payload is ever collected.
  */
object QaReport {
  final case class Verdict(stage: String, snapshotId: Long, status: String,
                           metric: Double, threshold: Double, reason: String) {
    def ok: Boolean = status == "pass"
  }

  /** `delta = true` switches the cross-snapshot overlap check to
    * delta-tile semantics (streamed roots): duplicate tile_ids across
    * snapshots are EXPECTED there — each micro-batch commits that
    * batch's partial tiles — so overlap is reported as an informational
    * pass with the duplicate fraction, and the fix-forward action
    * (serving compaction) is named instead of flagging a resume bug.
    * `Main --report` auto-detects delta roots from stream manifest
    * notes (or takes `--delta` explicitly).
    */
  def verdicts(spark: SparkSession, root: String,
               skewFactor: Double = 2.0,
               driftRatio: Double = 3.0,
               delta: Boolean = false): Seq[Verdict] = {
    val manifests = Lineage.activeManifests(root)
    val active = manifests.keys.toSeq
    if (active.isEmpty)
      return Seq(Verdict("lineage", 0L, "unknown", 0, 0,
        "no committed snapshots under this root"))

    // one pass over the (tiny, file-level) metrics table: per-snapshot
    // row/byte totals + the skew quantities
    val perSnap: Map[Long, (Long, Long, Long, Long)] =
      Lineage.metricsTable(spark, root)
        .groupBy("snapshot_id")
        .agg(sum("row_count").as("rows"), sum("bytes").as("bytes"),
          max("bytes").as("max_file_bytes"),
          // exact median is fine: the agg input is one row per data FILE
          expr("percentile(bytes, 0.5)").cast("long").as("med_file_bytes"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))))
        .toMap

    val conservation = manifests.toSeq.flatMap { case (id, manifest) =>
      val (mRows, mBytes, _, _) = perSnap.getOrElse(id, (0L, 0L, 0L, 0L))
      manifest.map(m => (m.row_count, m.bytes)) match {
        case Failure(e) =>
          Seq(Verdict("conservation", id, "fail", 0, 0, e.getMessage))
        case Success((manRows, manBytes))
            if !Files.isDirectory(Paths.get(root, "data", s"snap-$id")) =>
          // a lost/deleted data directory is precisely the failure this
          // check exists to report — a verdict, not a read stack trace
          Seq(Verdict("conservation", id, "fail", 0, manRows.toDouble,
            s"data directory for snapshot $id is missing " +
              s"(manifest claims $manRows rows)"))
        case Success((manRows, manBytes))
            if !Files.isDirectory(Paths.get(root, "metrics", s"snap-$id")) =>
          // same filesystem-loss class as a lost data dir: the lineage
          // record itself is gone (metricsTable skips it to stay readable)
          Seq(Verdict("conservation", id, "fail", 0, manRows.toDouble,
            s"metrics directory for snapshot $id is missing " +
              s"(manifest claims $manRows rows; per-partition lineage lost)"))
        case Success((manRows, manBytes)) =>
          val dataRows = spark.read.parquet(s"$root/data/snap-$id").count()
          val okRows = manRows == mRows && mRows == dataRows
          val okBytes = manBytes == mBytes
          Seq(Verdict("conservation", id,
            if (okRows && okBytes) "pass" else "fail",
            dataRows.toDouble, manRows.toDouble,
            if (okRows && okBytes)
              s"manifest=$manRows rows / $manBytes B == metrics == data"
            else
              s"manifest=$manRows rows/$manBytes B, metrics=$mRows rows/$mBytes B, " +
                s"data=$dataRows rows — commit record does not match the table"))
      }
    }

    val skew = active.map { id =>
      val (_, _, maxB, medB) = perSnap.getOrElse(id, (0L, 0L, 0L, 0L))
      val amp = if (medB > 0) maxB.toDouble / medB else 0.0
      Verdict("skew", id, if (medB == 0 || amp <= skewFactor) "pass" else "fail",
        amp, skewFactor,
        f"max file $maxB B vs median $medB B → straggler amplification $amp%.2f× " +
          f"(gate ≤ $skewFactor%.1f×)")
    }

    // cross-snapshot tile_id disjointness: count duplicate-keyed rows
    // once (over snapshots whose data still exists — a missing dir is
    // already reported by the conservation verdict above)
    val present = active.filter(id =>
      Files.isDirectory(Paths.get(root, "data", s"snap-$id")))
    val overlap = if (present.size < 2) Seq.empty else {
      val all = spark.read
        .parquet(present.map(s => s"$root/data/snap-$s"): _*)
        .select("tile_id")
      val Array(total, distinct) = all
        .agg(count(lit(1)), count_distinct(col("tile_id")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val dup = total - distinct
      val frac = if (total > 0) dup.toDouble / total else 0.0
      if (delta)
        // streamed delta root: per-batch tiles legitimately share ids —
        // report the expected-overlap magnitude, point at the serving
        // compaction, never fail
        Seq(Verdict("overlap", 0L, "pass", frac, 1.0,
          f"delta root: $dup of $total tile rows share a tile_id across " +
            f"${present.size} snapshots (${frac * 100}%.1f%% expected stream " +
            "overlap) — run serving compaction (--compact) for one row per tile"))
      else Seq(Verdict("overlap", 0L, if (dup == 0) "pass" else "fail",
        frac, 0.0,
        if (dup == 0) s"$total rows across ${present.size} snapshots, all tile_ids disjoint"
        else f"$dup duplicate tile rows of $total (${frac * 100}%.1f%% of the table " +
          "re-encoded) — a resume ran without the committed-tile anti-join"))
    }

    val drift = if (active.size < 2) Seq.empty else {
      val bytesPerRow = active.flatMap { id =>
        val (r, b, _, _) = perSnap.getOrElse(id, (0L, 0L, 0L, 0L))
        if (r > 0) Some(id -> b.toDouble / r) else None
      }
      val med = {
        val s = bytesPerRow.map(_._2).sorted
        if (s.isEmpty) 0.0 else s(s.length / 2)
      }
      bytesPerRow.map { case (id, bpr) =>
        val ratio = if (med > 0) math.max(bpr / med, med / bpr) else 1.0
        Verdict("drift", id, if (ratio <= driftRatio) "pass" else "fail",
          ratio, driftRatio,
          f"$bpr%.1f B/tile vs table median $med%.1f → ratio $ratio%.2f× " +
            f"(gate ≤ $driftRatio%.1f×)" +
            (if (ratio <= driftRatio) ""
             else " — encode output drifted across resumes"))
      }
    }

    // spatial clustering (tile roots only): Moran's I over the finest
    // zoom's tile feature counts — the forward-looking skew signal. The
    // skew verdict above reports how the LAST write balanced; this one
    // says whether density is spatially autocorrelated (hot tiles have
    // hot neighbors), i.e. whether future shuffles over these keys need
    // pre-salting / AQE skew handling. Informational: always "pass",
    // the metric is the statistic itself.
    val clustering = {
      val withTiles = present.filter { id =>
        val df = spark.read.parquet(s"$root/data/snap-$id")
        Set("zoom", "x", "y", "n_features").subsetOf(df.columns.toSet)
      }
      if (withTiles.isEmpty) Seq.empty
      else {
        val df = spark.read
          .parquet(withTiles.map(s => s"$root/data/snap-$s"): _*)
        // the COARSEST zoom (min zoom): at the finest zoom most tiles
        // hold ~1 feature (a near-constant field, I ≈ 0 even over a
        // clustered corpus); coarse tiles aggregate the underlying
        // density, so neighbor correlation — the thing that predicts
        // skewed shuffle keys — is actually measurable there. Counts
        // are SUMMED per (x, y) first: gridMoransI assumes one row per
        // cell, and a streamed delta root commits the same tile id in
        // several snapshots — duplicate rows would double-count cells
        // and inflate the pair sums
        val zmin = df.agg(min(col("zoom").cast("long"))).head().getLong(0)
        val r = graft.operators.CellSmooth.gridMoransI(
          df.filter(col("zoom").cast("long") === zmin)
            .groupBy("x", "y")
            .agg(sum(col("n_features")).as("n_features")),
          "x", "y", "n_features").head()
        val i = r.getDouble(3)
        val e = r.getDouble(4)
        Seq(Verdict("clustering", 0L, "pass", i, e,
          f"zoom-$zmin tile counts: Moran's I $i%.3f vs E[I] $e%.4f under " +
            "spatial randomness — " +
            (if (i > e + 0.1)
              "density CLUSTERS (hot tiles have hot neighbors): expect " +
                "shuffle skew on tile keys; pre-salt hot tiles or rely on " +
                "AQE skew-join handling"
            else "no significant clustering: default hash partitioning is fine")))
      }
    }

    conservation ++ skew ++ overlap ++ drift ++ clustering
  }

  /** Verdicts as a DataFrame (for persisting next to the metrics table). */
  def verdictsTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    verdicts(spark, root)
      .toDF("stage", "snapshot_id", "status", "metric", "threshold", "reason")
  }

  /** One-screen consolidated report: a leading one-line verdict (the
    * reference's "looks **native**" / "looks **barycentric**" shape)
    * followed by per-stage detail lines.
    */
  def summary(vs: Seq[Verdict]): String = {
    val fails = vs.filterNot(v => v.status == "pass")
    val head =
      if (vs.exists(_.status == "unknown"))
        "Lineage looks **unknown** — " + vs.find(_.status == "unknown").get.reason
      else if (fails.isEmpty)
        s"Lineage looks **healthy** — ${vs.size} checks passed " +
          s"(${vs.map(_.stage).distinct.sorted.mkString(", ")})"
      else
        s"Lineage looks **degraded** — ${fails.size}/${vs.size} checks failed: " +
          fails.map(f => s"${f.stage}" +
            (if (f.snapshotId > 0) s"@snap-${f.snapshotId}" else "")).distinct
            .mkString(", ")
    val lines = vs.sortBy(v => (v.stage, v.snapshotId)).map { v =>
      val snap = if (v.snapshotId > 0) f"snap-${v.snapshotId}%-3d" else "table  "
      f"  [${v.status.toUpperCase}%-4s] ${v.stage}%-12s $snap ${v.reason}"
    }
    (head +: lines).mkString("\n")
  }

  def report(spark: SparkSession, root: String): String =
    report(spark, root, delta = false)

  def report(spark: SparkSession, root: String, delta: Boolean): String =
    summary(verdicts(spark, root, delta = delta))
}
