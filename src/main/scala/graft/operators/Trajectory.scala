package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-track polyline simplification — the trajectory twin of the
  * polygon tiler's Douglas-Peucker stage (there: clip→simplify at tile
  * resolution via JTS; here: the pure [[graft.core.DouglasPeucker]]
  * kernel per ordered point sequence).
  *
  * Scale shape: ONE shuffle keyed by the track id (`groupByKey` →
  * `mapGroups`), then per-group linear work and memory; the reduction
  * is embarrassingly parallel across tracks — 10¹² points distribute
  * by track cardinality, and a single pathological track that outgrows
  * an executor should be windowed upstream (q90-style chunking) before
  * simplification, exactly as a tile pipeline windows oversized
  * geometries.
  */
object Trajectory {

  /** Simplify each track at `tolDeg` (planar degrees — the kNN/DWithin
    * metric). Points are ordered by `orderCol` (ties → lon, lat: a
    * total order, so the result is partitioning-invariant). Returns
    * (idCol, n_in, n_kept, wkt) with wkt the kept polyline as
    * `LINESTRING(x y, …)` at 6 dp (Locale-stable).
    */
  def simplifyTracks(points: DataFrame, idCol: String, orderCol: String,
                     lonCol: String, latCol: String,
                     tolDeg: Double): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    require(tolDeg >= 0.0)
    points
      .select(col(idCol).cast("long"), col(orderCol).cast("long"),
        col(lonCol).cast("double"), col(latCol).cast("double"))
      .as[(Long, Long, Double, Double)]
      .groupByKey(_._1)
      .mapGroups { (id, it) =>
        val pts = it.toArray.sortBy(p => (p._2, p._3, p._4))
        val xs = pts.map(_._3)
        val ys = pts.map(_._4)
        val kept = graft.core.DouglasPeucker.simplifyIndices(xs, ys, tolDeg)
        val wkt = kept.iterator.map { i =>
          String.format(java.util.Locale.ROOT, "%.6f %.6f",
            xs(i).asInstanceOf[AnyRef], ys(i).asInstanceOf[AnyRef])
        }.mkString("LINESTRING(", ", ", ")")
        (id, pts.length.toLong, kept.length.toLong, wkt)
      }
      .toDF(idCol, "n_in", "n_kept", "wkt")
  }

  /** Region EXPOSURE: total in-polygon track length per (track,
    * polygon) — "how long does each track spend inside each admin
    * region", the time-in-region analysis over the same machinery as
    * the crossing join. Candidates come from the [[Overlay.gridPairs]]
    * bbox cover (each pair clipped exactly once); the clipped length is
    * the codegen'd parametric half-plane interval
    * ([[Overlay.segTriClipLenSql]], shared verbatim with the oracle),
    * and per-pair lengths are quantized to a 1e-9 integer grid BEFORE
    * the per-(track, region) sum so the aggregate is order-insensitive
    * (the q88 discipline).
    *
    * `segs`: (idCols..., ax1, ay1, ax2, ay2); `tris`: (admin_id,
    * bx1, by1, bx2, by2, bx3, by3). Output: idCols..., admin_id,
    * n_segs, len_deg (round 6).
    */
  def regionExposure(segs: DataFrame, tris: DataFrame, cellDeg: Double,
                     idCols: Seq[String] = Seq("user_id")): DataFrame = {
    val len = expr(Overlay.segTriClipLenSql("ax1", "ay1", "ax2", "ay2",
      Seq(("bx1", "by1"), ("bx2", "by2"), ("bx3", "by3"))))
    Overlay.gridPairs(segs, Overlay.vertexBox("a", 2),
        tris, Overlay.vertexBox("b", 3), cellDeg)
      .withColumn("__len", len)
      .filter(col("__len") > 0.0)
      .withColumn("__len_e9",
        floor(col("__len") * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy((idCols :+ "admin_id").map(col): _*)
      .agg(count(lit(1)).as("n_segs"),
        round(sum(col("__len_e9")).cast("double") / lit(1e9), 6)
          .as("len_deg"))
  }

  /** DWELL EPISODES (stay-point detection at cell resolution): maximal
    * runs of CONSECUTIVE track points inside one grid cell, kept when
    * they span ≥ minPts points and ≥ minDurUs of event time — "where
    * did this track stop". The run id is the classic gaps-and-islands
    * construction (seq − row_number within (track, cell)): consecutive
    * same-cell points share it, a cell revisit after leaving starts a
    * new run. Pure window + aggregate — ONE (track, cell)-keyed window
    * and ONE hash agg, both shuffles inherent; no self-join, no state.
    *
    * `points`: idCol, orderCol (consecutive 1..n per track — use
    * row_number upstream), cellCol, tUsCol (epoch micros). Output:
    * idCol, cellCol, start_seq, n_pts, dur_us.
    */
  def dwellEpisodes(points: DataFrame, idCol: String, orderCol: String,
                    cellCol: String, tUsCol: String,
                    minPts: Int, minDurUs: Long): DataFrame = {
    require(minPts >= 1 && minDurUs >= 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol, cellCol).orderBy(orderCol)
    points
      .withColumn("__grp", col(orderCol) - row_number().over(w))
      .groupBy(col(idCol), col(cellCol), col("__grp"))
      .agg(min(col(orderCol)).as("start_seq"),
        count(lit(1)).as("n_pts"),
        (max(col(tUsCol)) - min(col(tUsCol))).as("dur_us"))
      .filter(col("n_pts") >= minPts && col("dur_us") >= minDurUs)
      .select(col(idCol), col(cellCol), col("start_seq"),
        col("n_pts"), col("dur_us"))
  }
}
