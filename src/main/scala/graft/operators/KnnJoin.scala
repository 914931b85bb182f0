package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.HexGrid
import graft.functions.geo

/** Exact k-nearest-neighbor join via hex cell-ring expansion (BASELINE.json
  * north_star: "computes kNN via cell-ring expansion"). Two-phase exact
  * algorithm — no driver loop over data, both phases are joins:
  *
  *  phase 1 (probe): join queries to points in kRing(qcell, probeRings) →
  *    per-query candidate distances → kth-distance upper bound d_k.
  *    Queries with < k candidates re-probe at doubled rings.
  *  phase 2 (guarantee): expand each query to every cell within ring
  *    distance ceil(d_k/inradius)+1 — geometry guarantees every true
  *    neighbor is inside — join, rank, take k. Exact by construction.
  *
  * Distance metric: squared planar degrees (matches the SQL oracle).
  */
object KnnJoin {
  private def d2(qLon: Column, qLat: Column, pLon: Column, pLat: Column): Column =
    (qLon - pLon) * (qLon - pLon) + (qLat - pLat) * (qLat - pLat)

  /** queries(q_id, q_lon, q_lat) × points(p_id, lon, lat) → top-k rows
    * (q_id, p_id, dist2, rank). `res` picks the grid granularity;
    * `probeRings` the phase-1 neighborhood.
    */
  def knn(queries: DataFrame, points: DataFrame, k: Int, res: Int = 4,
          probeRings: Int = 2): DataFrame = {
    // probeRings = 0 would pin the ring-doubling re-probe at 0 rings
    // forever (0·2 = 0): the sparse-query loop must be able to grow
    require(probeRings >= 1, "probeRings must be >= 1")
    val inradius = HexGrid.radius(res) * math.sqrt(3.0) / 2.0
    val pts = points
      .withColumn("__pcell", geo.hex_cell(col("lon"), col("lat"), lit(res)))
    // LEFT join: a query keeps a (null) row when its cells hold no point,
    // and a left join can only broadcast the point side, never the
    // ring-exploded query side (which grows 4× per doubling round)
    def probe(q: DataFrame, rings: Int) = q
      .withColumn("__cell", explode(geo.hex_kring(col("__qcell"), lit(rings))))
      .join(pts, col("__cell") === col("__pcell"), "left")
      .withColumn("__d2", d2(col("q_lon"), col("q_lat"), col("lon"), col("lat")))
    val wq = Window.partitionBy("q_id").orderBy(col("__d2").asc_nulls_last)

    // ---- phase 1: probe rounds → per-query kth-distance bound. Round one
    // probes every query at `probeRings`; queries with < k candidates
    // (sparse regions) re-probe at 2×, 4×, … rings, each round the same
    // cell equi join (never a nested-loop cross join). Once rings cover
    // the whole domain the candidates ARE all points: exact for datasets
    // with fewer than k points. All-dense: one checkpoint + one head(1).
    val worldRings = math.ceil(
      math.sqrt(360.0 * 360.0 + 180.0 * 180.0) / inradius).toInt + 1
    val qCols = Seq("q_id", "q_lon", "q_lat", "__qcell")
    var sparse = queries
      .select(col("q_id"), col("q_lon"), col("q_lat"),
        geo.hex_cell(col("q_lon"), col("q_lat"), lit(res)).as("__qcell"))
    var rings = probeRings
    val graduated = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var leftover: DataFrame = null // total-coverage candidates (< k points)
    var done = false
    while (!done) {
      // one row per probed query, __rings null while it has < k candidates;
      // checkpointed so the probe/window/agg subtree runs ONCE for the
      // sparse check and phase 2 both
      val bounds = probe(sparse, rings)
        .withColumn("__rn", row_number().over(wq))
        .filter(col("__rn") <= k)
        .groupBy(qCols.map(col): _*)
        .agg(max(col("__d2")).as("__dk"), count(col("__d2")).as("__found"))
        .select((qCols.map(col) :+ when(col("__found") >= k,
          ceil(sqrt(col("__dk")) / inradius).cast("int") + lit(1)).as("__rings")): _*)
        .localCheckpoint(true)
      graduated += bounds.filter(col("__rings").isNotNull)
      sparse = bounds.filter(col("__rings").isNull).drop("__rings")
      done = sparse.head(1).isEmpty
      if (!done) {
        rings = math.min(rings.toLong * 2L, worldRings.toLong).toInt
        if (rings >= worldRings) {
          leftover = probe(sparse, rings).filter(col("__pcell").isNotNull)
            .select(col("q_id"), col("p_id"), col("__d2").as("dist2"))
          done = true
        }
      }
    }

    // ---- phase 2: guaranteed-coverage join + exact top-k
    val cand = graduated.reduce(_ unionByName _)
      .withColumn("__cell", explode(geo.hex_kring(col("__qcell"), col("__rings"))))
      .join(pts, col("__cell") === col("__pcell"))
      .withColumn("dist2", d2(col("q_lon"), col("q_lat"), col("lon"), col("lat")))
      .select("q_id", "p_id", "dist2")
    val w = Window.partitionBy("q_id")
      .orderBy(col("dist2").asc, col("p_id").asc)
    (if (leftover == null) cand else cand.unionByName(leftover))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("p_id"), round(col("dist2"), 9).as("dist2"), col("rank"))
  }

  /** Distance-band (DWithin) join — every (query, point) pair within
    * `radiusDeg` planar degrees (the metric of [[knn]] and its oracle):
    * the "all pairs within r" spatial predicate that a naive
    * `dist(q,p) <= r` join plans as a BroadcastNestedLoopJoin. One
    * kRing explode on the query side (rings = ⌈r/inradius⌉+1 — the
    * phase-2 coverage geometry) → ONE cell equi join → exact distance
    * filter. A pair meets exactly once, in the point's own cell, so no
    * distinct pass is needed. Fan-out is O(rings²) cells per query:
    * pick `res` so the cell inradius is near `radiusDeg` and rings
    * stays ~2. Hot cells fall under AQE skew handling like any hash
    * join. Returns (q_id, p_id, dist2) plus any `carry` columns — extra
    * per-side attributes (e.g. an event-time column on each side) that
    * ride the ONE cell equi join instead of being joined back to the
    * pair set afterwards (each such join-back is a full shuffle of the
    * pair set at scale).
    */
  def withinRadius(queries: DataFrame, points: DataFrame,
                   radiusDeg: Double, res: Int = 4,
                   carry: Seq[String] = Nil): DataFrame = {
    require(radiusDeg > 0.0)
    val inradius = HexGrid.radius(res) * math.sqrt(3.0) / 2.0
    val rings = math.ceil(radiusDeg / inradius).toInt + 1
    val pts = points
      .withColumn("__pcell", geo.hex_cell(col("lon"), col("lat"), lit(res)))
    queries
      .withColumn("__qcell", geo.hex_cell(col("q_lon"), col("q_lat"), lit(res)))
      .withColumn("__cell", explode(geo.hex_kring(col("__qcell"), lit(rings))))
      .join(pts, col("__cell") === col("__pcell"))
      .withColumn("dist2",
        d2(col("q_lon"), col("q_lat"), col("lon"), col("lat")))
      .filter(col("dist2") <= lit(radiusDeg) * lit(radiusDeg))
      .select(col("q_id") +: col("p_id") +:
        round(col("dist2"), 9).as("dist2") +: carry.map(col): _*)
  }
}
