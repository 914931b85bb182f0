package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.geo
import graft.sources.{AdminPolygons, PolyRegistry}

/** Point-in-polygon join via hex-cell prefix (BASELINE.json north_star:
  * "point-in-polygon joins against admin-boundary polygons using a
  * broadcast R-tree per H3 cell prefix").
  *
  * Plan shape (the reference's broadcast-normalize join, SURVEY.md §2.3):
  *   points(lon,lat) --hex_cell(res)--> pip_query (codegen'd per-cell
  *   candidate lookup + exact ray-cast) --> explode --> (point, admin_id).
  *
  * The cell → candidate index is a pure function of the deterministic
  * registry, so every executor JVM builds the same one — the broadcast
  * without a broadcast. The point side never joins and never exchanges.
  */
object SpatialJoin {
  /** k-anonymity cell suppression (geo-privacy governance for published
    * training data): coarsen each point to a cell and DROP every cell
    * holding fewer than k points — no row in the output is localizable
    * below a crowd of k. Pure groupBy + semi-join; the big side shuffles
    * once on the cell key. Output: one row per surviving point with its
    * cell id and the cell's population.
    */
  def kAnonymizeCells(points: org.apache.spark.sql.DataFrame,
                      cell: org.apache.spark.sql.Column,
                      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val withCell = points.withColumn("cell", cell)
    val crowds = withCell.groupBy("cell")
      .agg(count(lit(1)).as("cell_n"))
      .filter(col("cell_n") >= k)
    withCell.join(crowds, "cell")
  }

  private def pipHits(res: Int, registry: Int, level: Option[Int]): Column =
    geo.pip_query(geo.hex_cell(col("lon"), col("lat"), lit(res)),
      col("lon"), col("lat"), registry, res, level.getOrElse(-1))

  /** Inner PIP: one row per (point, covering polygon); points matching
    * no polygon — and points with a null coordinate — drop out. `points`
    * must have `lon`, `lat` double columns; adds `admin_id`.
    */
  def pipJoinRtree(points: DataFrame, res: Int = AdminPolygons.CoverRes,
                   registry: Int = PolyRegistry.Admin,
                   level: Option[Int] = None): DataFrame =
    points.withColumn("admin_id", explode(pipHits(res, registry, level)))

  /** Zonal statistics — aggregate an integer per-point value over the
    * polygon containing each point (count + exact sum + mean): the
    * raster-analytics "summarize a field by admin zone" primitive. One
    * inner PIP (polygons never shuffle) followed by ONE hash aggregation
    * keyed by admin_id with map-side partial combine; the mean is a final
    * double ratio over two exact longs, so the distributed part is
    * order-insensitive under any partitioning.
    * Returns (admin_id, n_pts, sum_v, mean_v).
    */
  def zonalStats(points: DataFrame, valCol: String,
                 res: Int = AdminPolygons.CoverRes,
                 registry: Int = PolyRegistry.Admin): DataFrame =
    pipJoinRtree(points, res, registry)
      .groupBy("admin_id")
      .agg(count(lit(1)).as("n_pts"),
        sum(col(valCol).cast("long")).as("sum_v"))
      .withColumn("mean_v", round(
        col("sum_v").cast("double") / col("n_pts").cast("double"), 6))

  /** Left PIP tag: the inner path with `explode_outer`, so a point
    * matching no polygon (or with a null coordinate) keeps exactly one
    * row with null admin columns. The name is a pure function of the
    * registry id, so it attaches through a literal id → name map: no
    * join and no broadcast job. No window and no unique-key requirement
    * — the big side never exchanges, which removes the most expensive
    * shuffle of the MVT pipeline. Adds `admin_id`, `admin_name`.
    */
  def pipJoinLeftRtree(points: DataFrame, res: Int = AdminPolygons.CoverRes,
                       registry: Int = PolyRegistry.Admin,
                       level: Option[Int] = None): DataFrame = {
    val all = PolyRegistry.polys(registry)
    val polys = level.fold(all)(l => all.filter(_.level == l))
    val names = typedLit(polys.map(p => p.adminId -> p.name).toMap)
    points
      .withColumn("admin_id", explode_outer(pipHits(res, registry, level)))
      .withColumn("admin_name", names(col("admin_id")))
  }

  /** SQL text of the EXACT point-to-triangle squared distance: 0 when
    * the point is inside (half-plane test with the orientation-sum
    * interior side — the q105 discipline, so any ring orientation
    * works), else the min over the three edges of the clamped
    * point-to-segment distance². ONE string consumed BOTH by the engine
    * (via `expr`) and by the DuckDB oracle replay — the two evaluations
    * share their arithmetic text verbatim, so they cannot drift and the
    * doubles come out bit-identical. Constants are spelled
    * CAST(… AS DOUBLE) because DuckDB parses bare decimals as DECIMAL.
    */
  def pointTriDist2Sql(px: String, py: String,
                       v: Seq[(String, String)]): String = {
    require(v.size == 3)
    def orient(p: (String, String), q: (String, String),
               rx: String, ry: String): String =
      s"((${q._1} - ${p._1}) * ($ry - ${p._2}) - " +
        s"(${q._2} - ${p._2}) * ($rx - ${p._1}))"
    val inside = v.indices.map { i =>
      val p = v(i); val q = v((i + 1) % 3)
      val os = v.map(w => orient(p, q, w._1, w._2)).mkString("(", " + ", ")")
      val op = orient(p, q, px, py)
      s"(($os > 0 AND $op >= 0) OR ($os < 0 AND $op <= 0))"
    }.mkString("(", " AND ", ")")
    val edges = v.indices.map { i =>
      val (ax, ay) = v(i); val (bx, by) = v((i + 1) % 3)
      val dx = s"($bx - $ax)"; val dy = s"($by - $ay)"
      val t = s"greatest(CAST(0.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE), " +
        s"((($px - $ax) * $dx + ($py - $ay) * $dy) / ($dx * $dx + $dy * $dy))))"
      s"(((($ax + $t * $dx) - $px) * (($ax + $t * $dx) - $px)) + " +
        s"((($ay + $t * $dy) - $py) * (($ay + $t * $dy) - $py)))"
    }
    s"(CASE WHEN $inside THEN CAST(0.0 AS DOUBLE) " +
      s"ELSE least(${edges.mkString(", ")}) END)"
  }

  /** Nearest-polygon join within a radius: for every point, the CLOSEST
    * registry triangle at most `radiusDeg` away (planar degrees), with
    * its exact squared distance — the proximity companion of the PIP
    * join (inside → dist 0) and of q94's point-point distance band.
    *
    * Scale shape: the [[Overlay.gridPairs]] cover of each point against
    * each triangle's bbox EXPANDED by the radius (registry-sized
    * fan-out); a point covers exactly ONE cell, so every candidate pair
    * meets exactly once in one cell equi join — a naive dist ≤ r
    * predicate against the registry would plan as a nested loop. The
    * argmin is a point-keyed window ordered (dist2, admin_id) —
    * deterministic under ties because both engines see bit-identical
    * dist2.
    *
    * `tris` columns: (b_id, bx1, by1, bx2, by2, bx3, by3).
    */
  def nearestPolygonWithin(points: DataFrame, tris: DataFrame,
                           radiusDeg: Double, cellDeg: Double,
                           idCol: String = "doc_id"): DataFrame = {
    require(radiusDeg > 0.0)
    import org.apache.spark.sql.expressions.Window
    val pts = points.select(col(idCol), col("lon"), col("lat"))
    val (x0, x1, y0, y1) = Overlay.vertexBox("b", 3)
    val grown = (x0 - radiusDeg, x1 + radiusDeg, y0 - radiusDeg, y1 + radiusDeg)
    val d2 = expr(pointTriDist2Sql("lon", "lat",
      Seq(("bx1", "by1"), ("bx2", "by2"), ("bx3", "by3"))))
    val w = Window.partitionBy(idCol)
      .orderBy(col("__d2").asc, col("b_id").asc)
    Overlay.gridPairs(pts, (col("lon"), col("lon"), col("lat"), col("lat")),
        tris, grown, cellDeg)
      .withColumn("__d2", d2)
      .filter(col("__d2") <= lit(radiusDeg) * lit(radiusDeg))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("b_id").as("admin_id"),
        round(col("__d2"), 9).as("dist2"))
  }
}
