package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.geo

/** Neighborhood smoothing and Getis-Ord G* hotspot scoring over cell
  * grids — the standard "where are the dense urban cells" analytic that
  * decides which tiles get salted/skew-handled downstream.
  *
  * Shape at scale: contributions are an explode of the (2r+1)² window
  * offsets (bounded fan-out, codegen'd) followed by ONE hash aggregation
  * on the shifted key and a key-partitioned join back — no window over a
  * global order, no driver loop. Global mean/std ride a 1-row broadcast
  * cross join. The hex variant reuses the same shape with `hex_kring`
  * supplying the neighbor list.
  *
  * z-score uses the published Getis-Ord G* statistic with binary weights
  * over the PRESENT cells: z_i = (S_i − W_i·x̄) / (s·√((N·W_i − W_i²)/(N−1)))
  * where S_i / W_i are the value-sum / cell-count inside i's window and
  * x̄, s, N are the global mean / population std / cell count.
  */
object CellSmooth {
  /** cells(xCol, yCol, valCol) → + ring_sum, ring_n, z (round 6).
    * Square (2r+1)² window including self; only present cells produce
    * output rows (absent neighbors contribute nothing — sparse-grid
    * semantics, no edge clipping needed).
    */
  def gridHotspot(cells: DataFrame, xCol: String, yCol: String,
                  valCol: String, radius: Int = 1): DataFrame = {
    require(radius >= 1)
    val offsets = for { dx <- -radius to radius; dy <- -radius to radius }
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
    val contrib = cells.select(
        col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"),
        col(valCol).cast("double").as("__v"))
      .withColumn("__o", explode(array(offsets: _*)))
      .select((col("__x") + col("__o.dx")).as("__x"),
        (col("__y") + col("__o.dy")).as("__y"), col("__v"))
    val sums = contrib.groupBy("__x", "__y")
      .agg(sum("__v").as("ring_sum"), count(lit(1)).as("ring_n"))
    gStar(cells, valCol, cells
      .join(sums, col(xCol).cast("long") === col("__x") &&
        col(yCol).cast("long") === col("__y"))
      .drop("__x", "__y"))
  }

  /** Hex-grid variant: same contribute→aggregate→join shape with the
    * codegen'd kRing neighbor generator (window = all cells within ring
    * distance k, including self).
    */
  def hexHotspot(cells: DataFrame, cellCol: String, valCol: String,
                 k: Int = 1): DataFrame = {
    require(k >= 1)
    val contrib = cells.select(col(cellCol).cast("long").as("__c"),
        col(valCol).cast("double").as("__v"))
      .withColumn("__n", explode(geo.hex_kring(col("__c"), lit(k))))
      .select(col("__n").as("__c"), col("__v"))
    val sums = contrib.groupBy("__c")
      .agg(sum("__v").as("ring_sum"), count(lit(1)).as("ring_n"))
    gStar(cells, valCol,
      cells.join(sums, col(cellCol).cast("long") === col("__c")).drop("__c"))
  }

  /** The G* tail shared by both grids: `withSums` is `cells` joined to
    * its window's ring_sum / ring_n; global mean, population std and
    * count ride a 1-row broadcast cross join into the z-score.
    */
  private def gStar(cells: DataFrame, valCol: String,
                    withSums: DataFrame): DataFrame = {
    val stats = cells.agg(
      avg(col(valCol).cast("double")).as("__mu"),
      stddev_pop(col(valCol).cast("double")).as("__sd"),
      count(lit(1)).as("__N"))
    val wd = col("ring_n").cast("double")
    val denom = col("__sd") *
      sqrt((col("__N") * wd - wd * wd) / (col("__N") - lit(1)))
    withSums.crossJoin(broadcast(stats))
      .withColumn("z", round(
        when(col("__N") > 1 && col("__sd") > 0,
          (col("ring_sum") - wd * col("__mu")) / denom)
          .otherwise(lit(0.0)), 6))
      .withColumn("ring_sum", round(col("ring_sum"), 6))
      .drop("__mu", "__sd", "__N")
  }

  /** Global Moran's I — the one-number spatial-autocorrelation summary
    * that tells a pipeline whether its cell values cluster (I → +1, hot
    * tiles have hot neighbors → expect skew, pre-salt), repel (I → −1,
    * checkerboard) or scatter at random (I ≈ E[I] = −1/(N−1)). Queen
    * contiguity over the PRESENT cells of a sparse integer-valued grid:
    * w_ij = 1 for the 8 surrounding cells, so
    *   I = (N/W) · Σ_ij (x_i−x̄)(x_j−x̄) / Σ_i (x_i−x̄)².
    *
    * Scale + portability shape: the pair sums expand algebraically to
    * P = Σ x_i·x_j, Q = Σ (x_i+x_j), W = #pairs over the neighbor join
    * (offset-explode → ONE equi join, the gridHotspot shape), and the
    * base sums S, SS, N — ALL exact integer aggregates, so they are
    * order-insensitive under any partitioning (the q88 discipline: no
    * float accumulation order in the distributed part). The statistic is
    * then one fixed-order double expression over six exact longs:
    *   num = P − x̄·Q + W·x̄², den = SS − S·x̄, I = (N/W)·num/den.
    * Values are cast to long (counts); pair products must fit in a long
    * — cell counts ≤ ~3e9 with any realistic fan-in do.
    *
    * Returns one row: (n_cells, w_pairs, mean_val, moran_i, e_i), the
    * doubles rounded to 6 dp.
    */
  def gridMoransI(cells: DataFrame, xCol: String, yCol: String,
                  valCol: String): DataFrame = {
    val base = cells.select(col(xCol).cast("long").as("__x"),
      col(yCol).cast("long").as("__y"), col(valCol).cast("long").as("__v"))
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0 }
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
    val contrib = base
      .withColumn("__o", explode(array(offsets: _*)))
      .select((col("__x") + col("__o.dx")).as("__x"),
        (col("__y") + col("__o.dy")).as("__y"), col("__v").as("__vs"))
    val pairs = contrib.join(base, Seq("__x", "__y"))
      .agg(count(lit(1)).as("w_pairs"),
        coalesce(sum(col("__vs") * col("__v")), lit(0L)).as("__p"),
        coalesce(sum(col("__vs") + col("__v")), lit(0L)).as("__q"))
    val stats = base.agg(count(lit(1)).as("n_cells"),
      coalesce(sum("__v"), lit(0L)).as("__s"),
      coalesce(sum(col("__v") * col("__v")), lit(0L)).as("__ss"))
    val n = col("n_cells").cast("double")
    val w = col("w_pairs").cast("double")
    val mu = col("__s").cast("double") / n
    val num = col("__p").cast("double") - mu * col("__q").cast("double") +
      w * mu * mu
    val den = col("__ss").cast("double") - col("__s").cast("double") * mu
    stats.crossJoin(broadcast(pairs))
      .withColumn("mean_val",
        round(when(col("n_cells") > 0, mu).otherwise(lit(0.0)), 6))
      .withColumn("moran_i",
        round(when(col("w_pairs") > 0 && den > 0, n / w * num / den)
          .otherwise(lit(0.0)), 6))
      .withColumn("e_i",
        round(when(col("n_cells") > 1,
          lit(-1.0) / (n - lit(1.0))).otherwise(lit(0.0)), 6))
      .select(col("n_cells"), col("w_pairs"), col("mean_val"),
        col("moran_i"), col("e_i"))
  }

  /** (occupied-center, point) candidate pairs within `radiusDeg` of the
    * center, over the planar integer grid with `cellDeg`-degree cells —
    * the shared geometry of [[kdeSurface]] and [[idwGrid]]: distinct
    * occupied cells → bounded offset-explode of the covering ring →
    * ONE cell equi join → exact distance filter. Returns the center
    * keys (cx, cy), every point column, and `__dist2`.
    *
    * Scale shape: fan-out is O(rings²) per OCCUPIED CELL (not per
    * point), the join is a hash equi join on the 2-long cell key, and
    * no pair outside the ring cover is ever materialized — the naive
    * `dist ≤ r` formulation would plan as a nested-loop cartesian.
    */
  private def gridCandidates(points: DataFrame, lonCol: String,
                             latCol: String, cellDeg: Double,
                             radiusDeg: Double): DataFrame = {
    require(cellDeg > 0.0 && radiusDeg > 0.0)
    val pts = points
      .withColumn("__px",
        floor((col(lonCol) + lit(180.0)) / lit(cellDeg)).cast("long"))
      .withColumn("__py",
        floor((col(latCol) + lit(90.0)) / lit(cellDeg)).cast("long"))
    val centers = pts.select(col("__px").as("cx"), col("__py").as("cy"))
      .distinct()
      .withColumn("__lonc",
        (col("cx").cast("double") + lit(0.5)) * lit(cellDeg) - lit(180.0))
      .withColumn("__latc",
        (col("cy").cast("double") + lit(0.5)) * lit(cellDeg) - lit(90.0))
    // a point within r of the CENTER lies in a cell at Chebyshev index
    // distance ≤ r/cell + 1/2; +1 guards the float boundary
    val rings = math.ceil(radiusDeg / cellDeg + 0.5).toInt + 1
    val offsets = for { dx <- -rings to rings; dy <- -rings to rings }
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
    val d2 = (col("__lonc") - col(lonCol)) * (col("__lonc") - col(lonCol)) +
      (col("__latc") - col(latCol)) * (col("__latc") - col(latCol))
    centers
      .withColumn("__o", explode(array(offsets: _*)))
      .select(col("cx"), col("cy"), col("__lonc"), col("__latc"),
        (col("cx") + col("__o.dx")).as("__px"),
        (col("cy") + col("__o.dy")).as("__py"))
      .join(pts, Seq("__px", "__py"))
      .withColumn("__dist2", d2)
      .filter(col("__dist2") <= lit(radiusDeg) * lit(radiusDeg))
      .drop("__px", "__py")
  }

  /** Kernel density surface — density of `points` evaluated at the
    * center of every occupied grid cell with the quartic (biweight)
    * kernel K(d) = (1 − d²/r²)² hard-truncated at `radiusDeg` (planar
    * degrees, the metric of the kNN/DWithin family). The per-pair
    * kernel value is quantized to the 1/`scale` integer grid (via
    * floor(x+0.5) — binary-double arithmetic a SQL engine reproduces
    * exactly, unlike decimal-string rounding) and summed
    * as a LONG, so the distributed aggregation is order-insensitive
    * under any partitioning (the q88 discipline); the dist² and kernel
    * expressions are single fixed-order double formulas an external SQL
    * engine reproduces bit-for-bit.
    *
    * Returns (cx, cy, n_within, density_q): exact longs, density_q =
    * Σ round(K·scale).
    */
  def kdeSurface(points: DataFrame, lonCol: String, latCol: String,
                 cellDeg: Double, radiusDeg: Double,
                 scale: Double = 1e12): DataFrame = {
    val r2 = radiusDeg * radiusDeg
    val k1 = lit(1.0) - col("__dist2") / lit(r2)
    gridCandidates(points, lonCol, latCol, cellDeg, radiusDeg)
      // floor(x+0.5), not round(): Spark rounds the shortest-decimal
      // string (BigDecimal HALF_UP) while SQL engines round the binary
      // double — they disagree when the two straddle .5; floor on the
      // identical double cannot
      .withColumn("__kq", floor(k1 * k1 * lit(scale) + lit(0.5)).cast("long"))
      .groupBy("cx", "cy")
      .agg(count(lit(1)).as("n_within"),
        sum("__kq").as("density_q"))
  }

  /** Inverse-distance-weighted interpolation of `valCol` at the center
    * of every occupied grid cell, weights w = scale/(1 + d²) truncated
    * at `radiusDeg` — the classic IDW raster surface, distributed as
    * two exact integer sums (numerator Σ round(v·w), denominator
    * Σ round(w)) so accumulation order can't perturb the result; the
    * interpolated value is one final double ratio over the two longs.
    *
    * Returns (cx, cy, n_within, num_q, den_q, idw) with idw =
    * round(num_q/den_q, 6).
    */
  def idwGrid(points: DataFrame, lonCol: String, latCol: String,
              valCol: String, cellDeg: Double, radiusDeg: Double,
              scale: Double = 1e9): DataFrame = {
    val w = lit(scale) / (lit(1.0) + col("__dist2"))
    gridCandidates(points, lonCol, latCol, cellDeg, radiusDeg)
      .withColumn("__wq", floor(w + lit(0.5)).cast("long"))
      .withColumn("__nq",
        floor(col(valCol).cast("double") * w + lit(0.5)).cast("long"))
      .groupBy("cx", "cy")
      .agg(count(lit(1)).as("n_within"),
        sum("__nq").as("num_q"), sum("__wq").as("den_q"))
      .withColumn("idw", round(
        col("num_q").cast("double") / col("den_q").cast("double"), 6))
  }
}
