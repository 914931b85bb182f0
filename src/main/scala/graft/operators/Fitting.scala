package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-fitting operators (reference §2.7): the reference's
  * np.polyfit(deg=1) call sites (reference: mvt/run_mvt_espre.py:95,
  * mvt/residuals.py:95,257, mvt/matrix.py:313) map to closed-form OLS as
  * pure Catalyst aggregates — slope = covar_pop/var_pop, intercept from
  * the means — codegen'd, partial-aggregated, one pass.
  */
object Fitting {
  /** Per-group simple linear regression y ~ a + b·x. */
  def linearFit(df: DataFrame, groupCols: Seq[String], x: Column, y: Column,
                round6: Boolean = true): DataFrame = {
    val slope = covar_pop(x, y) / var_pop(x)
    val intercept = avg(y) - slope * avg(x)
    val r = df.groupBy(groupCols.map(col): _*)
      .agg(
        (if (round6) round(slope, 6) else slope).as("slope"),
        (if (round6) round(intercept, 6) else intercept).as("intercept"),
        count(lit(1)).as("n"))
    r
  }

  /** Robust location/scale per group: median + MAD·1.4826 (reference:
    * mvt/frameqa.py:30-34 `_baseline_band_stats`, mvt/frameguess.py:9-13
    * `_mad`) — two-pass exact (median join back for the |x−med| pass).
    */
  def robustStats(df: DataFrame, groupCols: Seq[String], v: Column): DataFrame = {
    val med = df.groupBy(groupCols.map(col): _*)
      .agg(median(v).as("med"))
    df.join(med, groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(
        first(col("med")).as("median"),
        round(median(abs(v - col("med"))) * 1.4826, 6).as("mad_sigma"),
        count(lit(1)).as("n"))
      .withColumn("median", round(col("median"), 6))
  }

  /** Per-group NONLINEAR Gaussian model fit (reference:
    * mvt/fitlines.py:19-35, mvt/frameqa.py:15-28): y = a·exp(−(x−μ)²/2σ²)
    * by Gauss–Newton/Levenberg per group via mapGroups — each group's
    * samples (one model's grid) are collected locally, sorted by (x, y)
    * for deterministic accumulation, and fit with graft.core.GaussFit.
    * Scale shape: groups fan out across executors; a group = one model's
    * sample set (bounded — the reference fits per spectral window / per
    * row), never the whole table.
    *
    * Group columns are returned as strings (callers cast back as needed).
    */
  def gaussianFit(df: DataFrame, groupCols: Seq[String], x: Column, y: Column,
                  maxIter: Int = 40): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sep = ""
    val keyed = df.select(
        concat_ws(sep, groupCols.map(c => col(c).cast("string")): _*).as("gk"),
        x.cast("double").as("x"), y.cast("double").as("y"))
      .as[(String, Double, Double)]
    val fitted = keyed.groupByKey(_._1).mapGroups { (k, it) =>
      val pts = it.map(t => (t._2, t._3)).toArray.sorted
      val r = graft.core.GaussFit.fit(pts.map(_._1), pts.map(_._2), maxIter)
      (k, r.amp, r.mu, r.sigma, pts.length.toLong)
    }.toDF("gk", "amp_raw", "mu_raw", "sigma_raw", "n")
    val groupsBack = groupCols.zipWithIndex.map { case (c, i) =>
      split(col("gk"), sep).getItem(i).as(c)
    }
    // `+ 0.0` after rounding normalizes IEEE signed zero (−0.0 + 0.0 = +0.0):
    // a fit converging to ~−4e-17 must hash identically to an oracle's +0.0.
    fitted.select((groupsBack ++ Seq(
      (round(col("amp_raw"), 6) + lit(0.0)).as("amp"),
      (round(col("mu_raw"), 6) + lit(0.0)).as("mu"),
      (round(col("sigma_raw"), 6) + lit(0.0)).as("sigma"),
      col("n"))): _*)
  }

  /** Huber IRLS robust regression y ~ b0 + b1·x per group (reference:
    * mvt/detrend.py:36-41 `rlm_detrend`): OLS init → robust scale
    * s = 1.4826·median|r| (fixed thereafter) → `iters` weighted
    * closed-form OLS passes with Huber weights w = min(1, k·s/|r|).
    * Every pass is pure partial-aggregated column math over one scan —
    * the driver only carries the per-group coefficient table between
    * passes (SURVEY §2.7's prescribed mechanism). Fixed iteration count
    * makes the result DuckDB-replicable exactly.
    */
  def huberFit(df: DataFrame, groupCols: Seq[String], x: Column, y: Column,
               iters: Int = 3, k: Double = 1.345): DataFrame = {
    val gcols = groupCols.map(col)
    val base = df.select((gcols :+ x.cast("double").as("x") :+
      y.cast("double").as("y")): _*)
    val olsSlope = covar_pop(col("x"), col("y")) / var_pop(col("x"))
    val ols = base.groupBy(gcols: _*)
      .agg(olsSlope.as("b1"), (avg(col("y")) - olsSlope * avg(col("x"))).as("b0"))
    val scale = base.join(ols, groupCols)
      .groupBy(gcols: _*)
      .agg((median(abs(col("y") - (col("b0") + col("b1") * col("x")))) * 1.4826)
        .as("s"))
    var params = ols.join(scale, groupCols)
    for (_ <- 1 to iters) {
      val r = col("y") - (col("b0") + col("b1") * col("x"))
      val w = when(col("s") <= 0 || abs(r) <= lit(k) * col("s"), lit(1.0))
        .otherwise(lit(k) * col("s") / abs(r))
      val sums = base.join(params, groupCols)
        .withColumn("w", w)
        .groupBy(gcols: _*)
        .agg(first(col("s")).as("s"),
          sum(col("w")).as("sw"), sum(col("w") * col("x")).as("swx"),
          sum(col("w") * col("y")).as("swy"),
          sum(col("w") * col("x") * col("x")).as("swxx"),
          sum(col("w") * col("x") * col("y")).as("swxy"),
          count(lit(1)).as("n"))
      val b1 = (col("sw") * col("swxy") - col("swx") * col("swy")) /
        (col("sw") * col("swxx") - col("swx") * col("swx"))
      params = sums.select((gcols ++ Seq(
        ((col("swy") - b1 * col("swx")) / col("sw")).as("b0"),
        b1.as("b1"), col("s"), col("n"))): _*)
    }
    params.select((gcols ++ Seq(
      round(col("b0"), 6).as("intercept"),
      round(col("b1"), 6).as("slope"),
      round(col("s"), 6).as("scale"),
      col("n"))): _*)
  }

  /** Per-group trapezoid integral of y over x (reference:
    * mvt/fitlines.py:28-30 EW trapezoid): Σ (xᵢ−xᵢ₋₁)(yᵢ+yᵢ₋₁)/2 over
    * rows ordered by (x, y) — one window pass + one aggregation.
    */
  def trapezoidIntegral(df: DataFrame, groupCols: Seq[String],
                        x: Column, y: Column): DataFrame = {
    val gcols = groupCols.map(col)
    val w = Window.partitionBy(gcols: _*).orderBy(col("x").asc, col("y").asc)
    df.select((gcols :+ x.cast("double").as("x") :+ y.cast("double").as("y")): _*)
      .withColumn("xp", lag(col("x"), 1).over(w))
      .withColumn("yp", lag(col("y"), 1).over(w))
      .groupBy(gcols: _*)
      .agg(round(sum((col("x") - col("xp")) * (col("y") + col("yp")) / 2.0), 6)
        .as("integral"),
        count(lit(1)).as("n"))
  }

  /** Support-driven auto-shrink stack (reference: mvt/matrix.py:246-287):
    * bin `v` on a fine grid; a bin is valid when it holds ≥ `minPerBin`
    * rows. If the valid fraction < `minFracFine` OR fewer than `minBins`
    * bins are valid, RETRY on the `shrink`× coarser grid with the relaxed
    * `minFracCoarse` threshold; if that also fails, the group FAILS
    * (null stats). Both grids are evaluated in ONE pass and the retry is
    * a per-group column-level selection — the reference's sequential
    * retry reshaped so no second scan of the input is needed.
    * Output: group cols, grid ('fine'|'coarse'|'fail'), n_valid_bins,
    * med (median of v over rows in valid bins of the chosen grid).
    */
  def autoShrinkStack(df: DataFrame, groupCols: Seq[String], v: Column,
                      binWidth: Double, shrink: Int = 2, minPerBin: Int = 10,
                      minFracFine: Double = 0.3, minFracCoarse: Double = 0.2,
                      minBins: Int = 5): DataFrame = {
    val gcols = groupCols.map(col)
    val binned = df.select((gcols :+ v.cast("double").as("v")): _*)
      .withColumn("bf", floor(col("v") / binWidth).cast("long"))
      .withColumn("bc", floor(col("v") / (binWidth * shrink)).cast("long"))

    // per grid level: bins counted ONCE, feeding both the valid-bin
    // stats and the median over rows in valid bins (computed for all
    // groups, selected per the chosen grid below)
    def level(binCol: String, fracMin: Double, tag: String) = {
      val counts = binned.groupBy((gcols :+ col(binCol)): _*)
        .agg(count(lit(1)).as("bin_n"))
      val stats = counts.groupBy(gcols: _*).agg(
        count(lit(1)).as("n_bins"),
        sum(when(col("bin_n") >= minPerBin, 1L).otherwise(0L)).as(s"nv_$tag"))
        .withColumn(s"ok_$tag", col(s"nv_$tag") >= minBins &&
          col(s"nv_$tag").cast("double") / col("n_bins") >= fracMin)
        .drop("n_bins")
      val med = binned.join(counts, groupCols :+ binCol)
        .filter(col("bin_n") >= minPerBin)
        .groupBy(gcols: _*).agg(median(col("v")).as(s"med_$tag"))
      stats.join(med, groupCols, "left")
    }
    level("bf", minFracFine, "f")
      .join(level("bc", minFracCoarse, "c"), groupCols)
      .withColumn("grid", when(col("ok_f"), lit("fine"))
        .when(col("ok_c"), lit("coarse")).otherwise(lit("fail")))
      .select((gcols ++ Seq(
        col("grid"),
        when(col("grid") === "fine", col("nv_f"))
          .when(col("grid") === "coarse", col("nv_c")).as("n_valid_bins"),
        round(when(col("grid") === "fine", col("med_f"))
          .when(col("grid") === "coarse", col("med_c")), 6).as("med"))): _*)
  }

  /** Per-group robust stack: median with min-support gate (reference:
    * mvt/stack.py:20-55 robust_nanmedian — NaN where support < k) plus
    * exact p16/p84 band (reference: mvt/stack.py:7-18).
    */
  def robustStack(df: DataFrame, groupCols: Seq[String], v: Column,
                  minValid: Int): DataFrame = {
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(v).as("n_valid"),
        median(v).as("med_raw"),
        percentile(v, lit(0.16)).as("p16_raw"),
        percentile(v, lit(0.84)).as("p84_raw"))
      .select(
        (groupCols.map(col) ++ Seq(
          col("n_valid"),
          round(when(col("n_valid") >= minValid, col("med_raw")), 6).as("med"),
          round(when(col("n_valid") >= minValid, col("p16_raw")), 6).as("p16"),
          round(when(col("n_valid") >= minValid, col("p84_raw")), 6).as("p84"))): _*)
  }
}
