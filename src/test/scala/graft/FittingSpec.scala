package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FittingSpec extends AnyFunSuite {
  import SharedSpark._

  test("closed-form OLS matches scalar least squares") {
    import spark.implicits._
    val pts = (0 until 500).map { i =>
      val x = i.toDouble
      ("g", x, 3.5 * x + 7.25 + math.sin(i) * 0.01)
    }
    val got = graft.operators.Fitting.linearFit(
      pts.toDF("g", "x", "y"), Seq("g"), col("x"), col("y")).head
    assert(math.abs(got.getDouble(1) - 3.5) < 1e-3)
    assert(math.abs(got.getDouble(2) - 7.25) < 0.1)
  }

  test("robust stats: median/MAD correct on a known sample") {
    import spark.implicits._
    val vals = Seq(1.0, 2.0, 3.0, 4.0, 100.0) // outlier
    val got = graft.operators.Fitting.robustStats(
      vals.map(("g", _)).toDF("g", "v"), Seq("g"), col("v")).head
    assert(got.getDouble(1) === 3.0) // median
    assert(math.abs(got.getDouble(2) - 1.4826) < 1e-6) // MAD=1 → sigma
  }

  test("Gauss-Newton recovers exact Gaussian parameters per group") {
    import spark.implicits._
    val pts = for {
      g <- 0 until 3
      i <- 0 until 81
    } yield {
      val x = (i - 40) / 10.0
      val amp = 2.0 + g; val mu = (g - 1) * 0.5; val sg = 0.8 + g * 0.1
      (g.toString, x, amp * math.exp(-(x - mu) * (x - mu) / (2 * sg * sg)))
    }
    val got = graft.operators.Fitting.gaussianFit(
        pts.toDF("g", "x", "y"), Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    for (g <- 0 until 3) {
      val (a, m, s) = got(g.toString)
      assert(math.abs(a - (2.0 + g)) < 1e-6, s"amp g=$g got $a")
      assert(math.abs(m - (g - 1) * 0.5) < 1e-6, s"mu g=$g got $m")
      assert(math.abs(s - (0.8 + g * 0.1)) < 1e-6, s"sigma g=$g got $s")
    }
  }

  test("Gauss-Newton converges from noisy data to the least-squares optimum") {
    val xs = Array.tabulate(101)(i => (i - 50) / 10.0)
    val ys = xs.zipWithIndex.map { case (x, i) =>
      5.0 * math.exp(-(x - 0.3) * (x - 0.3) / (2 * 1.1 * 1.1)) +
        math.sin(i * 12.9898) * 0.02 // deterministic pseudo-noise
    }
    val r = graft.core.GaussFit.fit(xs, ys)
    assert(r.converged)
    assert(math.abs(r.amp - 5.0) < 0.05)
    assert(math.abs(r.mu - 0.3) < 0.02)
    assert(math.abs(r.sigma - 1.1) < 0.03)
  }

  test("Huber IRLS resists outliers that pull OLS off the true line") {
    import spark.implicits._
    // true line y = 2x + 1 with 10% gross outliers
    val pts = (0 until 400).map { i =>
      val x = i / 40.0
      val y = if (i % 10 == 0) 2.0 * x + 1.0 + 80.0 else 2.0 * x + 1.0
      ("g", x, y)
    }
    val df = pts.toDF("g", "x", "y")
    val hub = graft.operators.Fitting.huberFit(df, Seq("g"), col("x"), col("y"),
      iters = 3).head
    val ols = graft.operators.Fitting.linearFit(df, Seq("g"), col("x"), col("y")).head
    // outliers are uniform in x: they bias the INTERCEPT (by ~+8 for OLS);
    // Huber down-weighting must shrink that bias by an order of magnitude
    val hubB0 = hub.getDouble(1); val olsB0 = ols.getDouble(2)
    assert(math.abs(olsB0 - 1.0) > 5.0, s"fixture: ols intercept $olsB0")
    assert(math.abs(hubB0 - 1.0) < math.abs(olsB0 - 1.0) / 4.0,
      s"huber $hubB0 vs ols $olsB0")
    assert(math.abs(hub.getDouble(2) - 2.0) < 0.1) // slope stays true
  }

  test("trapezoid integral matches the closed form on a known curve") {
    import spark.implicits._
    // y = x over x in 0..10 step 0.5 → ∫ = 50 exactly under trapezoid
    val pts = (0 to 20).map(i => ("g", i * 0.5, i * 0.5))
    val got = graft.operators.Fitting.trapezoidIntegral(
      pts.toDF("g", "x", "y"), Seq("g"), col("x"), col("y")).head
    assert(math.abs(got.getDouble(1) - 50.0) < 1e-9)
    assert(got.getLong(2) === 21L)
  }

  test("auto-shrink stack: fine accepted, coarse retry, hard fail") {
    import spark.implicits._
    // gFine: dense uniform → fine grid OK.  gCoarse: values spread so fine
    // bins are sparse but coarse bins pass.  gFail: every bin under-filled.
    val fine = (0 until 600).map(i => ("gFine", (i % 20).toDouble + 0.5))
    val coarse = (0 until 600).map(i => ("gCoarse", (i % 40) * 0.999))
    val fail = (0 until 90).map(i => ("gFail", i.toDouble * 2.0))
    val df = (fine ++ coarse ++ fail).toDF("g", "v")
    val got = graft.operators.Fitting.autoShrinkStack(df, Seq("g"), col("v"),
        binWidth = 1.0, shrink = 2, minPerBin = 20, minFracFine = 0.3,
        minFracCoarse = 0.2, minBins = 5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("gFine") === "fine")
    assert(got("gCoarse") === "coarse")
    assert(got("gFail") === "fail")
  }

  test("robust stack gates groups below min support") {
    import spark.implicits._
    val df = (Seq.fill(60)(("big", 1.0)) ++ Seq.fill(10)(("small", 2.0)))
      .toDF("g", "v")
    val got = graft.operators.Fitting.robustStack(df, Seq("g"), col("v"), 50)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("big").getDouble(2) === 1.0)
    assert(got("small").isNullAt(2)) // below support → gated to null
  }
}

class BootstrapSpec extends AnyFunSuite {
  import SharedSpark._

  test("bootstrap envelope brackets the true median and is deterministic") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val r1 = graft.operators.Bootstrap.medianEnvelope(
      ev, Seq("event_type"), col("value"), nBoot = 50).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val trueMed = ev.groupBy("event_type").agg(median(col("value")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    r1.foreach { case (g, (bm, p16, p84)) =>
      assert(p16 <= bm && bm <= p84)
      assert(p16 <= trueMed(g) && trueMed(g) <= p84,
        s"$g: true=${trueMed(g)} env=[$p16,$p84]")
    }
    // determinism
    val r2 = graft.operators.Bootstrap.medianEnvelope(
      ev, Seq("event_type"), col("value"), nBoot = 50).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(r1 === r2)
  }
}

class BinaryPagesSpec extends AnyFunSuite {
  import SharedSpark._

  test("binaryFile glob scan round-trips the frozen extraction rule") {
    val dir = java.nio.file.Files.createTempDirectory("graft-html").toString
    val pages = graft.sources.SynthPages.pagesDF(spark, 20)
    graft.sources.BinaryPages.writeHtmlFiles(pages, dir)
    val back = graft.sources.BinaryPages.readHtmlDir(spark, dir)
    assert(back.count() === 20)
    val texts = back.select("text").collect().map(_.getString(0)).sorted
    val orig = pages.select("text").collect().map(_.getString(0)).sorted
    assert(texts.toSeq === orig.toSeq) // byte-identical extraction
  }
}

class InjectionSpec extends AnyFunSuite {
  import SharedSpark._
  import graft.operators.Injection

  /** Clean profiles (zero residual noise): recovery must be EXACT —
    * the stacked median of identical injected kernels is the kernel,
    * whose windowed minimum is at x=0 where it equals -depth. */
  test("zero-noise recovery is exact and the bootstrap envelope is degenerate") {
    import spark.implicits._
    val prof = spark.range(0, 6 * 81, 1, 4)
      .select((col("id") / 81).cast("long").as("exp"),
        ((pmod(col("id"), lit(81)).cast("double") - 40.0) / 10.0).as("x"),
        lit(0.0).as("y"), lit(true).as("in_transit"))
    val sweep = Injection.depthSweep(prof, Seq(0.0, 0.05, 0.10),
      sigma = 1.0, halfWindow = 2.0, nBoot = 16)
      .orderBy("inj_depth_percent").collect()
    assert(sweep.map(_.getDouble(0)).toSeq === Seq(0.0, 5.0, 10.0))
    sweep.foreach { r =>
      assert(r.getDouble(1) === r.getDouble(0)) // rec == inj exactly
      assert(r.getDouble(2) === r.getDouble(0)) // lo degenerate
      assert(r.getDouble(3) === r.getDouble(0)) // hi degenerate
    }
  }

  test("sweep is parallelism-invariant and OOT exposures are excluded") {
    val base = Injection.profilesFromEvents(
      spark.read.parquet(s"$sfDir/events.parquet"))
    def run(parts: Int) = Injection.depthSweep(base.repartition(parts),
      Seq(0.01, 0.10), sigma = 1.0, halfWindow = 1.5, nBoot = 32)
      .orderBy("inj_depth_percent").collect().toSeq
    assert(run(1) === run(7))
    // envelope brackets: lo <= hi, recovery monotone in injection
    val rows = run(4)
    rows.foreach(r => assert(r.getDouble(2) <= r.getDouble(3)))
    assert(rows(0).getDouble(1) < rows(1).getDouble(1))
  }

  test("writeInjectionCsv emits the reference CSV artifact layout") {
    import spark.implicits._
    val prof = spark.range(0, 4 * 81, 1, 2)
      .select((col("id") / 81).cast("long").as("exp"),
        ((pmod(col("id"), lit(81)).cast("double") - 40.0) / 10.0).as("x"),
        lit(0.0).as("y"), lit(true).as("in_transit"))
    val sweep = Injection.depthSweep(prof, Seq(0.02, 0.04),
      sigma = 1.0, halfWindow = 1.0, nBoot = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-inj")
      .resolve("injection.csv").toString
    Injection.writeInjectionCsv(sweep, path)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path))
    assert(lines.get(0) ===
      "inj_depth_percent,rec_depth_percent,rec_lo_percent,rec_hi_percent")
    assert(lines.size === 3)
    assert(lines.get(1) === "2.000000,2.000000,2.000000,2.000000")
    assert(lines.get(2) === "4.000000,4.000000,4.000000,4.000000")
  }
}
