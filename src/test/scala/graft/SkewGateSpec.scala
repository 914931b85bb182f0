package graft

import org.scalatest.funsuite.AnyFunSuite

class SkewGateSpec extends AnyFunSuite {
  import SharedSpark._

  test("hot-tile partitions stay within 2x median bytes (skew gate)") {
    import spark.implicits._
    // heavy skew: 80% of points in one city block + uniform background
    val pts = (0 until 20000).map { i =>
      if (i % 5 != 0) (2.35 + (i % 97) * 1e-5, 48.85 + (i % 89) * 1e-5, s"p$i")
      else (graft.core.Rng.uniform(71L, i.toLong, 1L) * 320.0 - 160.0,
        graft.core.Rng.uniform(71L, i.toLong, 2L) * 140.0 - 70.0, s"p$i")
    }.toDF("lon", "lat", "name")
    val tiles = graft.operators.Tiler.buildTiles(pts, Seq(4, 8, 12), cap = 1024)
    val report = graft.plans.SkewReport.forTiles(tiles)
    assert(report.nonEmptyStats.nonEmpty)
    // per-TILE byte bound: hottest tile ≤ cap features, so its bytes stay
    // bounded; partition-level: max ≤ 2× median over non-empty partitions
    assert(report.gateOk(2.0),
      s"max=${report.maxBytes} median=${report.medianBytes}")
  }
}
