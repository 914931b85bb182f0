package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regression gates for the physical-plan claims in PLANS.md — the plan
  * properties that make the engine survive 100×, asserted instead of
  * merely documented. Plans come from queryExecution.executedPlan at
  * local[4] (AQE final plans may differ at runtime only by coalescing,
  * which none of these assertions depend on).
  */
class PlanSpec extends AnyFunSuite {
  import SharedSpark._

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q02 joins broadcast and filters push to the scans") {
    val p = planOf("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), "dims must broadcast, not SMJ")
    assert(p.contains("PushedFilters: [IsNotNull"), "join-key null filters must reach parquet")
  }

  test("scans prune columns: q20 reads only doc_id+text") {
    // another suite may have cached the documents table in the shared
    // session — pruning is a property of the parquet scan, so uncache
    spark.catalog.clearCache()
    val p = planOf("q20_text_stats")
    val readSchema = "ReadSchema: struct<doc_id:bigint,text:string>"
    assert(p.contains(readSchema), p.take(1500))
  }

  test("PIP join never exchanges the point side") {
    val pts = SparkEntry.queries("q10_tile_assign")(spark, sfDir)
      .select(col("doc_id").cast("long").as("point_id"),
        col("lon_r").as("lon"), col("lat_r").as("lat"))
    val p = graft.operators.SpatialJoin.pipJoinRtree(pts)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("q12 PIP is a single map: no Join, no Exchange") {
    val p = planOf("q12_pip_triangles")
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("IVF assign stage is a map: no Exchange above the corpus scan") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity.trainCentroids(e, nCentroids = 8, iters = 1)
    val assigned = e.select(col("vec_id"),
      graft.functions.vec.nearest_centroid(col("embedding"), cents).as("c"))
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("MVT pipeline has exactly one Exchange (the tiler groupBy)") {
    val pages = graft.sources.SynthPages.pagesDF(spark, 500)
    val feats = graft.operators.GeoPipeline.pagesToFeatures(spark, pages)
      .filter(col("lat").isNotNull)
    val tiles = graft.operators.Tiler.buildTiles(feats, Seq(4, 8))
    val p = tiles.queryExecution.executedPlan.toString
    val nExchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(nExchanges === 1, s"expected 1 shuffle, got $nExchanges:\n${p.take(2000)}")
  }

  test("MVT pipeline joins nothing: admin names are a map lookup") {
    val pages = graft.sources.SynthPages.pagesDF(spark, 500)
    val feats = graft.operators.GeoPipeline.pagesToFeatures(spark, pages)
      .filter(col("lat").isNotNull)
    val p = graft.operators.Tiler.buildTiles(feats, Seq(4, 8))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(2000))
  }

  test("grid-cover joins plan an equi join: no nested loop, no cartesian") {
    Seq("q98_tri_overlay", "q105_convex_overlay", "q107_hull_admin_overlay",
      "q110_clip_area", "q111_zonal_overlap", "q112_nearest_polygon",
      "q113_border_crossings", "q114_region_exposure").foreach { q =>
      val p = planOf(q)
      Seq("BroadcastNestedLoopJoin", "CartesianProduct").foreach { op =>
        assert(!p.contains(op), s"$q plans $op:\n${p.take(3000)}")
      }
    }
  }

  test("tile encode is one native aggregate: no object decode or key lambda") {
    import spark.implicits._
    val feats = (0 until 200).map(i => (i * 0.7 - 70.0, i * 0.3 - 30.0, s"n$i"))
      .toDF("lon", "lat", "name")
    val p = graft.operators.Tiler.buildTiles(feats, Seq(4, 8))
      .queryExecution.executedPlan.toString
    Seq("AppendColumns", "MapElements", "DeserializeToObject").foreach { op =>
      assert(!p.contains(op), s"$op in the tile plan:\n${p.take(2000)}")
    }
    assert(p.contains("topk_tile"), p.take(2000))
  }

  test("q107/q111 plan the hull chain once: two MapGroups, no barrier") {
    // the two hull stages (partial hulls, final hull) each plan as one
    // MapGroups; a checkpoint between hulls and overlay would hide them
    Seq("q107_hull_admin_overlay", "q111_zonal_overlap").foreach { q =>
      val p = planOf(q)
      val n = "\\bMapGroups\\b".r.findAllIn(p).length
      assert(n === 2, s"$q: expected 2 MapGroups, got $n:\n${p.take(3000)}")
    }
  }
}
