package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SemDeDup semantics (Abbas et al. 2023) + plan shape. The driver
  * oracle (q76) checks the full operator against an independent SQL
  * replay on the embeddings table; this spec pins the keep policy on a
  * planted corpus and the plan's join strategy.
  */
class SemDedupSpec extends AnyFunSuite {
  import SharedSpark._
  import graft.operators.Similarity

  // 3 well-separated directions in R^4; members of a direction are exact
  // or near-exact duplicates of each other, so every in-cluster cosine
  // within a direction is ~1 and across directions ~0
  private def planted() = {
    import spark.implicits._
    val base = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    // ids 0,3,6 are seeds (stride 3), one per direction: ids 0-2 share
    // direction 0, 3-5 direction 1, 6-8 direction 2
    val rows = (0L until 9L).map { id =>
      val d = base((id / 3).toInt)
      // small deterministic per-id perturbation on a non-dominant axis
      val eps = 0.001f * (id % 3 + 1)
      (id, Array(d(0), d(1), d(2), eps))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("keep policy: one keeper per duplicate group — the member farthest from its centroid") {
    val out = Similarity.semDedup(planted(), seedStride = 3L, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).sortBy(_._1)
    assert(out.length === 9)
    // each direction forms one duplicate group of 3 → exactly 3 keepers
    assert(out.count(_._4) === 3)
    // every cluster keeps exactly one member
    val byCluster = out.groupBy(_._2)
    assert(byCluster.forall(_._2.count(_._4) === 1))
    // the keeper is the min-(cos_centroid, id) member of its cluster
    for ((_, members) <- byCluster) {
      val keeper = members.filter(_._4).head
      val best = members.minBy(m => (m._3, m._1))
      assert(keeper._1 === best._1)
    }
  }

  test("singletons (no pair above tau) are all kept") {
    import spark.implicits._
    // 4 near-orthogonal vectors, stride 2 → 2 seeds; no cosine ≥ 0.9
    val vs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)), (3L, Array(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vs, seedStride = 2L, tau = 0.9)
    assert(out.filter(col("keep")).count() === 4)
  }

  test("removeDuplicatedSpans cuts later copies, keeps the first, leaves unique text intact") {
    import spark.implicits._
    val passage = "The quick brown fox jumps over the lazy dog repeatedly."
    val docs = Seq(
      (1L, s"Intro one. $passage Outro one."),
      (2L, s"Totally different start. $passage And a different end."),
      (3L, "No shared content whatsoever lives inside this document."))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .removeDuplicatedSpans(docs, "text", "doc_id", minLen = 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 (first occurrence) keeps the passage verbatim
    assert(out(1L)._1.contains(passage))
    assert(out(1L)._3 === 0L)
    // doc 2 loses the passage but keeps its unique head and tail (the
    // shared region rightly extends into the common ". " boundary
    // punctuation, so assert on the unique cores, not exact punctuation)
    assert(!out(2L)._1.contains(passage))
    assert(out(2L)._1.contains("Totally different start"))
    assert(out(2L)._1.contains("And a different end."))
    assert(out(2L)._3 >= passage.length.toLong)
    // doc 3 untouched
    assert(out(3L)._3 === 0L)
    // length bookkeeping: removed = original − rewritten
    for ((_, (txt, n, removed)) <- out)
      assert(txt.length.toLong === n - removed)
    // partitioning invariance
    val a = graft.operators.Dedup
      .removeDuplicatedSpans(docs.repartition(5), "text", "doc_id", 20)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(a === out.toSeq.sortBy(_._1).map { case (id, (t, _, _)) => (id, t) })
  }

  test("seedAssign: a Long.MinValue seed id ranks without overflow, smaller seed wins ties") {
    import spark.implicits._
    // stride 2 makes Long.MinValue and 2 seeds; vector 3 sits at the same
    // cosine to both, so the tie goes to the smaller id
    val vecs = Seq(
      (Long.MinValue, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(1f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.seedAssign(vecs, seedStride = 2L)
      .select("vec_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(got === Map(Long.MinValue -> Long.MinValue, 2L -> 2L,
      3L -> Long.MinValue))
  }

  test("plan: seed fan-out broadcasts; no non-broadcast cartesian anywhere") {
    spark.catalog.clearCache()
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // the assignment stage (argmax over the seed fan-out) must cross via
    // a BROADCAST of the seeds — a CartesianProduct would be the corpus²
    // blow-up. Checked on the stage's own plan because semDedup
    // checkpoints it (it feeds three consumers).
    import org.apache.spark.sql.functions.{broadcast, pmod}
    val seeds = e.filter(pmod(col("vec_id"), lit(37L)) === 0)
      .select(col("vec_id").as("__sid"), col("embedding").as("__svec"))
    val assignPlan = e.crossJoin(broadcast(seeds))
      .groupBy("vec_id").count()
      .queryExecution.executedPlan.toString
    assert(assignPlan.contains("BroadcastNestedLoopJoin"), assignPlan.take(2000))
    assert(!assignPlan.contains("CartesianProduct"), assignPlan.take(2000))
    // and the full operator's final plan has no cartesian either
    val plan = Similarity.semDedup(e, seedStride = 37L, tau = 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }
}
