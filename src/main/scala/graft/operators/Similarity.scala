package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.vec

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Baseline: brute-force cosine top-k (broadcast the small query side —
  * exact, one pass over the corpus, no corpus shuffle; the 100 TB shape).
  * Scale path: IVF — Lloyd-iterated centroids (driver-coordinated, tiny),
  * corpus assigned to its nearest centroid by ONE codegen'd expression
  * (`nearest_centroid`, centroids embedded in the serialized plan — zero
  * joins, zero shuffle for the assign), queries probe `nProbe` nearest
  * lists. Recall measured against brute force in tests.
  */
object Similarity {
  /** Exact brute-force top-k: queries(id, vec) × corpus(id, vec).
    * Queries are broadcast; ranking via window over query id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: String = "q_id", qVec: String = "q_vec",
                     cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("cosine", vec.cosine_sim(col(qVec), col(cVec)))
    val w = Window.partitionBy(col(qId))
      .orderBy(col("cosine").desc, col(cId).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qId), col(cId), round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** IVF index: `nCentroids` centroids refined by `iters` Lloyd steps
    * (means computed distributedly, centroids collected — tiny). Returns
    * centroid vectors indexed by centroid id; corpus assignment is a
    * codegen'd expression over this array (cheap to recompute).
    */
  def trainCentroids(corpus: DataFrame, nCentroids: Int, iters: Int = 3,
                     cId: String = "vec_id", cVec: String = "embedding")
      : Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // deterministic seeding: evenly-strided corpus rows as initial centroids
    val n = corpus.count()
    val stride = math.max(1L, n / nCentroids)
    var centroids: Array[Array[Float]] = corpus
      .filter(pmod(col(cId), lit(stride)) === 0)
      .orderBy(col(cId))
      .limit(nCentroids)
      .select(col(cVec)).as[Array[Float]].collect()

    for (_ <- 0 until iters) {
      // dimension-wise mean via posexplode + partial-agg avg (scales:
      // shuffle keyed by (centroid, dim), never materializes a list);
      // the assign itself is a zero-shuffle codegen'd map
      val means = assign(corpus, centroids, cVec)
        .select(col("centroid_id"), posexplode(col(cVec)).as(Seq("pos", "v")))
        .groupBy("centroid_id", "pos").agg(avg("v").as("m"))
        .groupBy("centroid_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m").cast("float")).as("mean_vec"))
        .as[(Int, Array[Float])].collect()
      // keep old centroid when a cluster went empty
      val byId = means.toMap
      centroids = centroids.zipWithIndex.map { case (v, i) => byId.getOrElse(i, v) }
    }
    centroids
  }

  /** Assign each corpus row to its nearest centroid — one codegen'd
    * expression, centroids ride the serialized plan. No join, no shuffle.
    */
  def assign(corpus: DataFrame, centroids: Array[Array[Float]],
             cVec: String = "embedding"): DataFrame =
    corpus.withColumn("centroid_id", vec.nearest_centroid(col(cVec), centroids))

  /** IVF top-k: probe the `nProbe` nearest centroid lists per query.
    * Corpus side never shuffles (assign is a map; probes broadcast); only
    * the probed candidate subset flows into the per-query ranking window.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              centroids: Array[Array[Float]], k: Int, nProbe: Int = 2,
              qId: String = "q_id", qVec: String = "q_vec",
              cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val assigned = assign(corpus, centroids, cVec)
    val probes = queries
      .withColumn("centroid_id",
        explode(vec.nearest_centroids(col(qVec), centroids, nProbe)))
    val w = Window.partitionBy(col(qId))
      .orderBy(col("cosine").desc, col(cId).asc)
    assigned.join(broadcast(probes), Seq("centroid_id"))
      .withColumn("cosine", vec.cosine_sim(col(qVec), col(cVec)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qId), col(cId), round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** All-corpus IVF top-k — EVERY corpus vector is a query (media dedup's
    * ranking core, q87). [[ivfTopK]] broadcasts its query side, which is
    * right for a small probe set but would make an all-corpus query side
    * an O(N) broadcast; here NEITHER side broadcasts by construction:
    * both the list assignment and the probe fan-out are zero-shuffle
    * codegen'd maps, and candidates meet in ONE centroid-keyed equi join
    * (AQE free to pick the physical join). Cost is Σ_c |list_c| ×
    * |probers_c| — cluster sizes bound the quadratic, the same trade
    * SemDeDup ships with — versus the N² of brute force. Self-matches
    * are dropped BEFORE ranking, so rank 1 is the nearest non-self
    * neighbor. Approximate: a query whose true neighbor lives outside
    * its `nProbe` probed lists misses it (recall vs brute force is
    * pinned in tests); a query alone in all its probed lists yields no
    * row.
    */
  def ivfSelfTopK(corpus: DataFrame, centroids: Array[Array[Float]],
                  k: Int, nProbe: Int = 2,
                  cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val assigned = assign(corpus, centroids, cVec)
    val probes = corpus
      .select(col(cId).as("q_id"), col(cVec).as("q_vec"))
      .withColumn("centroid_id",
        explode(vec.nearest_centroids(col("q_vec"), centroids, nProbe)))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col(cId).asc)
    assigned.join(probes, Seq("centroid_id"))
      .filter(col(cId) =!= col("q_id"))
      .withColumn("cosine", vec.cosine_sim(col("q_vec"), col(cVec)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col(cId), round(col("cosine"), 6).as("cosine"),
        col("rank"))
  }

  /** PCA model: mean vector, top-k eigenvector basis (rows), and the
    * eigenvalues (= per-component population variances).
    */
  final case class PcaModel(mean: Array[Double], basis: Array[Array[Double]],
                            eigenvalues: Array[Double])

  /** PCA training in ONE distributed pass: each partition folds its rows
    * into (n, Σx, Σxxᵀ) — d + d² doubles, ~33 KB at d=64 — and the tiny
    * per-partition partials are combined on the driver in partition-index
    * order (deterministic for a given partitioning). The covariance
    * eigen-decomposition is O(d³) driver work (core/Eigen Jacobi),
    * irrelevant next to the scan. Projection then rides the serialized
    * plan as a codegen'd expression — the nearest_centroid pattern —
    * so reducing 100 TB of embeddings is a zero-shuffle map.
    */
  def pcaTrain(corpus: DataFrame, k: Int,
               cVec: String = "embedding"): PcaModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val parts = corpus.select(col(cVec)).as[Array[Float]]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val first = it.next()
          val d = first.length
          val sum = new Array[Double](d)
          val outer = new Array[Double](d * d)
          var n = 0L
          def add(v: Array[Float]): Unit = {
            var i = 0
            while (i < d) {
              val vi = v(i).toDouble
              sum(i) += vi
              var j = 0
              while (j < d) { outer(i * d + j) += vi * v(j).toDouble; j += 1 }
              i += 1
            }
            n += 1
          }
          add(first)
          it.foreach(add)
          Iterator.single((n, sum, outer))
        }
      }.collect() // P × (1 + d + d²) doubles — driver-safe at any corpus size
    require(parts.nonEmpty, "pcaTrain on an empty corpus")
    val d = parts.head._2.length
    var n = 0L
    val sum = new Array[Double](d)
    val outer = new Array[Double](d * d)
    parts.foreach { case (pn, ps, po) =>
      n += pn
      var i = 0
      while (i < d) { sum(i) += ps(i); i += 1 }
      i = 0
      while (i < d * d) { outer(i) += po(i); i += 1 }
    }
    val mean = sum.map(_ / n)
    val cov = Array.tabulate(d, d)((i, j) => outer(i * d + j) / n - mean(i) * mean(j))
    val (evals, evecs) = graft.core.Eigen.jacobi(cov)
    PcaModel(mean, evecs.take(k), evals.take(k))
  }

  /** Seed-cluster assignment: every `seedStride`-th corpus vector is a
    * centroid; each vector joins its max-cosine seed (rounded cosine,
    * smaller seed id on ties — rounding BEFORE the argmax keeps the
    * choice replayable in SQL). Returns the materialized frame
    * (vec_id, __vec, cos_centroid, cluster_id) — eager localCheckpoint
    * because callers fan it into several consumers. Shared by
    * [[semDedup]] and cluster-balanced sampling (q80).
    *
    * SCALE CONTRACT: the seed set BROADCASTS, so its size must be
    * k-bounded, not corpus-proportional — pass `seedStride ≈ N / k` for
    * the cluster count `k` you want (a constant stride over a growing
    * corpus silently grows the broadcast with N). `maxSeeds` fails fast
    * when the stride selects more seeds than a broadcast should carry;
    * for Lloyd-refined centroids at fixed k use [[trainCentroids]] +
    * [[assign]] instead.
    */
  def seedAssign(vecs: DataFrame, seedStride: Long,
                 cId: String = "vec_id",
                 cVec: String = "embedding",
                 maxSeeds: Long = 1L << 16): DataFrame = {
    require(seedStride > 0)
    val v = vecs.select(col(cId).cast("long").as("vec_id"),
      col(cVec).as("__vec"))
    // seeds materialize once (they broadcast anyway), so the emptiness
    // guard reads the checkpoint instead of re-scanning the corpus; an
    // id space with no multiple of seedStride would otherwise make the
    // assignment inner join silently drop the ENTIRE corpus
    val seeds = v.filter(pmod(col("vec_id"), lit(seedStride)) === 0)
      .select(col("vec_id").as("__sid"), col("__vec").as("__svec"))
      .localCheckpoint(true)
    require(!seeds.isEmpty,
      s"seedAssign: no vec id is a multiple of seedStride=$seedStride — " +
        "pick a stride that selects seeds from this id space")
    val nSeeds = seeds.count() // reads the checkpoint — no corpus re-scan
    require(nSeeds <= maxSeeds,
      s"seedAssign: stride $seedStride selects $nSeeds seeds (> $maxSeeds) — " +
        "the seed set broadcasts, so pick seedStride ≈ N/k (or raise maxSeeds " +
        "deliberately)")
    // ~sid reverses the id order so max() prefers the smaller seed on a
    // cosine tie; unlike -sid it cannot overflow at Long.MinValue
    val best = v.crossJoin(broadcast(seeds))
      .groupBy("vec_id")
      .agg(max(struct(
        round(vec.cosine_sim(col("__vec"), col("__svec")), 6).as("c"),
        bitwise_not(col("__sid")).as("ns"))).as("__m"))
      .select(col("vec_id"), col("__m.c").as("cos_centroid"),
        bitwise_not(col("__m.ns")).as("cluster_id"))
    v.join(best, Seq("vec_id")).localCheckpoint(true)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, call two documents semantic duplicates when their in-cluster
    * cosine ≥ `tau`, group duplicates transitively, and keep ONE document
    * per group — the paper's policy: the member with the LOWEST cosine to
    * its cluster centroid (ties → smaller id: [[Dedup.keeper]]). Documents in no duplicate
    * pair are kept.
    *
    * Clustering here is seed-assignment (every `seedStride`-th corpus
    * vector is a centroid; each vector joins its max-cosine seed) rather
    * than Lloyd-iterated k-means, so the WHOLE operator — including the
    * cluster step — is independently replayable by the SQL oracle
    * (q76); `trainCentroids` + `assign` slot in unchanged when Lloyd
    * refinement is wanted and fixture-pinning is acceptable (q29's
    * trade).
    *
    * Scale shape: seeds broadcast (corpus/stride rows); the assignment
    * argmax is a map-side-combined struct-max (the k-fanout reduces to
    * one row per vector per partition before the shuffle); the pairwise
    * stage is confined WITHIN clusters — that in-cluster quadratic is
    * SemDeDup's own design trade (cluster count caps member count);
    * duplicate groups resolve via the same min-label components kernel
    * as MinHash dedup, over candidate ids only. Vectors cross the wire
    * once for the cluster-keyed pair join; nothing is collected.
    *
    * Returns (vec_id, cluster_id, cos_centroid, keep).
    */
  def semDedup(vecs: DataFrame, seedStride: Long, tau: Double,
               cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    require(tau > 0)
    // the assignment is materialized ONCE (inside seedAssign): it feeds
    // the (eager) component closure, the keeper choice, and the output
    // join — without this the k-fanout argmax re-runs three times
    // (visible as two duplicated subtrees in the physical plan).
    val assigned = seedAssign(vecs, seedStride, cId, cVec)
    // in-cluster duplicate pairs (id_a < id_b, rounded cosine ≥ tau).
    // Not Dedup.blockPairs: each vector sits in ONE cluster, so every pair
    // meets once and blockPairs' distinct would be a wasted shuffle.
    val a = assigned.select(col("cluster_id"), col("vec_id").as("id_a"),
      col("__vec").as("__va"))
    val b = assigned.select(col("cluster_id"), col("vec_id").as("id_b"),
      col("__vec").as("__vb"))
    val dupPairs = a.join(b, Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(vec.cosine_sim(col("__va"), col("__vb")), 6) >= tau)
      .select("id_a", "id_b")
    val comps = Dedup.connectedComponents(dupPairs)
      .select(col("id").as("vec_id"), col("cluster_id").as("__comp"))
    val keepers = assigned.join(comps, Seq("vec_id"))
      .groupBy("__comp")
      .agg(Dedup.keeper(col("cos_centroid"), col("vec_id")).as("__keep_id"))
    assigned
      .join(comps, Seq("vec_id"), "left")
      .join(keepers, Seq("__comp"), "left")
      .select(col("vec_id"), col("cluster_id"), col("cos_centroid"),
        (col("__comp").isNull || col("vec_id") === col("__keep_id")).as("keep"))
  }
}
