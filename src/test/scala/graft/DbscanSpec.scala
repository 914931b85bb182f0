package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exact DBSCAN: role + cluster-label parity with a serial reference,
  * deterministic labels under repartitioning, and the cell-ring
  * candidate plan (no all-pairs nested loop).
  */
class DbscanSpec extends AnyFunSuite {
  import SharedSpark._

  // serial DBSCAN with the operator's conventions: closed ≤ε, minPts
  // self-inclusive, cluster_id = min core id of the component, border →
  // min cluster among core neighbors
  private def ref(pts: Seq[(Long, Double, Double)], eps: Double,
                  minPts: Int): Map[Long, (String, Long)] = {
    val byId = pts.map(p => p._1 -> p).toMap
    def neigh(id: Long) = {
      val (_, x, y) = byId(id)
      pts.filter { case (_, a, b) =>
        (x - a) * (x - a) + (y - b) * (y - b) <= eps * eps
      }.map(_._1)
    }
    val nb = pts.map(p => p._1 -> neigh(p._1)).toMap
    val cores = pts.map(_._1).filter(id => nb(id).size >= minPts).toSet
    // union-find over core-core adjacency
    val parent = scala.collection.mutable.Map(cores.map(c => c -> c).toSeq: _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      r
    }
    for (c <- cores; n <- nb(c) if cores(n)) {
      val (ra, rb) = (find(c), find(n))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val label = cores.map(c => c -> cores.filter(find(_) == find(c)).min).toMap
    pts.map(_._1).map { id =>
      if (cores(id)) id -> (("core", label(id)))
      else {
        val coreNb = nb(id).filter(cores.contains)
        if (coreNb.nonEmpty) id -> (("border", coreNb.map(label).min))
        else id -> (("noise", -1L))
      }
    }.toMap
  }

  private def pts(n: Int): Seq[(Long, Double, Double)] =
    (0 until n).map { i =>
      val lon = (i * 17.000170000017) % 360.0 - 180.0
      val lat = (i * 7.000070000007) % 170.0 - 85.0
      (i.toLong, lon, lat)
    }

  test("parity with serial DBSCAN; all three roles occur; plan has no cartesian") {
    import spark.implicits._
    val data = pts(400)
    val df = data.toDF("doc_id", "lon", "lat")
    val out = graft.operators.Dbscan.cluster(df, "doc_id",
      epsDeg = 20.0, minPts = 8, res = 0)
    val got = out.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val want = ref(data, 20.0, 8)
    assert(got === want)
    val roles = got.values.map(_._1).toSet
    assert(roles === Set("core", "border", "noise"), roles.toString)
    // clusters are non-trivial: at least one multi-point cluster
    assert(got.values.filter(_._1 == "core").groupBy(_._2).exists(_._2.size > 1))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("labels are deterministic under repartitioning") {
    import spark.implicits._
    val data = pts(400)
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Dbscan.cluster(df, "doc_id", 20.0, 8, res = 0)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val a = run(data.toDF("doc_id", "lon", "lat"))
    val b = run(data.toDF("doc_id", "lon", "lat").repartition(13))
    assert(a === b)
  }

  test("ST variant: near-in-space far-in-time points do not cluster; εt=∞ degenerates to plain DBSCAN") {
    import spark.implicits._
    // two spatially tight groups at the same place, 10 time units apart
    val rows = (0L until 6L).map(i => (i, 10.0 + i * 0.1, 10.0, 0.0 + i)) ++
      (6L until 12L).map(i => (i, 10.0 + (i - 6) * 0.1, 10.0, 100.0 + i))
    val df = rows.toDF("doc_id", "lon", "lat", "t")
    val st = graft.operators.Dbscan.clusterST(df, "doc_id", epsDeg = 2.0,
        minPts = 4, res = 2, timeEps = Some(("t", 10.0)))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // each temporal burst is its own cluster — never merged across time
    assert(st.filter(_._1 < 6).values.map(_._2).toSet === Set(0L))
    assert(st.filter(_._1 >= 6).values.map(_._2).toSet === Set(6L))
    assert(st.values.forall(_._1 == "core"))
    // with the time gate effectively off, space merges them into one
    val plain = graft.operators.Dbscan.clusterST(df, "doc_id", 2.0, 4,
        res = 2, timeEps = Some(("t", 1e9)))
      .collect().map(r => r.getLong(2)).toSet
    assert(plain === Set(0L))
  }

  test("grid DBSCAN: serial weighted-rep parity; blobs compress to few rep pairs") {
    import spark.implicits._
    // serial reference replicating the rep construction + weighted core
    def ref(ps: Seq[(Long, Double, Double)], eps: Double, mp: Int,
            cell: Double): Map[Long, (String, Long)] = {
      def rep(lon: Double, lat: Double): Long =
        math.floor((lon + 180.0) / cell).toLong * 100000L +
          math.floor((lat + 90.0) / cell).toLong
      val w = ps.groupBy(p => rep(p._2, p._3)).view.mapValues(_.size).toMap
      def center(r: Long) = (((r / 100000L) + 0.5) * cell - 180.0,
        ((r % 100000L) + 0.5) * cell - 90.0)
      val keys = w.keys.toSeq
      val nb = keys.map { k =>
        val (x, y) = center(k)
        k -> keys.filter { m =>
          val (a, b) = center(m)
          (x - a) * (x - a) + (y - b) * (y - b) <= eps * eps
        }
      }.toMap
      val cores = keys.filter(k => nb(k).map(w).sum >= mp).toSet
      val parent = scala.collection.mutable.Map(cores.map(c => c -> c).toSeq: _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      for (c <- cores; n <- nb(c) if cores(n)) {
        val (ra, rb) = (find(c), find(n))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val label = cores.map(c => c -> cores.filter(find(_) == find(c)).min).toMap
      ps.map { case (id, lon, lat) =>
        val r = rep(lon, lat)
        if (cores(r)) id -> (("core", label(r)))
        else {
          val cn = nb(r).filter(cores.contains)
          if (cn.nonEmpty) id -> (("border", cn.map(label).min))
          else id -> (("noise", -1L))
        }
      }.toMap
    }
    val data = pts(400)
    val got = graft.operators.Dbscan.clusterGrid(
        data.toDF("doc_id", "lon", "lat"), "doc_id",
        epsDeg = 20.0, minPts = 10, cellDeg = 4.0, res = 0)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got === ref(data, 20.0, 10, 4.0))
    assert(got.values.map(_._1).toSet === Set("core", "border", "noise"))
    // compression: 400 coincident-ish points in 2 tight blobs → 2 reps,
    // both clusters labeled, every point core, pair set is rep-sized
    val blob = (0L until 400L).map(i =>
      (i, (if (i % 2 == 0) 10.0 else 100.0) + (i % 5) * 0.01, 20.0))
    val g2 = graft.operators.Dbscan.clusterGrid(
        blob.toDF("doc_id", "lon", "lat"), "doc_id",
        epsDeg = 5.0, minPts = 50, cellDeg = 4.0, res = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(g2.forall(_._2 == "core"))
    assert(g2.map(_._3).distinct.length === 2) // one cluster per blob
  }

  test("one chain, two front ends: grid DBSCAN with one point per rep labels exactly like point DBSCAN") {
    import spark.implicits._
    // every point sits on its own cell center (exact in binary at
    // cellDeg 0.5) and doc_id = rep_id, so both front ends see the same
    // nodes, pairs, weights and ids: only the supercells differ
    val cell = 0.5
    val data = for {
      cx <- 360L until 420L; cy <- 180L until 210L
      density = if (cx < 380) 0.6 else if (cx < 400) 0.15 else 0.02
      if graft.core.Rng.uniform(7L, cx * 1000L + cy, 1L) < density
    } yield (cx * 100000L + cy, (cx.toDouble + 0.5) * cell - 180.0,
      (cy.toDouble + 0.5) * cell - 90.0)
    val df = data.toDF("doc_id", "lon", "lat")
    def labels(out: org.apache.spark.sql.DataFrame): Map[Long, (String, Long)] =
      out.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val exact = labels(graft.operators.Dbscan.cluster(df, "doc_id",
      epsDeg = 1.0, minPts = 5, res = 2))
    val grid = labels(graft.operators.Dbscan.clusterGrid(df, "doc_id",
      epsDeg = 1.0, minPts = 5, cellDeg = cell, res = 2))
    assert(exact.values.map(_._1).toSet === Set("core", "border", "noise"))
    assert(exact.values.count(_._1 == "core") > 1)
    assert(grid.view.mapValues(_._1).toMap === exact.view.mapValues(_._1).toMap)
    def partition(m: Map[Long, (String, Long)]): Set[Set[Long]] =
      m.filter(_._2._1 != "noise").groupBy(_._2._2).values.map(_.keySet).toSet
    assert(partition(grid) === partition(exact))
    assert(grid === exact)
  }

  test("convex hull kernel: containment, vertex subset, known square, degenerate inputs") {
    import graft.core.ConvexHull
    // known case: unit square + interior/edge points → the 4 corners
    val sq = Array((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0),
      (0.5, 0.5), (0.5, 0.0), (0.3, 0.9))
    val h = ConvexHull.hull(sq)
    assert(h.toSet === Set((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)))
    assert(math.abs(ConvexHull.area(h) - 1.0) < 1e-12)
    // property on scattered sets: hull vertices ⊆ input, every input
    // point inside-or-on the hull (cross-product sign test), CCW order
    (0 until 10).foreach { t =>
      val pts = Array.tabulate(40)(i =>
        (math.sin(i * 0.7 + t) * 10, math.cos(i * 1.3 + t) * 7))
      val hh = ConvexHull.hull(pts)
      assert(hh.toSet.subsetOf(pts.toSet))
      def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)) =
        (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
      pts.foreach { p =>
        hh.indices.foreach { i =>
          assert(cross(hh(i), hh((i + 1) % hh.length), p) >= -1e-9,
            s"t=$t point $p outside edge $i")
        }
      }
    }
    // degenerate: 2 points, collinear set
    assert(ConvexHull.hull(Array((1.0, 1.0), (2.0, 2.0))).length === 2)
    assert(ConvexHull.hull(
      Array((0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (3.0, 3.0))).toSet ===
      Set((0.0, 0.0), (3.0, 3.0)))
  }

  test("cluster hulls: one polygon per cluster, members contained, noise excluded") {
    import spark.implicits._
    val data = pts(400)
    val df = data.toDF("doc_id", "lon", "lat")
    val labels = graft.operators.Dbscan.cluster(df, "doc_id", 20.0, 8, res = 0)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val hulls = graft.operators.Dbscan
      .hulls(df, "doc_id", graft.operators.Dbscan.cluster(df, "doc_id", 20.0, 8, res = 0))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    val wantClusters = labels.values.filter(_._1 != "noise").map(_._2).toSet
    assert(hulls.keySet === wantClusters)
    // member counts conserve and areas are positive for real polygons
    wantClusters.foreach { c =>
      val members = labels.count(kv => kv._2._1 != "noise" && kv._2._2 == c)
      val (nPts, nHull, area, wkt) = hulls(c)
      assert(nPts === members.toLong)
      assert(nHull <= nPts)
      if (nHull >= 3) {
        assert(area > 0.0)
        assert(wkt.startsWith("POLYGON ((") && wkt.endsWith("))"))
      }
    }
  }

  test("hull vertex arrays: POLYGON xs/ys are the WKT ring minus its closing vertex, bit for bit; LINESTRING hulls have n_hull < 3") {
    import spark.implicits._
    // q103-style blobs plus one collinear cluster (a 2-vertex hull)
    val blobs = (0 until 400).map { i =>
      val lon = (i * 17.000170000017) % 360.0 - 180.0
      val lat = (i * 7.000070000007) % 170.0 - 85.0
      (i.toLong, (i % 8) * 45.0 - 157.5 + lon * 0.05,
        (i % 8) * 20.0 - 70.0 + lat * 0.05)
    }
    val line = (0 until 12).map(k => (1000L + k, -20.0 + k * 0.5, 80.0))
    val df = (blobs ++ line).toDF("doc_id", "lon", "lat")
    val rows = graft.operators.Dbscan
      .hulls(df, "doc_id", graft.operators.Dbscan.cluster(df, "doc_id",
        epsDeg = 5.0, minPts = 8, res = 1))
      .select("n_hull", "wkt", "xs", "ys").collect()
    val kinds = rows.map { r =>
      val (nHull, wkt) = (r.getLong(0), r.getString(1))
      val xs = r.getSeq[Double](2); val ys = r.getSeq[Double](3)
      assert(xs.length === nHull && ys.length === nHull, wkt)
      if (wkt.startsWith("POLYGON")) {
        val ring = wkt.stripPrefix("POLYGON ((").stripSuffix("))")
          .split(", ").map(_.split(" ").map(java.lang.Double.parseDouble))
        assert(ring.length === nHull + 1 && ring.head.toSeq === ring.last.toSeq)
        def bits(v: Seq[Double]) = v.map(java.lang.Double.doubleToRawLongBits)
        assert(bits(xs) === bits(ring.init.map(_(0)).toSeq), wkt)
        assert(bits(ys) === bits(ring.init.map(_(1)).toSeq), wkt)
      } else {
        assert(wkt.startsWith("LINESTRING") && nHull < 3, wkt)
      }
      wkt.takeWhile(_ != ' ')
    }
    assert(kinds.count(_ == "POLYGON") === 8 && kinds.count(_ == "LINESTRING") === 1)
  }

  test("cluster moments: exact decimal sums on a 400k-point cluster near lon 180, in both codegen modes") {
    // per-row lon² quantized to 1e-9 is ~3.2e13, so 400k rows sum past
    // Long.MaxValue: a long sum would raise under ANSI mode
    val n = 400000
    val pts = spark.range(n).select(col("id").as("doc_id"),
      (lit(179.9) + (col("id") % 1000).cast("double") * lit(1e-5)).as("lon"),
      ((col("id") / 1000).cast("long").cast("double") * lit(1e-4)).as("lat"))
    val coords = pts.select("lon", "lat").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    def q9(v: Double): BigInt = BigInt(math.floor(v * 1e9 + 0.5).toLong)
    val want = Seq[((Double, Double)) => Double](_._1, p => p._1 * p._1,
        _._2, p => p._2 * p._2, p => p._1 * p._2)
      .map(f => coords.iterator.map(p => q9(f(p))).sum)
    assert(want(1) > BigInt(Long.MaxValue))
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach {
      case (mode, wholeStage) =>
        withConf("spark.sql.codegen.factoryMode" -> mode,
            "spark.sql.codegen.wholeStage" -> wholeStage) {
          val got = graft.operators.Dbscan.clusterMoments(pts, "doc_id",
            graft.operators.Dbscan.clusterGrid(pts, "doc_id", epsDeg = 5.0,
              minPts = 8, cellDeg = 0.25, res = 1)).collect()
          assert(got.length === 1, mode)
          val r = got.head
          assert(r.getAs[Long]("n_pts") === n.toLong, mode)
          val sums = Seq("sx", "sx2", "sy", "sy2", "sxy")
            .map(c => BigInt(r.getAs[java.math.BigDecimal](c).toBigIntegerExact))
          assert(sums === want, mode)
        }
    }
  }

  test("partial-hull pre-reduce is exact: hull(points) == hull(per-cell partial hulls); operator output invariant to preCellDeg") {
    import graft.core.ConvexHull
    // kernel property on random scattered sets: the global hull equals
    // the hull of the union of per-cell hull vertices (extreme points
    // survive every subset hull)
    (0 until 10).foreach { t =>
      val pts = Array.tabulate(120)(i =>
        (math.sin(i * 0.7 + t) * 40 + (i % 7), math.cos(i * 1.3 + t) * 25 + (i % 5)))
      val whole = ConvexHull.hull(pts)
      val partials = pts.groupBy(p =>
          (math.floor(p._1 / 10.0).toLong, math.floor(p._2 / 10.0).toLong))
        .values.flatMap(cell => ConvexHull.hull(cell)).toArray
      assert(ConvexHull.hull(partials).toSeq === whole.toSeq, s"t=$t")
    }
    // operator level: a degenerate one-cell pre-reduce (huge preCellDeg —
    // the old single-mapGroups shape) and a fine pre-reduce produce
    // byte-identical rows
    import spark.implicits._
    val df = pts(400).toDF("doc_id", "lon", "lat")
    val labels = graft.operators.Dbscan.cluster(df, "doc_id", 20.0, 8, res = 0)
    val coarse = graft.operators.Dbscan
      .hulls(df, "doc_id", labels, preCellDeg = 1e6)
      .collect().map(_.toSeq).toSet
    val fine = graft.operators.Dbscan
      .hulls(df, "doc_id", labels, preCellDeg = 7.0)
      .collect().map(_.toSeq).toSet
    assert(coarse === fine)
  }

  test("grid hulls ≈ exact hulls on blob-shaped input: same cluster count, bboxes within cell tolerance") {
    import spark.implicits._
    // 6 anchored blobs (the q103 shape at test scale): anchor grid 40°
    // apart, jitter ±2° — far smaller than the 30°+ inter-blob gaps
    val data = (0L until 600L).map { i =>
      val b = i % 6
      val lon = b.toDouble * 40.0 - 100.0 + ((i * 17) % 41).toDouble * 0.1 - 2.0
      val lat = (b % 3).toDouble * 30.0 - 30.0 + ((i * 7) % 37).toDouble * 0.1 - 1.8
      (i, lon, lat)
    }
    val df = data.toDF("doc_id", "lon", "lat")
    val cell = 0.5
    def bboxes(h: org.apache.spark.sql.DataFrame): Seq[(Double, Double, Double, Double)] =
      h.collect().map { r =>
        val coords = r.getString(4)
          .replaceAll("POLYGON \\(\\(|LINESTRING \\(|\\)+", "")
          .split(", ").map(_.split(" ").map(_.toDouble))
        (coords.map(_(0)).min, coords.map(_(1)).min,
          coords.map(_(0)).max, coords.map(_(1)).max)
      }.sortBy(b => (b._1, b._2)).toSeq
    val exact = bboxes(graft.operators.Dbscan.hulls(df, "doc_id",
      graft.operators.Dbscan.cluster(df, "doc_id", epsDeg = 5.0, minPts = 8,
        res = 1)))
    val grid = bboxes(graft.operators.Dbscan.hulls(df, "doc_id",
      graft.operators.Dbscan.clusterGrid(df, "doc_id", epsDeg = 5.0,
        minPts = 8, cellDeg = cell, res = 1)))
    assert(exact.length === 6 && grid.length === 6)
    exact.zip(grid).foreach { case (e, g) =>
      // grid labels are cell-resolution: an edge point can flip in/out,
      // moving each bbox side by at most ~2 cells
      Seq(e._1 - g._1, e._2 - g._2, e._3 - g._3, e._4 - g._4).foreach(d =>
        assert(math.abs(d) <= 2 * cell + 1e-9, s"exact=$e grid=$g"))
    }
  }

  test("degenerate densities: minPts=1 makes every point a core; huge minPts makes all noise") {
    import spark.implicits._
    val df = pts(60).toDF("doc_id", "lon", "lat")
    val all = graft.operators.Dbscan.cluster(df, "doc_id", 5.0, 1, res = 0)
      .collect().map(r => r.getString(1)).toSet
    assert(all === Set("core"))
    val none = graft.operators.Dbscan.cluster(df, "doc_id", 5.0, 1000, res = 0)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSet
    assert(none === Set(("noise", -1L)))
  }
}
