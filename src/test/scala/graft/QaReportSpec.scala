package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** QA verdicts over a lineage root (reference: mvt/frameguess.py:44-129
  * verdict/impact heuristics, :131-215 consolidated report): healthy
  * lineage passes every check; each seeded defect trips exactly its own
  * verdict with a quantified reason.
  */
class QaReportSpec extends AnyFunSuite {
  import SharedSpark._
  import graft.plans.{Lineage, QaReport}

  test("healthy lineage (commit + resume) passes all verdicts") {
    val root = java.nio.file.Files.createTempDirectory("graft-qa-ok").toString
    Main.run(spark, GraftConfig(outDir = root, nPages = 300, zooms = Seq(4),
      resume = false))
    Main.run(spark, GraftConfig(outDir = root, nPages = 300, zooms = Seq(4, 6),
      resume = true))
    val vs = QaReport.verdicts(spark, root)
    assert(vs.nonEmpty)
    assert(vs.map(_.stage).toSet ===
      Set("conservation", "skew", "overlap", "drift", "clustering"))
    assert(vs.forall(_.ok), vs.filterNot(_.ok).mkString("\n"))
    val rep = QaReport.report(spark, root)
    assert(rep.startsWith("Lineage looks **healthy**"), rep)
    assert(QaReport.verdictsTable(spark, root).columns.toSeq ===
      Seq("stage", "snapshot_id", "status", "metric", "threshold", "reason"))
  }

  test("clustering verdict: clustered tile counts flag pre-salt, scattered do not; doc roots skip it") {
    import spark.implicits._
    def mkRoot(rows: Seq[(Long, Int, Long, Long, Int)], tag: String): String = {
      val root = java.nio.file.Files.createTempDirectory(s"graft-qa-$tag").toString
      Lineage.commit(rows.toDF("tile_id", "zoom", "x", "y", "n_features")
        .withColumn("byte_len", org.apache.spark.sql.functions.lit(100L)),
        root, tag)
      root
    }
    // hot 4×4 block (counts 50) against a cold field (counts 1)
    val clustered = for { x <- 0L until 10L; y <- 0L until 10L } yield
      (x * 100 + y, 6, x, y, if (x < 4 && y < 4) 50 else 1)
    val vc = QaReport.verdicts(spark, mkRoot(clustered, "clu"))
      .filter(_.stage == "clustering")
    assert(vc.size === 1 && vc.head.ok)
    assert(vc.head.metric > 0.3 && vc.head.reason.contains("pre-salt"),
      vc.head.reason)
    // checkerboard-ish scatter: no positive autocorrelation
    val scattered = for { x <- 0L until 10L; y <- 0L until 10L } yield
      (x * 100 + y, 6, x, y, if ((x + y) % 2 == 0) 50 else 1)
    val vsc = QaReport.verdicts(spark, mkRoot(scattered, "sca"))
      .filter(_.stage == "clustering")
    assert(vsc.head.metric < 0.1 &&
      vsc.head.reason.contains("default hash partitioning"), vsc.head.reason)
    // a document root (no zoom/x/y) emits no clustering verdict
    val docRoot = java.nio.file.Files.createTempDirectory("graft-qa-doc").toString
    Lineage.commit((0L until 50L).map(id => (id, 100L))
      .toDF("tile_id", "byte_len"), docRoot, "docs")
    assert(!QaReport.verdicts(spark, docRoot).exists(_.stage == "clustering"))
  }

  test("a lost data directory yields a conservation FAIL verdict, not a crash") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-qa-lost").toString
    Lineage.commit((0L until 50L).map(id => (id, 100L))
      .toDF("tile_id", "byte_len").repartition(2), root, "one")
    Lineage.commit((50L until 90L).map(id => (id, 100L))
      .toDF("tile_id", "byte_len").repartition(2), root, "two")
    // simulate filesystem loss of snapshot 1's data
    def rmdir(p: java.nio.file.Path): Unit = {
      val it = java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder()).iterator()
      while (it.hasNext) java.nio.file.Files.deleteIfExists(it.next())
    }
    rmdir(java.nio.file.Paths.get(root, "data", "snap-1"))
    val vs = QaReport.verdicts(spark, root)
    val c1 = vs.find(v => v.stage == "conservation" && v.snapshotId == 1L).get
    assert(!c1.ok)
    assert(c1.reason.contains("missing"), c1.reason)
    // the surviving snapshot still gets its verdicts and the report renders
    assert(vs.exists(v => v.stage == "conservation" && v.snapshotId == 2L && v.ok))
    assert(QaReport.summary(vs).startsWith("Lineage looks **degraded**"))
  }

  test("seeded defects: each trips its own verdict (overlap, skew, drift, conservation)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-qa-bad").toString
    // snap-1: 100 uniform tiles, 100 B each
    val t1 = (0L until 100L).map(id => (id, 100L)).toDF("tile_id", "byte_len")
      .repartition(4, col("tile_id"))
    Lineage.commit(t1, root, "uniform")
    // snap-2: overlaps snap-1 on ids 50-99 (resume ran without the
    // anti-join), ~10 kB/tile (drift vs snap-1), one 1 MB hot tile (skew)
    val t2 = (50L until 150L)
      .map(id => (id, if (id == 60L) 1000000L else 10000L))
      .toDF("tile_id", "byte_len")
      .repartition(4, col("tile_id"))
    Lineage.commit(t2, root, "fat+overlapping")
    // tamper snap-1's commit record: +1 row_count
    val man = java.nio.file.Paths.get(root, "manifests", "snap-1.json")
    val txt = java.nio.file.Files.readString(man)
    java.nio.file.Files.writeString(man,
      txt.replaceFirst(""""row_count": 100""", "\"row_count\": 101"))

    val vs = QaReport.verdicts(spark, root)
    def of(stage: String, snap: Long) =
      vs.find(v => v.stage == stage && v.snapshotId == snap).get

    assert(!of("conservation", 1L).ok) // tampered manifest
    assert(of("conservation", 2L).ok)
    assert(of("skew", 1L).ok)
    assert(!of("skew", 2L).ok) // the 1 MB tile's file >> median file
    assert(of("skew", 2L).metric > 2.0)
    val ov = vs.find(_.stage == "overlap").get
    assert(!ov.ok)
    assert(math.abs(ov.metric - 50.0 / 200.0) < 1e-9) // wasted re-encode fraction
    assert(vs.exists(v => v.stage == "drift" && !v.ok)) // 100 B vs ~10 kB per tile
    val rep = QaReport.summary(vs)
    assert(rep.startsWith("Lineage looks **degraded**"), rep)
    assert(rep.contains("overlap") && rep.contains("skew"), rep)
  }

  test("seeded defect: a truncated manifest stays committed, replaces nothing, reads as unreadable") {
    import spark.implicits._
    import graft.plans.StreamCommit
    val root = java.nio.file.Files.createTempDirectory("graft-qa-trunc").toString
    def rows(a: Long, b: Long) =
      (a until b).map(id => (id, 100L)).toDF("tile_id", "byte_len")
    StreamCommit.commitBatch(root, "s")(rows(0, 40), 0L)
    StreamCommit.commitBatch(root, "s")(rows(40, 70), 1L)
    assert(Lineage.compactSnapshots(spark, root).nonEmpty) // snap-3 replaces 1, 2
    val man = java.nio.file.Paths.get(root, "manifests", "snap-3.json")
    val txt = java.nio.file.Files.readString(man)
    java.nio.file.Files.writeString(man, txt.take(txt.length / 2))

    assert(Lineage.committedSnapshots(root) === Seq(1L, 2L, 3L))
    assert(Lineage.replacedSnapshots(root) === Set.empty[Long])
    assert(Lineage.activeSnapshots(root) === Seq(1L, 2L, 3L))
    val vs = QaReport.verdicts(spark, root)
    val c3 = vs.find(v => v.stage == "conservation" && v.snapshotId == 3L).get
    assert(!c3.ok && c3.reason.contains("unreadable"), c3.reason)
    assert(vs.exists(v => v.stage == "conservation" && v.snapshotId == 1L && v.ok))
    assert(vs.exists(v => v.stage == "conservation" && v.snapshotId == 2L && v.ok))
    assert(vs.exists(v => v.stage == "skew" && v.snapshotId == 3L))
    // the replay guard cannot tell whether snap-3 holds one of this
    // stream's batches: it fails naming the file, it does not re-admit
    val e = intercept[java.io.IOException] {
      StreamCommit.commitBatch(root, "s")(rows(40, 70), 1L)
    }
    assert(e.getMessage.contains(man.toString), e.getMessage)
    assert(Lineage.committedSnapshots(root) === Seq(1L, 2L, 3L))
  }
}
