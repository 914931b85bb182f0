package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LineageSpec extends AnyFunSuite {
  import SharedSpark._

  test("commit → resume: killed job completes without re-encoding committed tiles") {
    import graft.plans.Lineage
    val root = java.nio.file.Files.createTempDirectory("graft-lineage").toString
    // run 1 ("killed" after committing only zoom 4)
    val snap1 = Main.run(spark, GraftConfig(outDir = root, nPages = 300, zooms = Seq(4),
      resume = false))
    assert(snap1.rows > 0)
    // run 2: full zoom set with resume → must add zooms 6 only... all z4 skipped
    val snap2 = Main.run(spark, GraftConfig(outDir = root, nPages = 300, zooms = Seq(4, 6),
      resume = true))
    val all = spark.read.parquet(s"$root/data/snap-1", s"$root/data/snap-2")
    // union of the two snapshots == a fresh full run
    val rootFull = java.nio.file.Files.createTempDirectory("graft-full").toString
    Main.run(spark, GraftConfig(outDir = rootFull, nPages = 300, zooms = Seq(4, 6),
      resume = false))
    val full = spark.read.parquet(s"$rootFull/data/snap-1")
    val gotIds = all.select("tile_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq
    val wantIds = full.select("tile_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq
    assert(gotIds === wantIds)
    // no overlap: snapshot 2 re-encoded nothing from snapshot 1
    val s1 = spark.read.parquet(s"$root/data/snap-1").select("tile_id").collect().map(_.getLong(0)).toSet
    val s2 = spark.read.parquet(s"$root/data/snap-2").select("tile_id").collect().map(_.getLong(0)).toSet
    assert(s1.intersect(s2).isEmpty)
    // byte-level parity: same tile id ⇒ same mvt bytes as the fresh run
    val gotBytes = all.select("tile_id", "mvt_bytes").collect()
      .map(r => r.getLong(0) -> java.util.Arrays.hashCode(r.getAs[Array[Byte]](1))).toMap
    val wantBytes = full.select("tile_id", "mvt_bytes").collect()
      .map(r => r.getLong(0) -> java.util.Arrays.hashCode(r.getAs[Array[Byte]](1))).toMap
    assert(gotBytes === wantBytes)
    // metrics/lineage present with required columns
    val m = Lineage.metricsTable(spark, root)
    assert(m.columns.toSet === Set("file", "tile_id_min", "tile_id_max",
      "row_count", "bytes", "snapshot_id"))
    assert(m.agg(sum("row_count")).head.getLong(0) === gotIds.size.toLong)
  }

  test("compaction: atomic replace visibility, expiry, and resume continuity") {
    import graft.plans.Lineage
    val root = java.nio.file.Files.createTempDirectory("graft-compact").toString
    Main.run(spark, GraftConfig(outDir = root, nPages = 200, zooms = Seq(4),
      resume = false))
    Main.run(spark, GraftConfig(outDir = root, nPages = 200, zooms = Seq(4, 6),
      resume = true))
    val before = Lineage.completedTileIds(spark, root)
      .collect().map(_.getLong(0)).toSet
    val beforeRows = Lineage.metricsTable(spark, root)
      .agg(sum("row_count")).head.getLong(0)

    val snap = Lineage.compactSnapshots(spark, root).get
    // CRASH-WINDOW VIEW: old manifests still on disk, but readers must
    // already see ONLY the compacted snapshot (no double counting)
    assert(Lineage.committedSnapshots(root) === Seq(1L, 2L, 3L))
    assert(Lineage.activeSnapshots(root) === Seq(3L))
    val after = Lineage.completedTileIds(spark, root)
      .collect().map(_.getLong(0)).toSet
    assert(after === before, "tile set must be identical after compaction")
    assert(Lineage.metricsTable(spark, root)
      .agg(sum("row_count")).head.getLong(0) === beforeRows)
    assert(snap.rows === beforeRows)

    // physical expiry removes the replaced snapshots only
    assert(Lineage.expireSnapshots(root) === Seq(1L, 2L))
    assert(Lineage.committedSnapshots(root) === Seq(3L))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "data", "snap-1")))
    assert(Lineage.expireSnapshots(root).isEmpty) // idempotent

    // resume against the compacted root still re-encodes nothing old
    Main.run(spark, GraftConfig(outDir = root, nPages = 200, zooms = Seq(4, 6, 8),
      resume = true))
    val s4 = spark.read.parquet(s"$root/data/snap-4")
      .select("tile_id").collect().map(_.getLong(0)).toSet
    assert(s4.intersect(after).isEmpty, "resume must only add new tiles")
    // time travel: as-of snap-3 sees exactly the compacted set; as-of
    // snap-4 adds the new zoom (expired pre-compaction ids read empty
    // rather than failing)
    val at3 = Lineage.tableAt(spark, root, 3L)
      .select("tile_id").collect().map(_.getLong(0)).toSet
    assert(at3 === after)
    val at4 = Lineage.tableAt(spark, root, 4L)
      .select("tile_id").collect().map(_.getLong(0)).toSet
    assert(at4 === after ++ s4)

    // nothing more to compact twice in a row → second compact then None
    assert(Lineage.compactSnapshots(spark, root).nonEmpty) // snap-3 + snap-4
    assert(Lineage.compactSnapshots(spark, root).isEmpty)
  }
}
