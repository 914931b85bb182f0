package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once streaming commits (plans/StreamCommit): each micro-batch
  * becomes one snapshot, re-delivered batches are no-ops, and the
  * resulting lineage passes the QA report.
  */
class StreamCommitSpec extends AnyFunSuite {
  import SharedSpark._
  import graft.plans.{Lineage, QaReport, StreamCommit}

  test("micro-batches commit once each; a replayed batch is a no-op; QA stays healthy") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-stream-commit").toString
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val q = input.toDF().toDF("tile_id", "byte_len")
      .writeStream
      .foreachBatch(StreamCommit.handler(root, "tiles") _)
      .start()
    input.addData((0L until 40L).map(id => (id, 100L)))
    q.processAllAvailable()
    input.addData((40L until 70L).map(id => (id, 100L)))
    q.processAllAvailable()
    q.stop()
    assert(Lineage.committedSnapshots(root) === Seq(1L, 2L))
    assert(StreamCommit.committedBatchIds(root, "tiles") === Set(0L, 1L))
    val totalRows = Lineage.metricsTable(spark, root)
      .agg(sum("row_count")).head.getLong(0)
    assert(totalRows === 70L)

    // crash-replay simulation: the engine re-delivers the LAST batch
    // after restart — the sink must not duplicate it
    val replay = (40L until 70L).map(id => (id, 100L)).toDF("tile_id", "byte_len")
    assert(StreamCommit.commitBatch(root, "tiles")(replay, 1L).isEmpty)
    assert(Lineage.committedSnapshots(root) === Seq(1L, 2L))
    // a NEW batch after the replay commits normally
    val b2 = (70L until 80L).map(id => (id, 100L)).toDF("tile_id", "byte_len")
    assert(StreamCommit.commitBatch(root, "tiles")(b2, 2L).nonEmpty)
    assert(Lineage.metricsTable(spark, root)
      .agg(sum("row_count")).head.getLong(0) === 80L)
    // a different query's batch ids are independent
    assert(StreamCommit.committedBatchIds(root, "other") === Set.empty)

    val vs = QaReport.verdicts(spark, root)
    assert(vs.forall(_.ok), QaReport.summary(vs))
  }

  test("a stream id with quote, backslash and newline commits once; its replay is a no-op") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-escaped-id").toString
    val id = "/ckpt/\"quoted\" C:\\dir\nline2"
    val rows = (0L until 10L).map(t => (t, 100L)).toDF("tile_id", "byte_len")
    assert(StreamCommit.commitBatch(root, id)(rows, 0L).nonEmpty)
    assert(StreamCommit.committedBatchIds(root, id) === Set(0L))
    assert(Lineage.manifestNote(root, 1L) === Some(s"stream=$id batch=0"))
    assert(StreamCommit.commitBatch(root, id)(rows, 0L).isEmpty)
    assert(Lineage.committedSnapshots(root) === Seq(1L))
  }

  test("cachedCommitter: one manifest scan, O(1) replays, new batches commit") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cached-commit").toString
    def rows(a: Long, b: Long) =
      (a until b).map(id => (id, 100L)).toDF("tile_id", "byte_len")
    // seed one batch via the plain path (simulating a previous run)
    assert(StreamCommit.commitBatch(root, "ckpt-A")(rows(0, 10), 0L).nonEmpty)
    val sink = StreamCommit.cachedCommitter(root, "ckpt-A")
    // cache initialized from disk: the seeded batch is a no-op replay
    assert(sink(rows(0, 10), 0L).isEmpty)
    // new batches commit and subsequent replays hit the in-memory set
    assert(sink(rows(10, 20), 1L).nonEmpty)
    assert(sink(rows(10, 20), 1L).isEmpty)
    assert(Lineage.committedSnapshots(root) === Seq(1L, 2L))
    // a different checkpoint identity is independent — its batch 0 is new
    val sinkB = StreamCommit.cachedCommitter(root, "ckpt-B")
    assert(sinkB(rows(20, 25), 0L).nonEmpty)
    assert(Lineage.committedSnapshots(root) === Seq(1L, 2L, 3L))
  }
}
