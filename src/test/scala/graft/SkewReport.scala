package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Skew instrumentation for the hot-tile gate (BASELINE.json: "hot tiles
  * ... never exceed 2x median partition size"). Reports per-partition row
  * and byte counts of a physical plan's output — the quantitative
  * pass/fail heuristic pattern of the reference's frame QA verdict
  * (reference: mvt/frameguess.py:44-71).
  */
object SkewReport {
  final case class PartitionStat(partition: Int, rows: Long, bytes: Long)
  final case class Report(stats: Seq[PartitionStat]) {
    def nonEmptyStats: Seq[PartitionStat] = stats.filter(_.rows > 0)
    def medianBytes: Long = {
      val s = nonEmptyStats.map(_.bytes).sorted
      if (s.isEmpty) 0L else s(s.length / 2)
    }
    def maxBytes: Long = if (stats.isEmpty) 0L else stats.map(_.bytes).max
    /** The ≤2× gate (on non-empty partitions). */
    def gateOk(factor: Double = 2.0): Boolean =
      medianBytes == 0 || maxBytes <= medianBytes * factor
  }

  /** Physical per-partition stats of a byte-bearing tile dataset
    * (columns: mvt_bytes). Runs one pass over the data.
    */
  def forTiles(tiles: Dataset[graft.operators.TileRow]): Report = {
    import tiles.sparkSession.implicits._
    val stats = tiles.mapPartitions { it =>
      var rows = 0L; var bytes = 0L
      it.foreach { t => rows += 1; bytes += t.mvt_bytes.length }
      Iterator((org.apache.spark.TaskContext.getPartitionId(), rows, bytes))
    }.collect().map { case (p, r, b) => PartitionStat(p, r, b) }
    Report(stats.toSeq.sortBy(_.partition))
  }
}
