package perfbench

import graft.core._
import graft.sources.Page

/** The `core` layer with no Spark: each kernel runs over fixed inputs
  * drawn from the workload's own pages (their text, the mentions parsed
  * from it, tiles and hulls built from those mentions). Each kernel is
  * warmed up, then timed for a fixed budget; allocation comes from the
  * JVM's per-thread allocation counter.
  */
object Kernels {
  final case class Result(nsPerOp: Double, allocPerOp: Double)

  val Names: Seq[String] = Seq("geoparse", "s2", "hex", "tile_id", "mvt_encode",
    "convex_sat", "convex_clip", "dp")
  private val WarmNs = 150000000L
  private val MeasureNs = 300000000L

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)

  // results are folded into this sink so the JIT cannot drop the work
  @volatile var sink: Long = 0L

  /** Runs `batch` (which performs `opsPerBatch` operations and returns a
    * checksum) for 150 ms of warm-up, then for at least 300 ms.
    */
  def measure(opsPerBatch: Int)(batch: () => Long): Result = {
    require(opsPerBatch > 0, "a kernel batch must do some operations")
    var acc = 0L
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < WarmNs) acc += batch()
    var ops = 0L
    val a0 = allocated()
    val t0 = System.nanoTime()
    var t = t0
    while (t - t0 < MeasureNs) {
      acc += batch(); ops += opsPerBatch; t = System.nanoTime()
    }
    val alloc = allocated() - a0
    sink += acc
    Result((t - t0).toDouble / ops, alloc.toDouble / ops)
  }

  /** Fixed kernel inputs derived from a page sample. */
  final class KernelInputs(pages: Array[Page]) {
    val texts: Array[String] = pages.map(_.text)
    private val mentions = texts.flatMap(t => Geoparse.parse(t))
    val lats: Array[Double] = mentions.map(_.lat)
    val lons: Array[Double] = mentions.map(_.lon)
    require(lats.length >= 64, s"only ${lats.length} mentions in the kernel sample")

    /** Point tiles at zoom 8: tile-local coords plus kind/name tags. */
    val tiles: Array[(Array[Int], Array[Int], Array[String], Array[String])] =
      mentions.groupBy(m => (WebMercator.tileX(m.lon, 8), WebMercator.tileY(m.lat, 8)))
        .toSeq.sortBy(_._1).map { case ((tx, ty), ms) =>
          (ms.map(m => WebMercator.localX(m.lon, 8, tx)),
            ms.map(m => WebMercator.localY(m.lat, 8, ty)),
            ms.map(_.kind), ms.map(_.name))
        }.toArray

    /** Convex hulls of consecutive runs of 12 mentions, as (xs, ys). */
    val hulls: Array[(Array[Double], Array[Double])] =
      lons.indices.grouped(12).filter(_.size == 12).map { idx =>
        val h = ConvexHull.hull(idx.map(i => (lons(i), lats(i))).toArray)
        (h.map(_._1), h.map(_._2))
      }.filter(_._1.length >= 3).toArray

    /** Polylines of 64 consecutive mentions. */
    val lines: Array[(Array[Double], Array[Double])] =
      lons.indices.grouped(64).filter(_.size == 64)
        .map(idx => (idx.map(lons).toArray, idx.map(lats).toArray)).toArray
  }

  /** (name, operations per batch, batch) for every kernel, in `Names` order. */
  def batches(in: KernelInputs): Seq[(String, Int, () => Long)] = {
    val n = in.lats.length
    Seq(
      ("geoparse", in.texts.length, () => {
        var s = 0L; var i = 0
        while (i < in.texts.length) { s += Geoparse.parse(in.texts(i)).length; i += 1 }
        s
      }),
      ("s2", n, () => {
        var s = 0L; var i = 0
        while (i < n) { s ^= S2.cellId(in.lats(i), in.lons(i), 16); i += 1 }
        s
      }),
      ("hex", n, () => {
        var s = 0L; var i = 0
        while (i < n) { s ^= HexGrid.cell(in.lons(i), in.lats(i), 8); i += 1 }
        s
      }),
      ("tile_id", n, () => {
        var s = 0L; var i = 0
        while (i < n) {
          s ^= WebMercator.tileId(12, WebMercator.tileX(in.lons(i), 12),
            WebMercator.tileY(in.lats(i), 12))
          i += 1
        }
        s
      }),
      ("mvt_encode", in.tiles.length, () => {
        var s = 0L; var i = 0
        while (i < in.tiles.length) {
          val (xs, ys, ks, ns) = in.tiles(i)
          s += MvtEncoder.encodePointTile("features", xs, ys, ks, ns).length
          i += 1
        }
        s
      }),
      ("convex_sat", in.hulls.length - 1, () => {
        var s = 0L; var i = 0
        while (i + 1 < in.hulls.length) {
          val (ax, ay) = in.hulls(i); val (bx, by) = in.hulls(i + 1)
          if (ConvexSat.intersects(ax, ay, bx, by)) s += 1
          i += 1
        }
        s
      }),
      ("convex_clip", in.hulls.length - 1, () => {
        var s = 0L; var i = 0
        while (i + 1 < in.hulls.length) {
          val (ax, ay) = in.hulls(i); val (bx, by) = in.hulls(i + 1)
          s += java.lang.Double.doubleToLongBits(ConvexClip.intersectionArea(ax, ay, bx, by))
          i += 1
        }
        s
      }),
      ("dp", in.lines.length, () => {
        var s = 0L; var i = 0
        while (i < in.lines.length) {
          val (xs, ys) = in.lines(i)
          s += DouglasPeucker.simplifyIndices(xs, ys, 1.0).length
          i += 1
        }
        s
      }))
  }
}
