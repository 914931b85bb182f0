package graft

import graft.core.{HexGrid, S2}

/** Common contract of a hierarchical spatial cell index, as laws the
  * cell-ID kernels must satisfy. Two instances: canonical S2 (cube-face
  * + Hilbert) and the aperture-7 `HexGrid` (H3 semantics surface). This
  * is a test-side conformance contract, not an engine abstraction: the
  * operators (PIP cover, kNN rings, vectorize) call `S2` and `HexGrid`
  * directly or through their codegen'd expressions, so a canonical-H3
  * kernel would pass this suite as a third instance and still need
  * those call sites changed (see COVERAGE.md
  * "H3 cell-ID decision" for why canonical H3 ids are not
  * reconstructible in this offline environment).
  *
  * Laws every instance must satisfy (asserted by CellIndexLawsSpec):
  *   1. resolution:  resOf(cell(p, r)) == r
  *   2. round-trip:  cell(center(id), resOf(id)) == id
  *   3. hierarchy:   resOf(parent(id)) == resOf(id) − 1 and
  *                   id ∈ children(parent(id))
  *   4. inverse:     ∀ c ∈ children(id): parent(c) == id, all distinct,
  *                   and the point-assigned center child is among them
  */
trait CellIndex {
  def name: String
  def maxRes: Int
  /** Exact child fan-out, or -1 when it varies (projection-edge hexes). */
  def childFanout: Int
  def cell(lon: Double, lat: Double, res: Int): Long
  def resOf(id: Long): Int
  def parent(id: Long): Long
  def children(id: Long): Array[Long]
  /** (lon, lat) of the cell center. */
  def center(id: Long): (Double, Double)
}

object S2CellIndex extends CellIndex {
  val name = "s2"
  val maxRes = S2.MaxLevel
  val childFanout = 4
  def cell(lon: Double, lat: Double, res: Int): Long = S2.cellId(lat, lon, res)
  def resOf(id: Long): Int = S2.level(id)
  def parent(id: Long): Long = S2.parentAtLevel(id, S2.level(id) - 1)
  def children(id: Long): Array[Long] = S2.children(id)
  def center(id: Long): (Double, Double) = {
    val (lat, lon) = S2.center(id)
    (lon, lat)
  }
}

object HexCellIndex extends CellIndex {
  val name = "hex7"
  val maxRes = HexGrid.MaxRes
  val childFanout = 7
  def cell(lon: Double, lat: Double, res: Int): Long = HexGrid.cell(lon, lat, res)
  def resOf(id: Long): Int = HexGrid.res(id)
  def parent(id: Long): Long = HexGrid.parent(id)
  def children(id: Long): Array[Long] = HexGrid.children(id)
  def center(id: Long): (Double, Double) = HexGrid.center(id)
}
