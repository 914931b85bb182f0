package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shared conformance suite for every CellIndex instance (the laws a
  * canonical H3 kernel would also have to pass — see CellIndex.scala). The
  * SAME laws run against canonical S2 and the aperture-7 hex grid; a
  * future H3 kernel is conformant iff it passes this suite unchanged.
  */
class CellIndexLawsSpec extends AnyFunSuite {

  // deterministic sample away from poles/antimeridian (projection-edge
  // behavior is index-specific and separately tested in CoreSpec)
  private def points(n: Int): Seq[(Double, Double)] = {
    val rnd = new scala.util.Random(20260817L)
    Seq.fill(n)((rnd.nextDouble() * 340 - 170, rnd.nextDouble() * 150 - 75))
  }

  private def resSample(idx: CellIndex): Seq[Int] =
    Seq(2, 5, 8, math.min(12, idx.maxRes - 1)).distinct.filter(_ <= idx.maxRes)

  for (idx <- Seq[CellIndex](S2CellIndex, HexCellIndex)) {

    test(s"${idx.name}: resolution law — resOf(cell(p, r)) == r") {
      for ((lon, lat) <- points(200); r <- resSample(idx))
        assert(idx.resOf(idx.cell(lon, lat, r)) === r, s"($lon,$lat,$r)")
    }

    test(s"${idx.name}: round-trip law — cell(center(id), res) == id") {
      for ((lon, lat) <- points(200); r <- resSample(idx)) {
        val id = idx.cell(lon, lat, r)
        val (clon, clat) = idx.center(id)
        assert(idx.cell(clon, clat, r) === id, s"($lon,$lat,$r)")
      }
    }

    test(s"${idx.name}: hierarchy law — parent is one res up and contains the cell") {
      for ((lon, lat) <- points(100); r <- resSample(idx).filter(_ >= 1)) {
        val id = idx.cell(lon, lat, r)
        val p = idx.parent(id)
        assert(idx.resOf(p) === r - 1, s"($lon,$lat,$r)")
        assert(idx.children(p).contains(id),
          s"($lon,$lat,$r): id not among its parent's children")
      }
    }

    test(s"${idx.name}: inverse law — children are distinct, one res down, and map back") {
      for ((lon, lat) <- points(100); r <- resSample(idx).filter(_ < idx.maxRes)) {
        val id = idx.cell(lon, lat, r)
        val kids = idx.children(id)
        assert(kids.distinct.length === kids.length)
        assert(kids.forall(c => idx.resOf(c) === r + 1))
        assert(kids.forall(c => idx.parent(c) === id))
        if (idx.childFanout > 0)
          assert(kids.length === idx.childFanout,
            s"($lon,$lat,$r): fanout ${kids.length}")
        // the center child a point query would assign is among them
        val (clon, clat) = idx.center(id)
        assert(kids.contains(idx.cell(clon, clat, r + 1)))
      }
    }
  }
}
