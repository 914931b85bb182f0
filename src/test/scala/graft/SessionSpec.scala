package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session rule every entry point shares (`Main.session`): the
  * master spark-submit chose wins, and the shuffle-partition count is
  * the one the benchmark was measured at.
  */
class SessionSpec extends AnyFunSuite {
  test("a preset spark.master is kept; an absent one becomes local[cores]") {
    assert(Main.master(Some("spark://head:7077"), 4) === "spark://head:7077")
    assert(Main.master(Some("local[2]"), 8) === "local[2]")
    assert(Main.master(None, 4) === "local[4]")
    assert(Main.master(None, 8) === "local[8]")
  }

  test("shuffle partitions are max(cores * 4, 32) at 2, 4 and 8 cores") {
    assert(Seq(2, 4, 8, 16).map(c => c -> Main.shufflePartitions(c)) ===
      Seq(2 -> 32, 4 -> 32, 8 -> 32, 16 -> 64))
  }
}
