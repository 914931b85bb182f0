package graft.operators

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.Prop.forAllNoShrink
import org.scalacheck.Test.{check, Parameters}
import org.scalatest.funsuite.AnyFunSuite

/** [[Dedup.blockPairs]] — the candidate step under the minhash, simhash,
  * n-gram Jaccard and embedding near-dup joins — against brute force:
  * every pair of ids sharing at least one complete, non-null key, with
  * id_a < id_b and the refine predicate true, exactly once. Also the
  * shared duplicate-group [[Dedup.keeper]] rule.
  */
class BlockPairsSpec extends AnyFunSuite {
  import graft.SharedSpark._
  import spark.implicits._

  // (id, k1, k2): few ids and keys, so one id carries several keys, the
  // same (id, key) row repeats, and a pair can meet in several blocks
  private type Row = (Long, Option[Int], Option[Int])
  private val id: Gen[Long] = Gen.frequency(
    8 -> Gen.choose(-4L, 8L),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue))
  private val key: Gen[Option[Int]] = Gen.frequency(
    1 -> Gen.const(None), 4 -> Gen.choose(0, 3).map(Some(_)))
  private val row: Gen[Row] = for (i <- id; a <- key; b <- key) yield (i, a, b)
  private val rows: Gen[List[Row]] = Gen.choose(0, 24).flatMap(Gen.listOfN(_, row))

  // the carried column: a function of the id, as a signature is
  private def carry(i: Long): Int = Math.floorMod(i, 5L).toInt

  private def bruteForce(rs: Seq[Row], keys: Row => Seq[Option[Int]],
                         refine: (Int, Int) => Boolean): Seq[(Long, Long, Int, Int)] =
    (for {
      a <- rs; b <- rs
      ka = keys(a)
      if a._1 < b._1 && ka.forall(_.isDefined) && ka == keys(b) &&
        refine(carry(a._1), carry(b._1))
    } yield (a._1, b._1, carry(a._1), carry(b._1))).distinct.sorted

  private def pairs(rs: Seq[Row], keys: Seq[String],
                    refine: Boolean): Seq[(Long, Long, Int, Int)] = {
    val blocks = rs.map { case (i, a, b) => (i, a, b, carry(i)) }
      .toDF("id", "k1", "k2", "c")
    val p =
      if (refine) Dedup.blockPairs(blocks, keys, Seq("c"), col("c_a") + col("c_b") >= 4)
      else Dedup.blockPairs(blocks, keys, Seq("c"))
    p.select("id_a", "id_b", "c_a", "c_b").as[(Long, Long, Int, Int)]
      .collect().toSeq.sorted
  }

  private val params = Parameters.default.withMinSuccessfulTests(30)

  test("blockPairs on one key: every key-sharing pair once, id_a < id_b") {
    val r = check(params, forAllNoShrink(rows) { rs =>
      pairs(rs, Seq("k1"), refine = false) ==
        bruteForce(rs, r => Seq(r._2), (_, _) => true)
    })
    assert(r.passed, r.status.toString)
  }

  test("blockPairs on a two-column key with a refine predicate") {
    val r = check(params, forAllNoShrink(rows) { rs =>
      pairs(rs, Seq("k1", "k2"), refine = true) ==
        bruteForce(rs, r => Seq(r._2, r._3), _ + _ >= 4)
    })
    assert(r.passed, r.status.toString)
  }

  test("keeper: least score, ties to the least id, null scores last") {
    val groups = Seq[(Int, Option[Long], Long)](
      (1, Some(3L), 10L), (1, Some(3L), Long.MinValue), (1, Some(5L), -7L),
      (2, None, Long.MinValue), (2, Some(Long.MaxValue), Long.MaxValue),
      (3, None, 4L), (3, None, Long.MinValue),
      (4, Some(Long.MinValue), Long.MaxValue), (4, Some(0L), Long.MinValue),
      (5, Some(-1L), Long.MaxValue))
    val got = groups.toDF("g", "score", "id")
      .groupBy("g").agg(Dedup.keeper(col("score"), col("id")).as("keep"))
      .as[(Int, Long)].collect().toMap
    assert(got === Map(1 -> Long.MinValue, 2 -> Long.MaxValue,
      3 -> Long.MinValue, 4 -> Long.MaxValue, 5 -> Long.MaxValue))
  }

  test("keeper matches a sort by (score nulls last, id) on random groups") {
    val member = for {
      g <- Gen.choose(0, 3)
      s <- Gen.frequency(1 -> Gen.const(None),
        3 -> Gen.oneOf(Gen.choose(-2L, 2L), Gen.oneOf(Long.MinValue, Long.MaxValue))
          .map(Some(_)))
      i <- id
    } yield (g, s, i)
    val r = check(params, forAllNoShrink(Gen.nonEmptyListOf(member)) { ms =>
      val want = ms.groupBy(_._1).map { case (g, xs) =>
        g -> xs.minBy(x => (x._2.isEmpty, x._2.getOrElse(0L), x._3))._3
      }
      val got = ms.toDF("g", "score", "id")
        .groupBy("g").agg(Dedup.keeper(col("score"), col("id")).as("keep"))
        .as[(Int, Long)].collect().toMap
      got == want
    })
    assert(r.passed, r.status.toString)
  }
}
