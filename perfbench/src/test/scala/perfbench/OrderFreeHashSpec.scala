package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class OrderFreeHashSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val hashes = Seq(1L, -7L, 42L, Long.MinValue, 0x123456789abcdefL, 42L)

  test("the digest ignores order") {
    val d = OrderFreeHash.of(hashes)
    assert(OrderFreeHash.of(hashes.reverse) == d)
    assert(OrderFreeHash.of(scala.util.Random.shuffle(hashes)) == d)
  }

  test("duplicates do not cancel out") {
    assert(OrderFreeHash.of(Seq(5L, 5L, 9L)) != OrderFreeHash.of(Seq(9L)))
    assert(OrderFreeHash.of(Seq(5L, 5L)) != OrderFreeHash.of(Seq.empty[Long]))
    assert(OrderFreeHash.of(Seq(5L, 5L, 9L)) != OrderFreeHash.of(Seq(5L, 9L)))
  }

  test("different multisets differ") {
    assert(OrderFreeHash.of(Seq(1L, 2L)) != OrderFreeHash.of(Seq(1L, 3L)))
    assert(OrderFreeHash.of(Seq(3L, 0L)) != OrderFreeHash.of(Seq(1L, 2L)))
  }

  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("OrderFreeHashSpec").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a DataFrame digest ignores row order, partitioning and column order") {
    import spark.implicits._
    val rows = (1 to 500).map(i => (i.toLong, s"r${i % 37}", i * 0.1, Array[Byte](i.toByte)))
    val df = rows.toDF("id", "name", "x", "bytes")
    val d = OrderFreeHash.of(df)
    assert(d.count == 500)
    assert(OrderFreeHash.of(df.repartition(7).orderBy($"name".desc)) == d)
    assert(OrderFreeHash.of(df.select("x", "bytes", "name", "id")) == d)
    assert(OrderFreeHash.of(df.filter($"id" =!= 17L)) != d)
    // last-bit noise in a double (summation order) does not change it
    assert(OrderFreeHash.of(df.withColumn("x", $"x" + 1e-12)) == d)
  }

  test("Spark's digest equals the digest of the collected row hashes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.xxhash64
    val df = (1 to 200).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    val rowHashes = df.select(xxhash64($"id", $"name")).as[Long].collect()
    assert(OrderFreeHash.of(df) == OrderFreeHash.of(rowHashes))
  }

  test("per-key digests match the digests of the filtered frames") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i % 3, i.toLong)).toDF("k", "v")
    val byKey = OrderFreeHash.byKey(df, "k", org.apache.spark.sql.functions.sum($"v"))
    (0 to 2).foreach { k =>
      val part = df.filter($"k" === k)
      assert(byKey(k)._2 == OrderFreeHash.of(part))
      assert(byKey(k)._1 == (1 to 300).filter(_ % 3 == k).sum)
    }
  }
}
