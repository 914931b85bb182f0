package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Co-located joins via catalog bucketing: two tables bucketed the same
  * way join with NO shuffle exchange, and results match the plain join.
  */
class BucketingSpec extends AnyFunSuite {
  import SharedSpark._

  test("same-bucketed standing tables join with zero Exchange; results exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    // the standing corpus fp table and an incoming batch keyed alike
    val corpus = (0L until 5000L).map(i => (i * 37 % 4096, i))
      .toDF("fp", "doc_id")
    val batch = (0L until 800L).map(i => (i * 53 % 4096, i + 100000))
      .toDF("fp", "new_id")
    Bucketing.saveBucketed(corpus, s"$dir/corpus", "bk_corpus", "fp", 8)
    Bucketing.saveBucketed(batch, s"$dir/batch", "bk_batch", "fp", 8)
    // disable broadcast: at standing-corpus scale neither side fits an
    // executor — the shape under test is the co-located sort-merge join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = try {
      val j = Bucketing.table(spark, "bk_corpus")
        .join(Bucketing.table(spark, "bk_batch"), "fp")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan) // bucket layout IS the partitioning
      j
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val got = joined.select("fp", "doc_id", "new_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = corpus.join(batch, "fp").select("fp", "doc_id", "new_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want && got.nonEmpty)
    spark.sql("DROP TABLE IF EXISTS bk_corpus")
    spark.sql("DROP TABLE IF EXISTS bk_batch")
  }

  test("bucketed vs unbucketed side: only the unbucketed side exchanges") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bucket2").toString
    val corpus = (0L until 5000L).map(i => (i * 37 % 4096, i))
      .toDF("fp", "doc_id")
    Bucketing.saveBucketed(corpus, s"$dir/corpus", "bk_only", "fp", 8)
    val incoming = (0L until 500L).map(i => (i * 91 % 4096, i))
      .toDF("fp", "x")
      // hide the tiny size so the planner doesn't broadcast it
      .repartition(4)
    // disable broadcast for this assertion: we want the shuffle shape
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.table(spark, "bk_only").join(incoming, "fp")
      val plan = joined.queryExecution.executedPlan.toString
      // exactly one side exchanges: the bucketed scan must NOT
      val nExchanges = "Exchange hashpartitioning".r
        .findAllMatchIn(plan).length
      assert(nExchanges === 1, plan)
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bk_only")
    }
  }
}
