package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Spark job budgets of the DBSCAN-family, hull-overlay, kNN and
  * near-dup queries at sf0.001: each query, built and run once through the noop sink, starts
  * at most its budgeted number of jobs. These queries are bound by
  * per-job latency, not by work, so a new blocking action shows up here
  * before it shows up in wall time. Lower a budget when a change removes
  * jobs; raise one only with a stated reason.
  */
class JobBudgetSpec extends AnyFunSuite {
  import SharedSpark._

  // one job above the most seen in seven runs: AQE materializes query
  // stages concurrently, so which re-plan wins can add or save a job per
  // run. Each budget is still below the fewest jobs the query ran before
  // DBSCAN shared one labeling chain (PLANS.md, q101/q102).
  private val Budgets = Seq("q101" -> 26, "q102" -> 15, "q103" -> 26,
    "q104" -> 28, "q106" -> 28, "q107" -> 29, "q111" -> 30, "q117" -> 27,
    "q119" -> 27,
    // one job above the most seen in ten runs (two JVMs) before kNN's
    // probe rounds and the near-dup joins shared one loop and one
    // candidate-pair join: q13 61-62, q24 6, q26 7
    "q13" -> 63, "q24" -> 7, "q26" -> 8)

  private val Tag = "graft.jobBudget"

  /** Jobs started while building and running query `q`, counted from the
    * jobs that carry this thread's tag (broadcast and subquery jobs
    * inherit it), after the listener bus has drained.
    */
  private def jobsOf(q: String): Int = {
    val name = SparkEntry.queries.keys.find(_.startsWith(q + "_")).get
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == q)
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, q)
    try {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      org.apache.spark.GraftSparkBridge.waitForListeners(sc)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  Budgets.foreach { case (q, budget) =>
    test(s"$q starts at most $budget Spark jobs at sf0.001") {
      val n = jobsOf(q)
      assert(n <= budget, s"$q started $n jobs, budget $budget")
    }
  }
}
