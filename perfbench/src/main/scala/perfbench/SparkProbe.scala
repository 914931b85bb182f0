package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters the benchmark registers on its own session: a
  * SparkListener for jobs, stages and task metrics, a
  * QueryExecutionListener for planning time, and Spark's CodegenMetrics
  * for generated-code compilation. `totals()` waits for the listener bus
  * to drain, so the totals include every event posted before the call.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  private val jobs = new LongAdder
  private val tasks = new LongAdder
  private val cpuNs = new LongAdder
  private val gcMs = new LongAdder
  private val shuffleWriteB = new LongAdder
  private val inputB = new LongAdder
  private val fetchWaitMs = new LongAdder
  private val spillB = new LongAdder
  private val schedDelayMs = new LongAdder
  private val planMs = new LongAdder
  // union of the intervals in which at least one stage runs
  private val busyMs = new AtomicLong
  private var activeStages = 0
  private var busyFrom = 0L
  // per reduce task: shuffle records read, in completion order
  private val reduceRecords =
    new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (activeStages == 0)
      busyFrom = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    activeStages += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    activeStages = math.max(0, activeStages - 1)
    if (activeStages == 0)
      busyMs.addAndGet(math.max(0L,
        e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) - busyFrom))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.increment()
    if (m != null) {
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
      inputB.add(m.inputMetrics.bytesRead)
      fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      spillB.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      val info = e.taskInfo
      if (info != null && info.finishTime > 0)
        schedDelayMs.add(math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime))
      if (m.shuffleReadMetrics.recordsRead > 0)
        reduceRecords.add(m.shuffleReadMetrics.recordsRead)
    }
  }

  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      planMs.add(Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum)
    }
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(PlanListener)

  def drain(): Unit =
    org.apache.spark.GraftSparkBridge.waitForListeners(spark.sparkContext, 60000L)

  /** Cumulative totals since the probe was registered. */
  def totals(): Map[String, Double] = {
    drain()
    val (compiles, compileMs) = SparkProbe.codegen()
    Map(
      "jobs" -> jobs.sum().toDouble,
      "tasks" -> tasks.sum().toDouble,
      "cpu_s" -> cpuNs.sum() / 1e9,
      "gc_s" -> gcMs.sum() / 1e3,
      "shuffle_write_b" -> shuffleWriteB.sum().toDouble,
      "input_b" -> inputB.sum().toDouble,
      "fetch_wait_s" -> fetchWaitMs.sum() / 1e3,
      "spill_b" -> spillB.sum().toDouble,
      "sched_delay_s" -> schedDelayMs.sum() / 1e3,
      "plan_ms" -> planMs.sum().toDouble,
      "stage_busy_s" -> busyMs.get() / 1e3,
      "codegen_classes" -> compiles,
      "codegen_compile_ms" -> compileMs,
      "reduce_tasks" -> reduceRecords.size().toDouble)
  }

  /** Shuffle records read by each reduce task that ended after the first
    * `from` reduce tasks (pair with the "reduce_tasks" total).
    */
  def reduceRecordsFrom(from: Int): Seq[Long] = {
    drain()
    reduceRecords.asScala.drop(from).map(_.longValue).toSeq
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(PlanListener)
  }
}

object SparkProbe {
  /** (classes compiled, compile ms) so far in this JVM. The histogram's
    * reservoir keeps every sample until it holds 1028; past that the sum
    * is estimated as count × mean.
    */
  def codegen(): (Double, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val ms = if (n <= snap.size()) snap.getValues.map(_.toDouble).sum
      else n * snap.getMean
    (n.toDouble, ms)
  }
}
