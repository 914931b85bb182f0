package graft.plans

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.LongAdder

/** Sums executor task time — lets the bench report WORK CONSERVATION
  * across parallelism levels: total task-seconds at N cores vs 4N cores.
  *
  * Two clocks, deliberately:
  *  - `taskSeconds` (executorRunTime) is wall-clock per task — inflated
  *    by co-tenant CPU steal and GC;
  *  - `cpuSeconds` (executorCpuTime) is actual CPU time — immune to
  *    descheduling, so cpu_ratio ≈ 1 across parallelism levels proves
  *    the engine adds no parallel work even when a noisy host inflates
  *    run-time-based work_ratio.
  *
  * Per-stage totals let a failed scaling gate be pinned to the stage
  * that stopped scaling rather than argued about.
  */
class TaskTimeListener extends SparkListener {
  private val runTimeMs = new LongAdder
  private val cpuTimeNs = new LongAdder
  private val stageRunMs =
    new java.util.concurrent.ConcurrentHashMap[Int, LongAdder]()
  private val stageTasks =
    new java.util.concurrent.ConcurrentHashMap[Int, LongAdder]()
  private val stageWallMs =
    new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private val shufWriteB = new LongAdder

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      runTimeMs.add(m.executorRunTime)
      cpuTimeNs.add(m.executorCpuTime)
      shufWriteB.add(m.shuffleWriteMetrics.bytesWritten)
      stageRunMs.computeIfAbsent(taskEnd.stageId, _ => new LongAdder)
        .add(m.executorRunTime)
      stageTasks.computeIfAbsent(taskEnd.stageId, _ => new LongAdder).add(1)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stageWallMs.put(i.stageId, c - s)
  }

  def taskSeconds: Double = runTimeMs.sum() / 1e3
  def cpuSeconds: Double = cpuTimeNs.sum() / 1e9
  /** Shuffle bytes written (map side) — the plan-quality number: an
    * operator whose payload rides a fan-out shows up here immediately. */
  def shuffleWriteMb: Double = shufWriteB.sum() / 1048576.0

  /** (stage label, task-seconds) descending; label = id, task count, and
    * the stage's own wall time (submit→complete) so scheduling gaps and
    * per-stage parallelism are both visible.
    */
  def stageBreakdown(topN: Int = 10): Seq[(String, Double)] = {
    import scala.jdk.CollectionConverters._
    stageRunMs.asScala.toSeq
      .map { case (id, ms) =>
        val nt = Option(stageTasks.get(id)).map(_.sum()).getOrElse(0L)
        val wall = Option(stageWallMs.get(id)).map(_ / 1e3).getOrElse(0.0)
        (f"s$id%d[${nt}t,${wall}%.1fs]", ms.sum() / 1e3)
      }
      .sortBy(-_._2).take(topN)
  }

  def reset(): Unit = {
    runTimeMs.reset(); cpuTimeNs.reset()
    shufWriteB.reset()
    stageRunMs.clear(); stageTasks.clear(); stageWallMs.clear()
  }
}
