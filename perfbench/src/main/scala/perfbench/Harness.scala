package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** A correctness check made by the benchmark on the program's output. */
final case class Check(name: String, ok: Boolean, detail: String)

/** One pass of a workload: the latency of each operation, the executor
  * cpu-seconds they used, and workload-specific totals.
  */
final case class Pass(ops: Seq[(String, Double)], cpuS: Double, values: Map[String, Double]) {
  def wallS: Double = ops.map(_._2).sum / 1e3
  /** Latencies (ms) of the operations called `name`. */
  def msOf(name: String): Seq[Double] = ops.filter(_._1 == name).map(_._2)
}

/** Everything a workload step needs: the session, the engine counters,
  * the span recorder, the run's seed, and a scratch directory inside the
  * checkout. Operations and checks are counted here, so `attempted` and
  * `failed` cover every workload the same way.
  */
final class Ctx(val spark: SparkSession, val probe: SparkProbe, val seed: Long,
                val work: String, val isDefaultSeed: Boolean) {
  var tracer: Tracer = new Tracer(false)
  val checks: ArrayBuffer[Check] = ArrayBuffer.empty
  val goldens: scala.collection.mutable.LinkedHashMap[String, String] =
    scala.collection.mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    if (!ok) System.err.println(s"[perfbench] check failed: $name $d")
    checks += Check(name, ok, d)
  }

  /** Records a value that must match the recorded golden at the default
    * seed (the comparison happens once the run ends).
    */
  def golden(key: String, value: Any): Unit = goldens(key) = value.toString

  private var opMs = ArrayBuffer.empty[(String, Double)]
  private var opCpu = 0.0

  /** Times one client operation inside a span; a thrown exception counts
    * as a failed operation, and the result is then None.
    */
  def op[A](name: String)(body: => A): Option[A] = {
    val before = probe.totals()
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Some(span(name)(body)) catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] operation $name failed: $e")
        e.printStackTrace()
        None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    opMs += name -> ms
    opCpu += probe.totals()("cpu_s") - before("cpu_s")
    r
  }

  /** Runs one pass and collects the latencies of the operations it made. */
  def pass(root: String)(body: => Map[String, Double]): Pass = {
    opMs = ArrayBuffer.empty; opCpu = 0.0
    tracer.newTrace()
    val values = span(root)(body)
    Pass(opMs.toSeq, opCpu, values)
  }
}

object Ctx {
  /** The benchmark session: graft.Bench's settings, with `cores` local
    * threads and every scratch directory inside the checkout.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(cores * 4, 32).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Where the layer profile of a traced run finds the workload's pages. */
final case class ProfileData(pagesPath: String, pages: Long)

/** A benchmark workload: a closed loop with one client. */
trait Workload {
  def name: String
  /** Generates the seeded inputs; timed, and repeated for `setup_s`. */
  def setup(ctx: Ctx): Unit
  def warmUp(ctx: Ctx): Unit
  def pass(ctx: Ctx, i: Int): Pass
  /** Checks that need the whole run, and the golden values. */
  def finalChecks(ctx: Ctx): Unit
  /** The workload's own end-to-end figures: (name, value, unit). */
  def details(passes: Seq[Pass]): Seq[(String, Double, String)]
  def profileData(ctx: Ctx): ProfileData
  /** Profile sections that the workload's traced pass already records. */
  def tracedPassCovers: Set[String] = Set.empty
}
