package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** The benchmark driver:
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                [--goldens <file>] [--record-goldens] [--out <dir>]
  * }}}
  * Generates a few pages untimed, then sets the workload up three times
  * (the median is `setup_s`), warms it up, then runs passes for `--seconds` (at least
  * one). With `--trace 1` it instead runs one traced pass and the layer
  * profile, and reports the per-layer metrics. The last line of standard output is the result
  * object; the line before it carries the workload's own figures and the
  * host-noise companion.
  */
object Main {
  val DefaultSeed = 42L
  val SetupReps = 3

  val Workloads: Seq[Workload] = Seq(TileBuild, OperatorSweep, SnapshotServe)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        goldens: Option[String], record: Boolean, out: String)

  def parse(args: Array[String]): Args = {
    val kv = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      if (args(i) == "--record-goldens") { kv(args(i)) = "1"; i += 1 }
      else {
        require(i + 1 < args.length, s"${args(i)} needs a value")
        kv(args(i)) = args(i + 1); i += 2
      }
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", kv.get("--goldens"), kv.contains("--record-goldens"),
      kv.getOrElse("--out", ".bench_build/perfbench"))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, secs(t0))
  }

  private val started = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${secs(started)}%7.2fs] $msg")

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w = Workloads.find(_.name == args.workload).getOrElse {
      System.err.println(s"unknown workload ${args.workload}; one of ${Workloads.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.min(4, nproc)
    val outDir = Paths.get(args.out).toAbsolutePath
    val work = outDir.resolve(s"work-${ProcessHandle.current().pid()}").toString
    Files.createDirectories(outDir)
    val load0 = loadAvg()

    val (spark, sessionS) = timed(Ctx.session(cores, work))
    val probe = new SparkProbe(spark)
    val ctx = new Ctx(spark, probe, args.seed, work, args.seed == DefaultSeed)
    try {
      log(f"session up in $sessionS%.2fs")
      // the first page generation in a fresh JVM is dominated by JIT
      // compilation; a small untimed one keeps that out of the set-up times
      Inputs.writePages(spark, args.seed, 0L, 2000L, s"$work/jit-warm-up")
      val setupS = (1 to SetupReps).map(_ => timed(w.setup(ctx))._2)
      log(s"set up ${setupS.map(s => f"$s%.2fs").mkString(", ")}")
      val warmS = timed(w.warmUp(ctx))._2
      log(f"warmed up in $warmS%.2fs")

      val passes = ArrayBuffer.empty[Pass]
      val t0 = System.nanoTime()
      var traceOwnS = 0.0
      var codegen = (0.0, 0.0)
      if (args.trace) {
        ctx.tracer = new Tracer(true, () => probe.totals())
        passes += w.pass(ctx, 0)
        traceOwnS = ctx.tracer.ownNs / 1e9
        codegen = SparkProbe.codegen()
        log(f"traced pass: ${passes.last.wallS}%.2fs wall, ${passes.last.cpuS}%.2fs cpu")
      } else do {
        passes += w.pass(ctx, passes.size)
        log(f"pass ${passes.size}: ${passes.last.wallS}%.2fs wall, ${passes.last.cpuS}%.2fs cpu")
      } while (secs(t0) < args.seconds)
      val loopS = secs(t0)
      if (args.trace) {
        Profile.run(ctx, w)
        log("layer profile done")
      }
      w.finalChecks(ctx)
      compareGoldens(ctx, w, args)
      log("checks done")
      val load1 = loadAvg()

      val cpuAll = passes.map(_.cpuS).sum
      val host = Seq(
        "self_ratio" -> Json.num(cpuAll / (loopS * cores)),
        "nproc" -> nproc.toString, "cores" -> cores.toString,
        "loadavg_start" -> Json.num(load0), "loadavg_end" -> Json.num(load1),
        "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
        "spark" -> Json.str(spark.version),
        "source_rev" -> Json.str(sys.env.getOrElse("PERFBENCH_SOURCE_REV", "unknown")))

      val e2e: Seq[(String, Double, String)] = Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("pass_s", Stats.median(passes.map(_.wallS).toSeq), "s"),
        ("pass_cpu_s", Stats.median(passes.map(_.cpuS).toSeq), "s"))
      val failedFrac = ctx.failed.toDouble / math.max(1L, ctx.attempted)
      val own = Seq(("setup_s", Stats.median(setupS), "s")) ++ w.details(passes.toSeq) ++
        Seq(("failed_frac", failedFrac, "ratio"))
      val metrics: Seq[(String, Double, String)] =
        if (!args.trace) e2e
        else Layers.metrics(ctx.tracer.spans, codegen) ++ Seq(
          // the traced pass, to set against pass_s of untraced runs
          ("trace.pass_s", passes.head.wallS, "s"),
          ("trace.overhead_frac", traceOwnS / passes.head.wallS, "ratio"),
          ("host.self_ratio", cpuAll / (loopS * cores), "ratio"),
          ("setup.session_s", sessionS, "s"),
          ("setup.warmup_s", warmS, "s"))
      val failedChecks = ctx.checks.filterNot(_.ok)
      val attempted = ctx.attempted + ctx.checks.size
      val failed = ctx.failed + failedChecks.size
      def metricObj(ms: Seq[(String, Double, String)]) = Json.obj(ms.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })

      val detail = Json.obj(Seq(
        "workload" -> Json.str(w.name), "seed" -> args.seed.toString,
        "trace" -> (if (args.trace) "1" else "0"),
        "passes" -> passes.size.toString,
        "workload_metrics" -> metricObj(own),
        "host" -> Json.obj(host),
        "checks" -> ctx.checks.size.toString,
        "failed_checks" -> Json.arr(failedChecks.map(c => Json.str(s"${c.name}: ${c.detail}")).toSeq)))
      val stem = s"${w.name}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
      Files.writeString(outDir.resolve(s"$stem.json"), Json.obj(Seq(
        "detail" -> detail, "metrics" -> metricObj(metrics),
        "passes" -> Json.arr(passes.toSeq.map(p => Json.obj(Seq(
          "cpu_s" -> Json.num(p.cpuS),
          "ops" -> Json.arr(p.ops.map { case (n, ms) =>
            Json.arr(Seq(Json.str(n), Json.num(ms))) }))))),
        "goldens" -> Json.obj(ctx.goldens.toSeq.map { case (k, v) => k -> Json.str(v) }))) + "\n")
      if (args.trace)
        Files.writeString(outDir.resolve(s"$stem.spans.jsonl"),
          Tracer.toJsonLines(ctx.tracer.spans).mkString("", "\n", "\n"))
      println(detail)
      println(Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> metricObj(metrics))))
    } finally {
      probe.close()
      spark.stop()
      Inputs.deleteTree(work)
    }
  }

  /** At the default seed every recorded value must equal its golden; at
    * any seed the seed-independent ones (query schemas) must.
    */
  private def compareGoldens(ctx: Ctx, w: Workload, args: Args): Unit = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    val path = args.goldens.getOrElse(return)
    val mapper = new ObjectMapper()
    val p = Paths.get(path)
    val root: ObjectNode =
      if (Files.exists(p)) mapper.readTree(p.toFile).asInstanceOf[ObjectNode]
      else mapper.createObjectNode()
    if (args.record) {
      require(ctx.isDefaultSeed, s"goldens are recorded at seed $DefaultSeed")
      val node = root.putObject(w.name)
      ctx.goldens.foreach { case (k, v) => node.put(k, v) }
      mapper.writerWithDefaultPrettyPrinter().writeValue(p.toFile, root)
      return
    }
    val node = root.get(w.name)
    ctx.check(s"${w.name}.goldens_present", node != null, s"no goldens for ${w.name} in $path")
    if (node == null) return
    ctx.goldens.foreach { case (k, v) =>
      if (ctx.isDefaultSeed || k.startsWith("schema.")) {
        val want = Option(node.get(k)).map(_.asText)
        ctx.check(s"${w.name}.golden.$k", want.contains(v), s"got $v, golden $want")
      }
    }
  }
}
