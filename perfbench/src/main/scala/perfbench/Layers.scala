package perfbench

/** The per-layer metrics of a traced run, read off its spans. Every
  * workload reports the same names: the layer profile measures each layer
  * on the workload's own data (see Profile).
  */
object Layers {
  private def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else Stats.median(xs)

  /** `codegen` is (classes compiled, compile ms) for the whole run up to
    * the end of the traced pass: a warm pass reuses the classes compiled
    * before it, so a per-pass count would read 0.
    */
  def metrics(spans: Seq[Span], codegen: (Double, Double)): Seq[(String, Double, String)] = {
    val byName = spans.groupBy(_.name)
    val byId = spans.map(s => s.id -> s).toMap
    def named(n: String): Seq[Span] = byName.getOrElse(n, Nil)
    def wall(ss: Seq[Span]): Double = med(ss.map(_.durNs / 1e9))
    def attr(ss: Seq[Span], k: String): Double = med(ss.flatMap(_.attrs.get(k)))
    // wall time in which no Spark stage was running
    def driverS(s: Span): Double = s.durNs / 1e9 - s.attrs.getOrElse("stage_busy_s", 0.0)

    val core = Kernels.Names.flatMap { k =>
      val s = named(s"core.$k")
      Seq((s"core.$k.ns_per_op", attr(s, "ns_per_op"), "ns"),
        (s"core.$k.alloc_b_per_op", attr(s, "alloc_b_per_op"), "B"))
    }
    val stages = Profile.Stages.flatMap { st =>
      val s = named(st)
      Seq((s"$st.wall_s", wall(s), "s"), (s"$st.cpu_s", attr(s, "cpu_s"), "s"),
        (s"$st.rows_out", attr(s, "rows_out"), "count"),
        (s"$st.shuffle_write_b", attr(s, "shuffle_write_b"), "B"))
    } ++ Seq(
      // per stage GC time is mostly 0 ms; the sum over the stages is not
      ("stages.gc_s", Profile.Stages.map(st => attr(named(st), "gc_s")).sum, "s"),
      ("operators.pip.cand_per_hit", attr(named("operators.pip.candidates"), "cand_per_hit"), "ratio"),
      ("operators.tile_encode.skew_ratio", attr(named("operators.tile_encode"), "skew_ratio"), "ratio"))

    // engine counters of the traced pass
    val pass = spans.filter(s => s.parent == -1 && s.name.endsWith(".pass")).lastOption.toSeq
    val sparkM = Seq(
      ("spark.plan_ms", attr(pass, "plan_ms"), "ms"),
      ("spark.codegen_compile_ms", codegen._2, "ms"),
      ("spark.codegen_classes", codegen._1, "count"),
      ("spark.jobs", attr(pass, "jobs"), "count"),
      ("spark.driver_gap_s", med(pass.map(driverS)), "s"),
      ("spark.tasks", attr(pass, "tasks"), "count"),
      ("spark.sched_delay_s", attr(pass, "sched_delay_s"), "s"),
      ("spark.spill_b", attr(pass, "spill_b"), "B"))

    val queries = OperatorSweep.Queries.map(q =>
      (s"operators.q.$q.wall_s", wall(named(s"operators.q.$q")), "s"))
    val families = OperatorSweep.Families.flatMap { case (f, qs) =>
      val ss = qs.map(q => named(s"operators.q.$q"))
      Seq((s"family.$f.wall_s", ss.map(wall).sum, "s"),
        (s"family.$f.cpu_s", ss.map(attr(_, "cpu_s")).sum, "s"))
    }

    // the resume run's anti-join: every assigned row in, nothing out
    val resumePending = named("plans.pending")
      .filter(s => byId.get(s.parent).exists(_.name == "snapshot_serve.resume"))
    val reads = named("plans.range_read")
    val plans = Seq(
      ("plans.commit.wall_s", wall(named("plans.commit")), "s"),
      ("plans.commit.bytes_written", attr(named("plans.commit"), "bytes_written"), "B"),
      ("plans.pending.rows_in", attr(resumePending, "rows_in"), "count"),
      ("plans.pending.rows_out", attr(resumePending, "rows_out"), "count"),
      ("plans.compact.wall_s", wall(named("plans.compact")), "s"),
      ("plans.cluster.wall_s", wall(named("plans.cluster")), "s"),
      ("plans.compact.bytes_rewritten", attr(named("plans.compact"), "bytes_rewritten"), "B"),
      ("plans.range_read.files_opened", attr(reads, "files_opened"), "count"),
      ("plans.range_read.bytes_read", attr(reads, "input_b"), "B"),
      ("plans.range_read.driver_ms", med(reads.map(driverS)) * 1e3, "ms"))

    core ++ stages ++ sparkM ++ queries ++ families ++ plans
  }
}
