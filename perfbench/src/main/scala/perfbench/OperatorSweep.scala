package perfbench

import graft.SparkEntry

/** operator-sweep: 27 SparkEntry queries from seven operator families,
  * in family order, each written to the noop sink. A pass
  * is the first run of every query in a fresh session, so it carries the
  * planning, code generation and job scheduling a user pays per query;
  * the inputs are small, which keeps the pass driver-bound.
  */
object OperatorSweep extends Workload {
  val name = "operator-sweep"
  val Docs = 1000L
  val Events = 10000L

  val Families: Seq[(String, Seq[String])] = Seq(
    "pip" -> Seq("q12", "q99"),
    "knn" -> Seq("q13", "q94"),
    "raster" -> Seq("q14", "q16", "q96", "q59"),
    "dbscan" -> Seq("q101", "q102", "q103", "q104", "q106", "q117", "q119"),
    "overlay" -> Seq("q98", "q105", "q107", "q110", "q111"),
    "trajectory" -> Seq("q100", "q114", "q109", "q112"),
    "text" -> Seq("q26", "q42", "q79"))

  val Queries: Seq[String] = Families.flatMap(_._2)

  /** Short name (q12) → the SparkEntry query name (q12_pip_triangles). */
  lazy val FullName: Map[String, String] = Queries.map { q =>
    q -> SparkEntry.queries.keys.find(_.startsWith(q + "_"))
      .getOrElse(sys.error(s"no SparkEntry query $q"))
  }.toMap

  private def pagesPath(ctx: Ctx) = s"${ctx.work}/operator-sweep/pages"
  def tablesDir(ctx: Ctx) = s"${ctx.work}/operator-sweep/tables"

  def setup(ctx: Ctx): Unit = {
    Inputs.writePages(ctx.spark, ctx.seed, 0L, Events, pagesPath(ctx))
    Inputs.writeSweepTables(ctx.spark, pagesPath(ctx), Docs, Events, tablesDir(ctx))
  }

  /** Other SparkEntry queries over the same tables. A fresh JVM is slow
    * until the JIT has compiled Spark's planner and runtime, and without
    * this the first queries of the pass would pay for most of it; these
    * share none of the sweep's plans, so its queries still run for the
    * first time in the pass.
    */
  val WarmUpQueries: Seq[String] = Seq("q15_cell_encode", "q23_fingerprint",
    "q30_asof_nearest", "q31_window_agg", "q53_k_anonymize")

  def warmUp(ctx: Ctx): Unit = WarmUpQueries.foreach(q =>
    SparkEntry.queries(q)(ctx.spark, tablesDir(ctx)).write.format("noop").mode("overwrite").save())

  /** Runs every query once through the noop sink over `dir`; with
    * `recordSchemas`, records each result schema (seed-independent, so
    * checked against its golden at every seed).
    */
  def sweep(ctx: Ctx, dir: String, recordSchemas: Boolean): Map[String, Double] = {
    // one fixed order: a query's first-run time depends on how far the JIT
    // has got with Spark's own code, so a seed-permuted order made each
    // query's time, and the pass total, vary with its position
    Queries.foreach { q =>
      ctx.op(s"operators.q.$q") {
        val df = SparkEntry.queries(FullName(q))(ctx.spark, dir)
        df.write.format("noop").mode("overwrite").save()
        df.schema
      }.filter(_ => recordSchemas).foreach(schema => ctx.golden(s"schema.$q",
        schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")))
    }
    Map("queries" -> Queries.size.toDouble)
  }

  def pass(ctx: Ctx, i: Int): Pass = ctx.pass("operator_sweep.pass")(sweep(ctx, tablesDir(ctx), recordSchemas = true))

  /** At the default seed, every query's order-free result digest (one more
    * run of each query, after the measured passes; untraced runs only, to
    * keep a traced run within its time limit).
    */
  def finalChecks(ctx: Ctx): Unit = if (ctx.isDefaultSeed && !ctx.tracer.enabled) Queries.foreach { q =>
    try ctx.golden(s"digest.$q", OrderFreeHash.of(SparkEntry.queries(FullName(q))(ctx.spark, tablesDir(ctx))))
    catch { case e: Exception => ctx.check(s"operator-sweep.$q.digest", ok = false, e.toString) }
  }

  def details(passes: Seq[Pass]): Seq[(String, Double, String)] = Seq(
    ("sweep_s", Stats.median(passes.map(_.wallS)), "s"),
    ("sweep_cpu_s", Stats.median(passes.map(_.cpuS)), "s"))

  def profileData(ctx: Ctx): ProfileData = ProfileData(pagesPath(ctx), Events)

  override def tracedPassCovers: Set[String] = Set("queries")
}
