package graft.tools

/** Drop a batch of synthetic pages into a directory — the feeder for
  * `Main --stream` demos/tests (each invocation appends one parquet
  * batch the AvailableNow file source will pick up as a micro-batch).
  *
  * Usage: runMain graft.tools.PageFeed <dir> <nPages> [seed]
  */
object PageFeed {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = args(1).toLong
    val seed = if (args.length > 2) args(2).toLong else graft.sources.SynthPages.DefaultSeed
    val spark = graft.Main.session()
    graft.sources.SynthPages.pagesDF(spark, n, seed)
      .write.mode("append").parquet(dir)
    println(s"fed $n pages (seed $seed) into $dir")
    spark.stop()
  }
}
