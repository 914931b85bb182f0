package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.{Page, SynthPages}

/** Seeded benchmark inputs. Every table is a pure function of (seed, row
  * id): pages come from the program's own page generator, and the query
  * sweep's `documents` and `events` tables are derived from pages, so all
  * three workloads describe the same kind of data.
  */
object Inputs {
  /** Pages with ids in [from, until), written as a parquet table. */
  def writePages(spark: SparkSession, seed: Long, from: Long, until: Long,
                 path: String): Unit = {
    import spark.implicits._
    val parts = math.max(spark.sparkContext.defaultParallelism,
      ((until - from) / 50000L).toInt)
    spark.range(from, until, 1, parts).as[Long]
      .map(id => SynthPages.genPage(seed, id))
      .write.mode("overwrite").parquet(path)
  }

  val Users = 200L
  private val EventTypes = Seq("view", "click", "purchase", "error", "search")

  /** The sweep's `documents` (doc_id, text, lang, source, n_chars) from the
    * first `docs` pages, and `events` (event_id, ts, user_id, event_type,
    * value, props) from the first `events` pages, written as
    * `<dir>/<name>.parquet`.
    */
  def writeSweepTables(spark: SparkSession, pagesPath: String, docs: Long,
                       events: Long, dir: String): Unit = {
    val pages = spark.read.parquet(pagesPath)
      .withColumn("id", regexp_extract(col("url"), "(\\d+)$", 1).cast("long"))
    val id0 = pages.agg(min("id")).head().getLong(0)
    val rel = pages.withColumn("rid", col("id") - lit(id0))
    rel.filter(col("rid") < docs)
      .select(col("rid").as("doc_id"), col("text"), col("lang"),
        concat(lit("src"), (col("rid") % 20).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .repartition(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val types = array(EventTypes.map(lit): _*)
    rel.filter(col("rid") < events).select(col("rid").as("event_id"), col("warc_ts").as("ts"),
        pmod(xxhash64(col("url")), lit(Users)).as("user_id"),
        element_at(types, (pmod(col("rid"), lit(EventTypes.size.toLong)) + 1)
          .cast("int")).as("event_type"),
        round(pmod(xxhash64(col("text")), lit(2000L)) / 100.0, 2).as("value"),
        concat(lit("{\"k\": "), (col("rid") % 100).cast("string"), lit("}")).as("props"))
      .repartition(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** Bytes of every regular file under `path` (0 when it does not exist). */
  def duBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return 0L
    val s = java.nio.file.Files.walk(p)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return
    val s = java.nio.file.Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally s.close()
  }

  /** A plain page object sample from a stored page table (driver side). */
  def samplePages(spark: SparkSession, path: String, n: Int): Array[Page] = {
    import spark.implicits._
    spark.read.parquet(path).as[Page].orderBy("url").limit(n).collect()
  }
}
