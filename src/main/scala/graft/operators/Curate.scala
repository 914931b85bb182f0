package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.text

/** End-to-end training-data curation over a page table — the operator
  * set composed into the one pass a pipeline user actually runs:
  *
  *   [site boilerplate strip on raw lines (RefinedWeb, opt-in)] →
  *   normalize → exact dedup (content-fp keeper) → paragraph dedup
  *   (CCNet) → duplicated-span analysis (Lee et al. hash-window
  *   approximation) → Gopher quality gate
  *
  * and committed through the Lineage snapshot layer keyed by content
  * fingerprint, so a crawl ingested in batches resumes incrementally:
  * already-committed documents are never re-curated or re-written (the
  * same anti-join discipline as tile resume).
  *
  * Scale shape, stage by stage: normalization and the Gopher gate are
  * codegen'd per-row projections (zero shuffle); exact dedup is one
  * fp-keyed window (8-byte key); paragraph dedup shuffles paragraph
  * text exactly twice (inherent: the output is the rewritten corpus);
  * span analysis shuffles 8-byte window hashes, never substrings. The
  * cross-document stages (paragraph/span) evaluate over the batch
  * presented to them — for standing-corpus incrementality of those
  * stages, the band-table (q73) and fp-table (q64) operators provide
  * the mergeable state; exact-dedup incrementality IS provided here via
  * the committed-fp anti-join.
  */
object Curate {

  /** Curate a page table into per-document curated rows.
    *
    * Returns one row per SURVIVING document:
    *   (tile_id = content fp, url, text_curated, byte_len, n_paras,
    *    n_kept, dup_char_frac, n_words, keep flags…)
    * `tile_id`/`byte_len` naming matches the Lineage commit contract so
    * the snapshot layer (metrics, resume, QA report) applies unchanged.
    */
  /* spanMaxFrac default drops only near-total boilerplate: corpus-wide
   * duplicated-window coverage rises with corpus size (every shared
   * template sentence counts), so a tight default would silently empty
   * a templated corpus — the fraction is ALWAYS reported per doc
   * (`dup_char_frac`) for a caller-chosen policy, and the hard gate
   * only removes documents that are almost entirely duplicated text. */
  def curate(pages: DataFrame,
             spanMinLen: Int = 20,
             spanMaxFrac: Double = 0.98,
             minWords: Int = 20,
             parasOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
               split(_, "\n"),
             paraSep: String = "\n",
             nearDupJaccard: Option[Double] = None,
             siteBoilerMinDocs: Option[Int] = None,
             siteBoilerSep: String = "\n"): DataFrame = {
    // optional site-level boilerplate removal (RefinedWeb's repeated-
    // line drop, scoped per host) FIRST, on the RAW extracted text —
    // normalizeText collapses line structure, and lines are the unit
    // that separates template chrome (nav bars, footers, cookie
    // banners: repeated verbatim across a host's pages) from common
    // vocabulary (word units would strip stopwords corpus-wide). Also
    // the RefinedWeb order: line-level cleanup precedes document-level
    // dedup, so a page reduced to its unique body dedups on that body.
    // Runs per raw page (before the exact winnow): duplicate urls of a
    // template page all count toward the distinct-doc threshold, which
    // is what "share of the host's pages" means on a crawl.
    val deboiled = siteBoilerMinDocs match {
      case None => pages
      case Some(m) =>
        Dedup.removeHostBoilerplate(
            pages.select(col("url"), col("text"))
              .withColumn("__host", graft.functions.url.host(col("url"))),
            "text", "url", "__host", sep = siteBoilerSep, minDocs = m)
          .select(col("url"), col("clean_text").as("text"))
    }
    val norm = deboiled
      .select(col("url"), TextAnalysis.normalizeText(col("text")).as("text"))
      .filter(length(col("text")) > 0)
    // exact dedup: deterministic min-url keeper per content fingerprint
    // (the shared keeper policy), fp retained as the commit key.
    // Materialized once: it feeds the fuzzy stage's banded scan + text
    // verify + length table + anti-join when --neardup is on, and the
    // paragraph explode + fp/url join always — without this the
    // normalize/hash/window chain re-runs per consumer.
    val exact = Dedup.keepFirstByContent(norm, "text", "url",
      keepFpAs = Some("fp")).localCheckpoint(true)
    // optional fuzzy dedup (the RefinedWeb/FineWeb exact+fuzzy shape):
    // MinHash-LSH near-dup pairs keyed by the 8-byte content fp →
    // component closure → keep the LONGEST member (C4 policy; ties →
    // smaller fp). Banded fan-out carries (band_key, fp) only.
    val uniq = nearDupJaccard match {
      case None => exact
      case Some(tau) =>
        val pairs = Dedup.minhashPairs(exact, "text", "fp", threshold = tau)
        val comps = Dedup.connectedComponents(pairs)
        val lens = exact.select(col("fp").as("id"),
          length(col("text")).as("__len"))
        val keepers = comps.join(lens, Seq("id"))
          .groupBy("cluster_id")
          .agg(Dedup.keeper(-col("__len"), col("id")).as("__keep_fp"))
        val losers = comps
          .join(keepers, comps("id") === keepers("__keep_fp"), "left_anti")
          .select(col("id").as("fp"))
        // two downstream consumers (paragraph explode + the fp/url join)
        // — don't re-run the anti-join per consumer
        exact.join(losers, Seq("fp"), "left_anti").localCheckpoint(true)
    }
    // CCNet paragraph dedup: drop repeated paragraphs corpus-wide
    val para = Dedup
      .paragraphDedup(uniq, "url", parasOf(col("text")), sep = paraSep)
      .withColumnRenamed("text_dedup", "text_curated")
    val withPara = uniq.select(col("url"), col("fp")).join(para, Seq("url"))
    // duplicated-span coverage of the rewritten text (boilerplate share)
    val spans = Dedup
      .duplicatedSpans(withPara.select(col("url"),
        col("text_curated").as("text")), "text", "url", spanMinLen)
      .select(col("url"), col("dup_char_frac"))
    // Gopher gate on the rewritten text: a pure projection over the
    // spans-joined frame (preserveCols), so the gate itself adds no join
    TextAnalysis
      .gopherFilters(withPara.join(spans, Seq("url")),
        "text_curated", "url", minWords = minWords, preserveCols = true)
      .filter(col("keep") && col("dup_char_frac") <= spanMaxFrac)
      .select(
        col("fp").as("tile_id"),
        col("url"),
        col("text_curated"),
        length(col("text_curated")).cast("long").as("byte_len"),
        col("n_paras"), col("n_kept"), col("dup_char_frac"), col("n_words"))
  }

  /** Curate and commit as a Lineage snapshot; with `resume`, documents
    * whose content fp is already committed under `root` are skipped
    * BEFORE the write (never re-curated into the table). Returns the
    * snapshot.
    */
  def run(pages: DataFrame, root: String, resume: Boolean,
          note: String = "curate",
          nearDupJaccard: Option[Double] = None,
          siteBoilerMinDocs: Option[Int] = None): graft.plans.Lineage.Snapshot = {
    val curated = curate(pages, nearDupJaccard = nearDupJaccard,
      siteBoilerMinDocs = siteBoilerMinDocs)
    val pending =
      if (resume) graft.plans.Lineage.pendingOnly(curated, root) else curated
    graft.plans.Lineage.commit(pending, root, note)
  }

  /** Per-shard export stats: (shard, docs, tokens). */
  final case class ShardStat(shard: Long, docs: Long, tokens: Long)

  /** Training-data export — the last mile of the curation story: the
    * committed curated table cut into `numShards` token-balanced shard
    * directories (`exportDir/data/shard=K/`) via
    * [[Packing.shardByTokens]] over the content fingerprint (uniform
    * 64-bit keys → perfectly balanced range buckets for the prefix
    * sum), plus a `manifest.json` recording each shard's document count
    * and token mass — what a trainer reads to hand one shard per
    * worker. Deterministic: same table → same assignment → same files.
    * Returns the stats sorted by shard.
    */
  def exportShards(spark: org.apache.spark.sql.SparkSession,
                   curatedRoot: String, exportDir: String,
                   numShards: Int): Seq[ShardStat] = {
    val t = graft.plans.Lineage.activeTable(spark, curatedRoot)
    val withTok = t.withColumn("n_tok",
      TextAnalysis.tokenCount(col("text_curated")).cast("long"))
    val assigned = Packing.shardByTokens(
      withTok.select(col("tile_id"), col("n_tok")),
      "tile_id", "n_tok", numShards)
    withTok.join(assigned.select("tile_id", "shard"), Seq("tile_id"))
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$exportDir/data")
    // manifest from what was WRITTEN (read-back, not the plan)
    val stats = spark.read.parquet(s"$exportDir/data")
      .groupBy("shard")
      .agg(count(lit(1)).as("docs"), sum("n_tok").as("toks"))
      .collect()
      .map(r => ShardStat(r.getAs[Number]("shard").longValue(),
        r.getLong(1), r.getLong(2)))
      .sortBy(_.shard).toSeq
    val json = stats.map(s =>
        s"""{"shard":${s.shard},"docs":${s.docs},"tokens":${s.tokens}}""")
      .mkString("[", ",", "]")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(exportDir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(exportDir, "manifest.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    stats
  }
}
