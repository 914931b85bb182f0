package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.text
import graft.functions.vec

/** Deduplication operators for large-scale training-data pipelines.
  * The near-dup pair operators share one scale shape: cheap per-row
  * signature (codegen'd) → ONE blocked self-join on ids only to surface
  * candidates ([[blockPairs]]: never all-pairs, never payloads through
  * the fan-out) → exact verification with payloads joined back exactly
  * once ([[withBothSides]]) — the candidate-then-verify discipline of
  * the reference's coarse-then-exact pipeline stages.
  */
object Dedup {
  /** Soft deduplication — frequency-based DOWNWEIGHTING instead of
    * dropping: every document keeps a training weight 1/n_copies so each
    * distinct content contributes unit mass to the loss (the weighted
    * alternative to hard dedup used when duplicates carry signal, e.g.
    * popularity). `key` is the duplicate-group key: pass the 64-bit
    * content fingerprint at scale (8-byte shuffle key — `text.
    * fingerprint64`); q89 passes the text column itself so the DuckDB
    * oracle replays the grouping bit-for-bit. One count aggregation +
    * one key-equi join back (broadcast when the distinct side is small);
    * weights rounded to 6 dp for cross-engine replay.
    */
  def softDedupWeights(docs: DataFrame, key: org.apache.spark.sql.Column,
                       idCol: String): DataFrame = {
    val counts = docs.groupBy(key.as("__sk"))
      .agg(count(lit(1)).as("n_copies"))
    docs.withColumn("__sk", key)
      .join(counts, Seq("__sk"))
      .withColumn("weight", round(lit(1.0) / col("n_copies"), 6))
      .drop("__sk")
  }

  /** Intra-document unit dedup — CCNet's WITHIN-document step, the
    * complement of the cross-document paragraph dedup: split the text on
    * a separator, keep each unit's FIRST occurrence (array_distinct is
    * order-preserving), reassemble. Boilerplate that repeats inside one
    * page (nav lines, cookie banners, template sentences) disappears
    * without touching other documents, so no shuffle is needed at all —
    * the whole operator is one codegen'd per-row array expression, the
    * cheapest dedup in the toolbox and the one to run FIRST at 100 TB
    * (it shrinks what every later stage hashes). Unit granularity is the
    * caller's: "\n" for lines, "\n\n" for paragraphs, " " for tokens.
    * Returns the input plus (n_units, n_kept, dedup_text).
    */
  def dedupUnitsWithin(docs: DataFrame, textCol: String,
                       sep: String): DataFrame = {
    require(sep.nonEmpty)
    val units = filter(
      split(col(textCol), java.util.regex.Pattern.quote(sep)),
      u => length(u) > 0)
    docs
      .withColumn("__u", units)
      .withColumn("__d", array_distinct(col("__u")))
      .withColumn("n_units", size(col("__u")).cast("long"))
      .withColumn("n_kept", size(col("__d")).cast("long"))
      .withColumn("dedup_text", concat_ws(sep, col("__d")))
      .drop("__u", "__d")
  }

  /** Site-level boilerplate removal — the RefinedWeb/CCNet "drop lines
    * repeated across a source's pages" step: a unit (line / paragraph /
    * word) occurring in ≥ `minDocs` DISTINCT documents of the same
    * `keyCol` (host/site) is template chrome — nav bars, footers,
    * cookie banners — and is removed from every document of that key,
    * preserving unit order and non-boilerplate repetition. The
    * complement of [[dedupUnitsWithin]] (within one doc) and the
    * cross-doc paragraph dedup (global): this one is scoped per SITE.
    *
    * Scale shape: per-doc-DISTINCT units explode to (key, unit) pairs —
    * never full texts — through ONE hash count agg; the boilerplate SET
    * per key is template-sized (bounded by a site's chrome, not its page
    * count), rides a key equi join back, and the rewrite is a per-row
    * codegen'd array filter. Returns the input plus
    * (n_units, n_kept, clean_text).
    */
  def removeHostBoilerplate(docs: DataFrame, textCol: String, idCol: String,
                            keyCol: String, sep: String,
                            minDocs: Int): DataFrame = {
    require(minDocs >= 2 && sep.nonEmpty)
    val units = filter(
      split(col(textCol), java.util.regex.Pattern.quote(sep)),
      u => length(u) > 0)
    val withU = docs.withColumn("__u", units)
    val boiler = withU
      .select(col(keyCol).as("__k"),
        explode(array_distinct(col("__u"))).as("__unit"))
      .groupBy("__k", "__unit")
      .agg(count(lit(1)).as("__nd")) // one row per (doc,unit): exact distinct
      .filter(col("__nd") >= minDocs)
      .groupBy("__k")
      .agg(collect_set(col("__unit")).as("__boiler"))
    withU
      .join(boiler, col(keyCol) === col("__k"), "left")
      .withColumn("__keep",
        when(col("__boiler").isNull, col("__u"))
          .otherwise(filter(col("__u"),
            u => !array_contains(col("__boiler"), u))))
      .withColumn("n_units", size(col("__u")).cast("long"))
      .withColumn("n_kept", size(col("__keep")).cast("long"))
      .withColumn("clean_text", concat_ws(sep, col("__keep")))
      .drop("__u", "__k", "__boiler", "__keep")
  }

  /** One row per 64-bit content fingerprint: the min-`idCol` keeper —
    * the in-batch exact-dedup winnow shared by [[incrementalDedup]],
    * the curation pass, and streaming admission (one definition of the
    * keeper policy). `keepFpAs` optionally retains the fingerprint
    * column under that name for downstream keying.
    */
  def keepFirstByContent(docs: DataFrame, textCol: String, idCol: String,
                         keepFpAs: Option[String] = None,
                         precomputedFp: Option[String] = None): DataFrame = {
    // reuse a caller-provided fingerprint column when one already exists
    // (the incremental path computed it for its anti-join) — full-text
    // hashing is the expensive part of this winnow
    val withFp = precomputedFp match {
      case Some(c) => docs.withColumn("__kfp", col(c))
      case None => docs.withColumn("__kfp", text.fingerprint64(col(textCol)))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__kfp").orderBy(col(idCol).asc)
    val kept = withFp
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    keepFpAs match {
      case Some(n) => kept.withColumnRenamed("__kfp", n)
      case None => kept.drop("__kfp")
    }
  }

  /** Incremental crawl dedup: admit only new documents whose text is (a)
    * absent from the existing corpus — anti join on the 64-bit content
    * fingerprint against the corpus fingerprint set, the thing a crawl
    * pipeline keeps as a compact standing table — and (b) unique within
    * the incoming batch ([[keepFirstByContent]]'s min-id keeper).
    * Returns the admitted rows of `incoming` unchanged.
    *
    * Scale shape: the corpus side is fingerprints only (8 bytes/doc — a
    * 10¹²-doc corpus is ~8 TB of fps vs the corpus itself); the anti join
    * shuffles (fp, id), never text, and the in-batch winnow is one
    * fp-keyed window. Near-dup admission composes downstream (LSH bands
    * of admitted docs vs the corpus band table — same join shape).
    */
  def incrementalDedup(incoming: DataFrame, corpusFps: DataFrame,
                       textCol: String, idCol: String,
                       fpCol: String = "text_fp"): DataFrame = {
    val withFp = incoming
      .withColumn("__fp", text.fingerprint64(col(textCol)))
    val novel = withFp.join(
      corpusFps.select(col(fpCol).cast("long").as("__fp")),
      Seq("__fp"), "left_anti")
    keepFirstByContent(novel, textCol, idCol,
      precomputedFp = Some("__fp")).drop("__fp")
  }

  /** (idCol, pos, __h): the 1-based position and rolling hash of every
    * length-`minLen` character window, the window stream of
    * [[duplicatedSpans]] and [[removeDuplicatedSpans]].
    */
  private def charWindows(docs: DataFrame, textCol: String, idCol: String,
                          minLen: Int): DataFrame =
    docs.select(col(idCol),
        posexplode(text.char_window_hashes(col(textCol), minLen)))
      .select(col(idCol), (col("pos") + 1).as("pos"), col("col").as("__h"))

  /** Gaps-and-islands merge of each document's windows (idCol, pos):
    * one row (idCol, s, e, __nw) per maximal run of overlapping or
    * adjacent windows, covering characters s..e with __nw windows.
    */
  private def windowIslands(wins: DataFrame, idCol: String,
                            minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wPrev = Window.partitionBy(idCol).orderBy(col("pos").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(idCol).orderBy(col("pos").asc)
    wins
      .withColumn("__prevEnd", max(col("pos") + lit(minLen - 1)).over(wPrev))
      .withColumn("__new",
        when(col("__prevEnd").isNull || col("pos") > col("__prevEnd"), 1)
          .otherwise(0))
      .withColumn("__island", sum(col("__new")).over(wRun))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(minLen - 1)).as("e"),
        count(lit(1)).as("__nw"))
  }

  /** Exact duplicated-substring analysis (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — the hash-window
    * approximation of their suffix-array method): a length-`minLen` char
    * window is DUPLICATED iff its content occurs at ≥ 2 (doc, pos)
    * positions corpus-wide; per document we report the duplicated-window
    * count and the exact character coverage of the union of duplicated
    * windows (gaps-and-islands merge), the fraction used to drop or trim
    * boilerplate-heavy docs.
    *
    * Scale shape: ONE codegen'd rolling-hash pass per doc emits 8-byte
    * window hashes (never the substrings — the explode is ~8 bytes/char
    * instead of minLen bytes/char); duplicate detection is a hash-keyed
    * partial+final count; the island merge is a per-document window (keyed
    * by doc id — no global order). Positions are UTF-16 code units, which
    * equals SQL's code-point positions for BMP text (the corpus contract).
    */
  def duplicatedSpans(docs: DataFrame, textCol: String, idCol: String,
                      minLen: Int = 20): DataFrame = {
    val wins = charWindows(docs, textCol, idCol, minLen)
    val dup = wins.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("__h")
    val perDoc = windowIslands(wins.join(dup, Seq("__h"), "left_semi"),
        idCol, minLen)
      .select(col(idCol), (col("e") - col("s") + 1).cast("long").as("__len"),
        col("__nw"))
      .groupBy(idCol)
      .agg(sum("__len").as("dup_chars"), sum("__nw").as("dup_windows"))
    docs.select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        greatest(length(col(textCol)) - lit(minLen) + 1, lit(0))
          .cast("long").as("n_windows"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_chars"), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        round(when(col("n_chars") === 0, lit(0.0))
          .otherwise(coalesce(col("dup_chars"), lit(0L)).cast("double")
            / col("n_chars")), 6).as("dup_char_frac"))
  }

  /** Exact duplicated-span REMOVAL — the rewrite half of Lee et al. 2021
    * (ExactSubstr): where [[duplicatedSpans]] only measures coverage,
    * this cuts the duplicated text out. Every length-`minLen` window
    * occurring at ≥ 2 corpus positions is duplicated; the globally FIRST
    * occurrence of each window content (min (doc, pos)) is retained, and
    * every LATER occurrence is removed from its document as the merged
    * union of its duplicated windows' character ranges — so one copy of
    * each repeated passage survives, in its earliest document.
    *
    * Scale shape: the same 8-byte rolling-hash window stream as
    * [[duplicatedSpans]] (substrings never shuffle); first-occurrence
    * selection is ONE hash-keyed window; island merge and the text
    * rewrite are doc-keyed (no global order). The rewrite itself is a
    * pure `aggregate` fold over each doc's sorted island array — cut
    * positions ride a bounded per-doc array, text is rewritten in place.
    *
    * Returns (idCol, text_rewritten, n_chars, removed_chars).
    */
  def removeDuplicatedSpans(docs: DataFrame, textCol: String, idCol: String,
                            minLen: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = charWindows(docs, textCol, idCol, minLen)
    // later occurrences only: rank within hash by (doc, pos); rn >= 2
    // implies the hash occurs at >= 2 positions corpus-wide
    val firstWin = Window.partitionBy("__h")
      .orderBy(col(idCol).asc, col("pos").asc)
    val laterDup = wins
      .withColumn("__rn", row_number().over(firstWin))
      .filter(col("__rn") >= 2)
      .select(col(idCol), col("pos"))
    val islands = windowIslands(laterDup, idCol, minLen)
      .groupBy(idCol)
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("__isl"))
    val txt = col(textCol)
    // fold the sorted islands: keep [cursor, island.start), jump cursor
    // past the island; then append the tail after the last island
    val rewritten = aggregate(col("__isl"),
      struct(lit("").as("acc"), lit(1).as("cur")),
      (st, isl) => struct(
        concat(st.getField("acc"),
          txt.substr(st.getField("cur"),
            isl.getField("s") - st.getField("cur"))).as("acc"),
        (isl.getField("e") + 1).as("cur")),
      st => concat(st.getField("acc"),
        txt.substr(st.getField("cur"), length(txt) - st.getField("cur") + 1)))
    docs.join(islands, Seq(idCol), "left")
      .withColumn("text_rewritten",
        coalesce(when(col("__isl").isNotNull, rewritten), txt))
      .select(col(idCol), col("text_rewritten"),
        length(txt).cast("long").as("n_chars"),
        (length(txt) - length(col("text_rewritten"))).cast("long")
          .as("removed_chars"))
  }

  /** The candidate step of every blocked near-dup join (PLANS.md,
    * "near-dup candidate pairs"): `blocks(id, keys…, carry…)` meets
    * itself on `keys`; each pair of ids sharing a (non-null) key comes out
    * once as (id_a, id_b, <carry>_a…, <carry>_b…), id_a < id_b. `refine`
    * reads only carried columns and runs before the distinct's shuffle.
    * Payloads stay out of `blocks`: see [[withBothSides]].
    */
  private[operators] def blockPairs(blocks: DataFrame, keys: Seq[String],
                                    carry: Seq[String] = Nil,
                                    refine: Column = lit(true)): DataFrame = {
    val cols = "id" +: carry
    def side(s: String) =
      blocks.select(keys.map(col) ++ cols.map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), keys)
      .filter(col("id_a") < col("id_b") && refine)
      .select((cols.map(c => col(s"${c}_a")) ++ cols.map(c => col(s"${c}_b"))): _*)
      .distinct()
  }

  /** Attaches `payload(id, cols…)` to both sides of a pair set
    * (id_a, id_b, …) as <col>_a and <col>_b: one join per side, so each
    * payload crosses the wire once per surviving pair.
    */
  private def withBothSides(pairs: DataFrame, payload: DataFrame): DataFrame =
    Seq("a", "b").foldLeft(pairs) { (acc, s) =>
      acc.join(payload.select(payload.columns.map(c => col(c).as(s"${c}_$s")): _*),
        Seq(s"id_$s"))
    }

  /** (blk, key) rows of a long signature: `nBlocks` blocks of `blockBits`
    * bits each, block i holding bits [i·blockBits, (i+1)·blockBits).
    */
  private def bitBlocks(sig: Column, nBlocks: Int, blockBits: Int): Column =
    inline(array((0 until nBlocks).map(i =>
      struct(lit(i).as("blk"),
        shiftright(sig, i * blockBits).bitwiseAND(lit((1L << blockBits) - 1))
          .as("key"))): _*))

  /** The member of each duplicate group that survives: the least
    * `score`, ties to the least `id`, null scores last. An aggregate, for
    * `groupBy(group).agg(keeper(score, id))`; pass a negated measure to
    * keep the largest (the id itself is never negated).
    */
  private[graft] def keeper(score: Column, id: Column): Column =
    min(struct(score.isNull.as("n"), score.as("s"), id.as("id"))).getField("id")

  /** MinHash+LSH near-dup pairs: signature k, `bands` bands (k/bands rows
    * per band), word-`shingle`-grams. Returns (id_a, id_b, jaccard) with
    * id_a < id_b and exact-verified jaccard ≥ threshold.
    *
    * Scale shape: the banded fan-out carries ONLY (band_key, id) — 16
    * bytes/row instead of the document text; text is joined back once, on
    * the (much smaller) distinct candidate-pair set, for verification.
    */
  def minhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   k: Int = 64, bands: Int = 16, shingle: Int = 3,
                   threshold: Double = 0.7): DataFrame = {
    // one codegen'd expression computes signature + band keys together
    // materialized once: both sides of the band self-join would
    // otherwise re-run the k-permutation minhash of every document
    val banded = docs.select(col(idCol).as("id"),
      explode(text.minhash_bands(col(textCol), k, bands, shingle)).as("band_key"))
      .localCheckpoint(true)
    withBothSides(blockPairs(banded, Seq("band_key")),
        docs.select(col(idCol).as("id"), col(textCol).as("txt")))
      .withColumn("jaccard", text.jaccard_shingles(col("txt_a"), col("txt_b"), shingle))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Build the standing LSH band table for a corpus — the state an
    * incremental crawl keeps alongside the exact-fp table: one
    * (band_index, band_key, id) row per band per doc (k/bands minhash
    * rows each). 24 bytes/band/doc, mergeable across crawls by union.
    */
  def minhashBandTable(docs: DataFrame, textCol: String, idCol: String,
                       k: Int = 64, bands: Int = 16, shingle: Int = 3): DataFrame =
    docs.select(col(idCol).as("corpus_id"),
        posexplode(text.minhash_bands(col(textCol), k, bands, shingle)))
      .select(col("pos").as("band_idx"), col("col").as("band_key"),
        col("corpus_id"))

  /** Incremental near-dup admission: reject incoming docs whose minhash
    * collides with the STANDING corpus band table on any band AND whose
    * exact shingle Jaccard against the colliding corpus doc reaches the
    * threshold (candidate-then-verify, same discipline as minhashPairs).
    * Returns the admitted rows of `incoming` unchanged. Run AFTER
    * `incrementalDedup` (exact stage); admitted docs' bands then union
    * into the standing table for the next crawl.
    *
    * Scale shape: the band join moves (band_idx, band_key, id) — ids
    * only; text is joined back once for the surviving candidate pairs,
    * and `corpusText` is only probed for those ids (point lookups on a
    * bucketed corpus at scale).
    */
  def incrementalNearDup(incoming: DataFrame, corpusBands: DataFrame,
                         corpusText: DataFrame, textCol: String,
                         idCol: String, k: Int = 64, bands: Int = 16,
                         shingle: Int = 3,
                         threshold: Double = 0.7): DataFrame = {
    val inBands = incoming.select(col(idCol).as("__in_id"),
        posexplode(text.minhash_bands(col(textCol), k, bands, shingle)))
      .select(col("pos").as("band_idx"), col("col").as("band_key"),
        col("__in_id"))
    val cand = inBands
      .join(corpusBands, Seq("band_idx", "band_key"))
      .select("__in_id", "corpus_id").distinct()
    val verified = cand
      .join(incoming.select(col(idCol).as("__in_id"),
        col(textCol).as("__in_txt")), Seq("__in_id"))
      .join(corpusText.select(col(idCol).as("corpus_id"),
        col(textCol).as("__c_txt")), Seq("corpus_id"))
      .filter(text.jaccard_shingles(col("__in_txt"), col("__c_txt"), shingle)
        >= threshold)
      .select(col("__in_id")).distinct()
    incoming.join(
      verified.withColumnRenamed("__in_id", idCol), Seq(idCol), "left_anti")
  }

  /** SimHash near-dup pairs: 64-bit simhash, banded into four 16-bit
    * blocks (any pair within hamming ≤ 3 must agree on ≥1 block —
    * pigeonhole); exact hamming verification on candidates. The simhash
    * itself (8 bytes) rides the fan-out — re-deriving it would cost more
    * than carrying it — so verification is the refine step and needs no
    * join back.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-block pigeonhole guarantees hamming <= 3")
    def hamming = bit_count(col("sh_a").bitwiseXOR(col("sh_b")))
    val blocks = docs
      .select(col(idCol).as("id"), text.simhash64(col(textCol)).as("sh"))
      .select(col("id"), col("sh"), bitBlocks(col("sh"), 4, 16))
      // materialized once: simhash64 re-tokenizes the document per side
      .localCheckpoint(true)
    blockPairs(blocks, Seq("blk", "key"), carry = Seq("sh"),
        refine = hamming <= maxHamming)
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
  }

  /** Exact word-n-gram Jaccard pairs — fully SQL-expressible output
    * (oracle-checkable), no signatures. `blockCol` optionally restricts
    * comparisons to equal-block rows.
    *
    * Scale shape: PREFIX-FILTERED inverted index (Bayardo et al. WWW'07
    * all-pairs; Xiao et al. PPJoin). Each doc indexes only its
    * ⌊(1−t)·n⌋+1 globally-rarest shingles: any pair with Jaccard ≥ t has
    * |A∩B| ≥ ⌈t·|A|⌉, and under a common total order two sets with that
    * overlap must collide inside these prefixes — so exactness is
    * preserved while the hottest (highest-df) shingles, the O(df²)
    * blow-up of a naive index, drop out of most prefixes. A length filter
    * (min ≥ t·max) prunes candidates further; verification re-joins the
    * gram arrays once on the distinct candidate pairs.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        n: Int, threshold: Double,
                        blockCol: Option[String] = None): DataFrame = {
    // tokens → distinct n-gram shingles per doc (string form for SQL
    // parity), via ONE codegen'd expression — the interpreted HOF form
    // (transform/element_at/concat_ws) cost ~4× the rest of the operator
    // materialized once: three consumers (the prefix index + BOTH sides
    // of the verification join) would otherwise re-run the shingling —
    // the single most expensive projection here — per consumer
    val blk = blockCol.map(_ => col("blk")).toSeq
    val base = docs.select(
      (col(idCol).as("id") +: col(textCol).as("txt") +:
        blockCol.map(c => col(c).as("blk")).toSeq): _*)
      .withColumn("grams", text.word_ngrams(col("txt"), n))
      .withColumn("n_grams", size(col("grams")))
      .drop("txt")
      .localCheckpoint(true)
    // global order = (document frequency asc, gram asc): rarest first
    val dfWin = Window.partitionBy((blk :+ col("gram")): _*)
    val docWin = Window.partitionBy(col("id"))
      .orderBy(col("gram_df").asc, col("gram").asc)
    val prefix = base
      .select((Seq(col("id"), col("n_grams"), explode(col("grams")).as("gram")) ++
        blk): _*)
      .withColumn("gram_df", count(lit(1)).over(dfWin))
      .withColumn("rk", row_number().over(docWin))
      // prefix length n − ⌈t·n⌉ + 1 (exact for Jaccard ≥ t; see Scaladoc)
      .filter(col("rk") <=
        col("n_grams") - ceil(lit(threshold) * col("n_grams")) + 1)
    // length filter: Jaccard ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|)
    val lengthOk = least(col("n_grams_a"), col("n_grams_b")) >=
      lit(threshold) * greatest(col("n_grams_a"), col("n_grams_b"))
    val cand = blockPairs(prefix, "gram" +: blockCol.map(_ => "blk").toSeq,
      carry = Seq("n_grams"), refine = lengthOk)
    // exact verification: gram arrays joined back once per candidate pair
    withBothSides(cand, base.select("id", "grams"))
      .withColumn("inter",
        size(array_intersect(col("grams_a"), col("grams_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_grams_a") + col("n_grams_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Embedding near-dup pairs: random-hyperplane LSH blocking
    * (`blockBits`-bit blocks of an `nBits`-bit signature) + exact cosine
    * verification. Vectors never ride the block fan-out — ids only;
    * vectors join back once on the distinct candidate pairs.
    */
  def embeddingPairs(vecs: DataFrame, vecCol: String, idCol: String,
                     threshold: Double = 0.95, nBits: Int = 64,
                     blockBits: Int = 8, seed: Long = 77L): DataFrame = {
    // materialized once: both sides of the self-join would otherwise
    // re-run the rp_signature projection (64 dot products per vector)
    val blocks = vecs
      .select(col(idCol).as("id"), vec.rp_signature(col(vecCol), nBits, seed).as("sig"))
      .select(col("id"), bitBlocks(col("sig"), nBits / blockBits, blockBits))
      .localCheckpoint(true)
    withBothSides(blockPairs(blocks, Seq("blk", "key")),
        vecs.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("cos", vec.cosine_sim(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }

  /** Benchmark decontamination — the training-data step DISTINCT from
    * self-dedup: score each document by the fraction of its distinct
    * word n-grams that appear in ANY benchmark/eval document, and flag
    * docs above the threshold for removal (they would leak eval data
    * into training). Scale shape: the benchmark gram index is
    * benchmark-sized (distinct grams — broadcast-ready for real eval
    * sets); the corpus side explodes (id, gram) pairs only and LEFT SEMI
    * joins — document text never rides the fan-out.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, textCol: String,
                    idCol: String, n: Int = 3,
                    threshold: Double = 0.5): DataFrame = {
    val bGrams = benchmark
      .select(explode(text.word_ngrams(col(textCol), n)).as("gram"))
      .distinct()
    val dGrams = docs.select(col(idCol).as("__id"),
      explode(text.word_ngrams(col(textCol), n)).as("gram"))
    val total = dGrams.groupBy("__id").agg(count(lit(1)).as("n_grams"))
    val matched = dGrams.join(bGrams, Seq("gram"), "left_semi")
      .groupBy("__id").agg(count(lit(1)).as("n_matched"))
    total.join(matched, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        round(coalesce(col("n_matched"), lit(0L)).cast("double")
          / col("n_grams"), 6).as("contaminated_frac"))
      .withColumn("is_contaminated", col("contaminated_frac") >= threshold)
  }

  /** Rows a driver-side fast path ([[connectedComponents]],
    * [[CellCompact.compact]]) may collect: a quarter of the driver heap
    * at 512 B per row, the measured 434 B/edge live peak of the
    * union-find path rounded up (PLANS.md, "Driver-collect bound").
    */
  private[operators] val DriverCollectMax: Long =
    Runtime.getRuntime.maxMemory / 4 / 512

  /** All rows of `ds` if it has at most `collectMax`, else None — decided
    * by ONE job that brings at most collectMax + 1 rows to the driver (no
    * sizing count, no checkpoint before the decision). The limit stays
    * in Int range, so collectMax = Long.MaxValue means "always collect".
    */
  private[operators] def collectAtMost[T](ds: Dataset[T],
                                          collectMax: Long): Option[Array[T]] = {
    val cap = math.min(math.max(collectMax, 0L), Int.MaxValue - 1L).toInt + 1
    val rows = ds.limit(cap).collect()
    if (rows.length < cap) Some(rows) else None
  }

  /** Connected components over a near-dup pair list — the step between
    * pair detection and "keep one canonical doc per duplicate family".
    * Min-label propagation in driver-coordinated supersteps (the standard
    * Pregel shape; each superstep is ONE shuffle join + min-agg, lineage
    * truncated per step), accelerated by a pointer-jumping shortcut
    * (label-of-label self-join) per round — O(log diameter) supersteps,
    * the same doubling idea as Kiveris et al.'s large-star/small-star
    * ("Connected Components in MapReduce and Beyond"). Near-dup
    * families are near-cliques (2-3 rounds); chain-shaped graphs
    * (DBSCAN core paths) converge in ~log₂(n) rounds instead of
    * silently splitting at the iteration cap.
    * Production note: localCheckpoint stores blocks on executors — on a
    * real cluster with preemptible executors, point
    * spark.sparkContext.setCheckpointDir at durable storage and swap
    * localCheckpoint→checkpoint to survive executor loss mid-iteration.
    *
    * Returns (id, cluster_id = min reachable id). Vertices not present in
    * `pairs` are singletons by definition — left-join the id universe and
    * coalesce(cluster_id, id) to include them.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20,
                          collectMax: Long = DriverCollectMax): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col(idA).cast("long").as("src"),
      col(idB).cast("long").as("dst"))
    // canonicalize to src<dst FIRST: the distinct shuffles half the rows
    // the old symmetric-union-then-distinct did, and the symmetric set is
    // recovered by a free map (the two halves are disjoint by order)
    val uniq = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    // Scale-adaptive fast path: a BOUNDED edge set (the contracted
    // supercell graphs of Dbscan, polygonize's region adjacency, small
    // dedup families) resolves in one driver-side union-find instead of
    // O(log diameter) supersteps of ~3 jobs each — the superstep chain's
    // fixed per-job latency dominates whenever the data is small (guide
    // §1.2: fix the algorithm before the configuration). Above
    // `collectMax` edges the distributed superstep path runs, so 100 TB
    // edge sets never touch the driver; tests pass 0 to force it.
    val small = collectAtMost(uniq.as[(Long, Long)], collectMax)
    if (small.isDefined) {
      // union-find, union-by-min root + path compression: the root of a
      // set is always its minimum member, so the final find(id) IS the
      // transitive-closure min label the superstep path computes
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      small.get.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
      val out = parent.keys.toArray.map(id => (id, find(id)))
      return spark.createDataset(out.toIndexedSeq)
        .toDF("id", "cluster_id")
    }
    val cut = uniq.localCheckpoint(true)
    val sym = cut
      .union(cut.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"))
      val prop = labels.unionByName(msgs)
        .groupBy("id").agg(min(col("lbl")).as("lbl"))
        .localCheckpoint(true)
      // pointer-jumping shortcut (label-of-label): every label is itself
      // a vertex id, so one lookup join halves every label chain — the
      // propagate+shortcut round converges in O(log diameter) supersteps
      // instead of O(diameter). Near-clique dedup families never notice;
      // chain-shaped graphs (DBSCAN core paths, long link chains) go
      // from diameter-bound (hundreds of rounds, silently split at the
      // iteration cap) to ~10 rounds at any realistic scale. The lookup
      // is over the checkpointed frame, so the round still costs O(|V|).
      val lut = prop.select(col("id").as("__lid"), col("lbl").as("__llbl"))
      val next = prop.join(lut, col("lbl") === col("__lid"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("__llbl"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("lbl", "old"), "id")
        .filter(col("lbl") =!= col("old")).limit(1).count()
      labels = next
      converged = changed == 0L
      i += 1
    }
    sym.unpersist()
    // silent non-convergence would split one true family into several
    // labels (under-dedup) and diverge from the oracles' full closure —
    // at least say so; graph diameter > maxIter needs a higher cap or
    // the large-star/small-star variant noted above
    if (!converged)
      System.err.println(s"[dedup] connectedComponents did NOT converge " +
        s"in $maxIter supersteps — labels may split high-diameter " +
        "components; raise maxIter for chain-shaped duplicate families")
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** Corpus-wide paragraph-level dedup (the CCNet/RefinedWeb shape): a
    * paragraph is kept iff its (doc_id, pos) is the globally FIRST
    * occurrence of that paragraph (order: doc id, then position); later
    * copies are removed and each document is reassembled from its
    * surviving paragraphs.
    *
    * `paras` is an array<string> column deriving the paragraph list from
    * the row (e.g. split(text, "\n\n") for real prose; the caller picks
    * the granularity).
    *
    * Scale shape: explode → ONE hash-partitioned window over the 64-bit
    * paragraph fingerprint decides keep/drop (no self-join, no global
    * sort) → ONE groupBy(doc) reassembles. Both shuffles are inherent:
    * the output is the rewritten corpus, so paragraph text must cross
    * the wire exactly twice. Keep/drop keyed on fingerprint64(para), not
    * the paragraph bytes — hot paragraphs hash-partition evenly and the
    * shuffle key is 8 bytes (a 64-bit collision merges two distinct
    * paragraphs; at 10^12 paragraphs the expected collision count ~0.03).
    *
    * Returns (idCol, n_paras, n_kept, text_dedup) — text_dedup joins the
    * kept paragraphs in original order with `sep`.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, paras: Column,
                     sep: String = "\n"): DataFrame = {
    val exploded = docs.select(col(idCol), posexplode(paras).as(Seq("pos", "para")))
      .withColumn("pfp", text.fingerprint64(col("para")))
    val firstWin = Window.partitionBy("pfp").orderBy(col(idCol), col("pos"))
    exploded
      .withColumn("rn", row_number().over(firstWin))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("pos"), col("para"))))),
            x => x.getField("para")),
          sep).as("text_dedup"))
  }
}
