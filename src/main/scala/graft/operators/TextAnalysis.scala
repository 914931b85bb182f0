package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines, expressed as pure
  * Catalyst columns (codegen'd, no UDFs) so they both scale and stay
  * oracle-checkable in ANSI SQL. Mirrors the reference's per-exposure QC
  * metrics discipline (reference: mvt/frameqa.py:75 finite-fraction,
  * mvt/run_mvt_espre.py:171-176 exposures_qc.csv): cheap per-row quality
  * scalars emitted as first-class columns.
  */
object TextAnalysis {
  /** Whitespace token count (empty string → 0). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Character count. */
  def charCount(text: Column): Column = length(text)

  /** GPT-2-family pretokenizer pattern, lookahead-free so it runs
    * identically under java.util.regex (Spark codegen) and RE2 (DuckDB
    * oracle): contractions, space-prefixed letter/digit runs,
    * space-prefixed punctuation runs, whitespace runs. The BPE merge
    * table itself is model-specific; pretokenizer match count is the
    * standard cheap token-budget proxy a training pipeline filters on.
    */
  val BpePretokenPattern: String =
    """'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""

  /** BPE-ish token count: number of pretokenizer matches (empty → 0). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePretokenPattern), lit(0)))

  /** Ratio of punctuation chars (.,;:!?) to total chars; 0 for empty. */
  def punctRatio(text: Column): Column = {
    val stripped = regexp_replace(text, "[.,;:!?]", "")
    when(length(text) === 0, lit(0.0))
      .otherwise((length(text) - length(stripped)).cast("double") / length(text))
  }

  /** Ratio of words that are English stopwords (fixed 16-word list,
    * shared with the single-pass gopher_stats kernel).
    */
  val stopwords: Seq[String] = graft.core.TextStats.stopwords

  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val stops = filter(toks, t => t.isin(stopwords.map(lit(_)): _*))
    when(size(toks) === 0 || (size(toks) === 1 && length(trim(text)) === 0), lit(0.0))
      .otherwise(size(stops).cast("double") / size(toks))
  }

  /** Mean word length (0 for empty text). */
  def meanWordLen(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    when(length(trim(text)) === 0, lit(0.0))
      .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double")
        / size(toks))
  }

  /** Language ID over a fixed marker-word table (n-gram-free heuristic:
    * count language-exclusive stopwords; ties → 'und'). Pure columns.
    */
  private val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "with", "from", "who", "about"),
    "de" -> Seq("die", "und", "mit", "das", "durch", "viele"),
    "fr" -> Seq("la", "les", "avec", "dans", "une", "leurs"),
    "es" -> Seq("el", "los", "con", "por", "una", "sus"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = split(lower(trim(text)), "\\s+")
    langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers.map(lit(_)): _*)))
    }
  }

  /** Predicted language: arg-max of marker counts, 'und' when all zero. */
  /** C4's banned-word document filter (Raffel et al. 2020 §2.2 "List of
    * Dirty, Naughty …" rule, generalized to any word list): true when
    * the text contains NONE of the listed words as whole words,
    * case-insensitively. One codegen'd regex predicate — a pure filter
    * that pushes toward the scan. Case-insensitivity is spelled as
    * per-letter character classes ([sS][lL]…), NOT `(?i)`: java.regex's
    * `(?i)` folds ASCII only while RE2's folds Unicode (ſ→s), so the
    * flag would silently diverge between engine and oracle on non-ASCII
    * text; explicit classes evaluate identically everywhere.
    */
  def containsNoBlockedWord(text: Column, words: Seq[String]): Column = {
    require(words.nonEmpty && words.forall(_.matches("[A-Za-z0-9']+")),
      "blocked words must be plain word tokens (the pattern embeds them)")
    def cased(w: String): String = w.map { c =>
      if (c.isLetter)
        s"[${c.toLower}${c.toUpper}]"
      else c.toString
    }.mkString
    val pat = "(^|[^a-zA-Z0-9'])(" + words.map(cased).mkString("|") +
      ")($|[^a-zA-Z0-9'])"
    !(text rlike pat)
  }

  def langId(text: Column): Column = {
    val scores = langScores(text)
    // arg-max via when() chain; first (alphabetical) language wins ties
    val maxScore = greatest(scores.map(_._2): _*)
    val pick = scores.foldRight(lit("und")) { case ((lang, c), acc) =>
      when(c === maxScore && maxScore > 0, lit(lang)).otherwise(acc)
    }
    pick
  }

  /** 64-bit document fingerprint: polynomial rolling hash over UTF-8 code
    * units (basis 1000003, like CPython's string hash family). Implemented
    * as a codegen'd static call.
    */
  def fingerprint(text: Column): Column =
    graft.functions.text.fingerprint64(text)

  /** TF-IDF with smoothed IDF (ln((N+1)/(df+1)) + 1): per document the
    * top-scoring term (ties → lexicographically smallest). Every stage
    * is a key-partitioned aggregation or broadcast-ready join — term
    * counts pre-reduce map-side; the df table is |vocabulary|-sized.
    */
  def tfidfTop(df: org.apache.spark.sql.DataFrame, textCol: String,
               idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tc"))
      .withColumn("nw", sum(col("tc")).over(Window.partitionBy("id")))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.select(col(idCol)).distinct().count()
    val scored = tf.join(docFreq, "term")
      .withColumn("tfidf",
        (col("tc").cast("double") / col("nw")) *
          (log((lit(nDocs.toDouble) + 1.0) / (col("df").cast("double") + 1.0)) + 1.0))
    val w = Window.partitionBy("id").orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id").as(idCol), col("term").as("top_term"),
        round(col("tfidf"), 6).as("tfidf"))
  }

  /** PII patterns (C4-family scrubbing step). Lookaround-free so
    * java.util.regex (Spark) and RE2 (DuckDB oracle) match identically.
    */
  val EmailPattern: String = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val PhonePattern: String = """\+?\d[\d\s().-]{7,}\d"""

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPattern), lit(0)))
  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PhonePattern), lit(0)))

  /** Redact emails then phones (emails first: their digits must not be
    * re-matched as phone fragments — the replacement token has none).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Gopher/C4-family repetition quality metrics (Rae et al. 2021 §A1.1,
    * Raffel et al. 2020): duplicate-bigram fraction and most-common
    * token/bigram share — the standard "remove boilerplate/spam by
    * repetition" filters of webtext training pipelines. One codegen'd
    * pass per document (repetition_stats expression); ratios rounded to
    * 6 so the DuckDB oracle's independent list-based recomputation
    * matches exactly.
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, textCol: String,
                      idCol: String): org.apache.spark.sql.DataFrame = {
    val r = graft.functions.text.repetition_stats(col(textCol))
    df.select(col(idCol),
        r.getItem(0).cast("long").as("n_words"),
        round(r.getItem(1), 6).as("distinct_word_frac"),
        round(r.getItem(2), 6).as("dup_2gram_frac"),
        round(r.getItem(3), 6).as("top_word_frac"),
        round(r.getItem(4), 6).as("top_2gram_frac"))
  }

  /** C4-style text normalization: strip control characters (keep \t\n
    * only long enough to fold them), collapse every whitespace run to a
    * single space, trim. Pure regexp columns, lookahead-free so the SQL
    * oracle applies the identical passes; the canonical preprocessing
    * before fingerprinting/dedup keys so byte-level noise (CRLF, tabs,
    * double spaces) can't split a duplicate family.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1f\\x7f]", " "), "\\s+", " "))

  /** Gopher-style document quality gate (Rae et al. 2021 §A1.1): the
    * published word-count band, mean-word-length band, minimum-stopword
    * and repetition-cap rules, composed into per-flag booleans and one
    * `keep` verdict. The flags that need line structure (bullet/ellipsis
    * ratios) don't apply to this corpus's single-line documents and are
    * omitted — the thresholds kept are the published defaults.
    *
    * One codegen'd projection per document: ALL five metrics come from the
    * single-pass gopher_stats expression (HOF lambdas would split codegen
    * and rescan the token array per metric); nothing shuffles. Threshold
    * comparisons are made on round(…,6) values so an external SQL
    * recomputation (the oracle) lands on identical booleans.
    */
  def gopherFilters(df: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String,
                    minWords: Int = 50, maxWords: Int = 100000,
                    minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                    minStopwords: Int = 2, maxTopWordFrac: Double = 0.2,
                    maxDup2gramFrac: Double = 0.2,
                    preserveCols: Boolean = false): org.apache.spark.sql.DataFrame = {
    val r = graft.functions.text.gopher_stats(col(textCol))
    // preserveCols keeps every input column alongside the stats — the
    // gate is a pure projection, so downstream consumers (Curate,
    // streaming admission) must not pay a join to recover their payload
    // columns; the default stats-only shape is the q58 oracle contract
    val lead: Seq[org.apache.spark.sql.Column] =
      if (preserveCols) df.columns.toSeq.map(col) else Seq(col(idCol))
    df.select((lead ++ Seq(
        r.getItem(0).cast("long").as("n_words"),
        round(r.getItem(1), 6).as("mean_wl"),
        r.getItem(2).cast("long").as("n_stop"),
        round(r.getItem(3), 6).as("top_word_frac"),
        round(r.getItem(4), 6).as("dup_2gram_frac"))): _*)
      .withColumn("flag_n_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("flag_word_len",
        col("mean_wl") >= minMeanWordLen && col("mean_wl") <= maxMeanWordLen)
      .withColumn("flag_stopwords", col("n_stop") >= minStopwords)
      .withColumn("flag_repetition",
        col("top_word_frac") <= maxTopWordFrac &&
          col("dup_2gram_frac") <= maxDup2gramFrac)
      .withColumn("keep",
        col("flag_n_words") && col("flag_word_len") &&
          col("flag_stopwords") && col("flag_repetition"))
  }
}
