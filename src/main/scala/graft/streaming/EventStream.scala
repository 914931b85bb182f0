package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface. The reference is strictly batch
  * (SURVEY.md §2.11), so streaming here is the forward-looking ingest
  * path: the SAME transformations run in batch (oracle-checked in
  * SparkEntry q31) and over a stream — one definition, two run modes.
  */
object EventStream {
  /** Tumbling-window counts with a watermark; works on batch or stream. */
  def windowedCounts(events: DataFrame, windowLen: String = "10 minutes",
                     watermark: String = "30 minutes"): DataFrame = {
    val src = if (events.isStreaming)
      events.withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    else events.withColumn("ts", col("ts").cast("timestamp"))
    src.groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** The flagship geo pipeline over a PAGE stream: geoparse (codegen'd
    * expression — works unchanged on streaming plans) → tile assign →
    * watermarked tumbling-window counts per tile. One definition, two run
    * modes: the batch run is the q11-family tile count bucketed by time;
    * the streaming run is the live-ingest variant (TilerStreamSpec asserts
    * batch/stream parity through a MemoryStream).
    */
  def tileCounts(pages: DataFrame, zoom: Int = 8,
                 windowLen: String = "1 hour",
                 watermark: String = "2 hours"): DataFrame = {
    import graft.functions.{geo, geoparse}
    val withTs =
      if (pages.isStreaming) pages.withWatermark("warc_ts", watermark)
      else pages
    withTs
      .select(col("warc_ts"),
        explode(geoparse.geoparse_mentions(col("text"))).as("m"))
      .select(col("warc_ts"),
        geo.tile_id(col("m.lon"), col("m.lat"), lit(zoom)).as("tile_id"))
      .groupBy(window(col("warc_ts"), windowLen).as("w"), col("tile_id"))
      .agg(count(lit(1)).as("n_mentions"))
      .select(col("w.start").as("win_start"), col("tile_id"), col("n_mentions"))
  }

  /** Streaming exact dedup: fingerprint the text (codegen'd 64-bit
    * rolling hash — same kernel as batch q23) and keep the first
    * occurrence per fingerprint. On a stream this uses
    * `dropDuplicatesWithinWatermark`, whose per-fingerprint state IS
    * evicted once the watermark passes it (plain `dropDuplicates("fp")`
    * would never evict because the event-time column is not in the
    * subset — unbounded state at 100 TB). The trade is the documented
    * Spark semantic: duplicates are only suppressed within the watermark
    * delay; a re-crawl of the same page a week later is admitted again,
    * which is what the standing-fp-table batch operator (q64) is for.
    * On a batch frame the same definition degrades to a plain
    * dropDuplicates — one definition, two run modes, like windowedCounts.
    */
  def dedupStream(pages: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val fp = pages.withColumn("fp",
      graft.functions.text.fingerprint64(col("text")))
    val deduped =
      if (pages.isStreaming)
        fp.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark("fp")
      else fp.dropDuplicates("fp")
    deduped.select(col("url"), col("warc_ts"), col("fp"))
  }

  /** Streaming crawl admission: from a live page stream, admit only
    * documents that are (a) NOVEL against the standing corpus
    * fingerprint table — a stream-static LEFT ANTI join, the streaming
    * twin of the batch `Dedup.incrementalDedup` (q64) — and (b) pass
    * the Gopher quality gate (pure codegen'd projection, stream-safe).
    * Within-batch duplicates are additionally winnowed by the
    * watermark-bounded dedup state.
    *
    * Scale shape: the static side ships fingerprints only (8 bytes per
    * corpus doc); the gate adds no state; the only streaming state is
    * the watermark-bounded fp set. One definition runs on batch frames
    * too (isStreaming branches only the dedup-state flavor).
    */
  def admitNovel(pages: DataFrame, corpusFps: DataFrame,
                 fpCol: String = "text_fp", minWords: Int = 20,
                 watermark: String = "1 hour"): DataFrame = {
    // dedup on the FULL row (dropDuplicates keeps whole first rows), so
    // no join back to the stream is needed — a stream-stream self-join
    // would demand two watermarks and a time constraint for nothing.
    // Batch frames reuse the shared min-id keeper (one definition of
    // the policy); a stream keeps the first ARRIVAL instead — either
    // way exactly one member per fp survives.
    val deduped =
      if (pages.isStreaming)
        pages.withColumn("fp",
            graft.functions.text.fingerprint64(col("text")))
          .withWatermark("warc_ts", watermark)
          .dropDuplicatesWithinWatermark("fp")
      else graft.operators.Dedup.keepFirstByContent(
        pages, "text", "url", keepFpAs = Some("fp"))
    val novel = deduped.join(
      corpusFps.select(col(fpCol).cast("long").as("fp")),
      Seq("fp"), "left_anti")
    graft.operators.TextAnalysis
      .gopherFilters(novel, "text", "url", minWords = minWords,
        preserveCols = true)
      .filter(col("keep"))
      .select(col("url"), col("fp"), col("n_words"))
  }

  final case class HotCellAlert(cell: Long, n_at_cross: Long)

  /** Stateful hot-cell ALERTING over a live page stream: per hex cell
    * (geoparse → codegen'd cell encode), keep a cumulative mention
    * count and emit ONE alert row the first time a cell's count reaches
    * `minCount` — the streaming twin of the batch hotspot queries (q62
    * et al.), but with fire-once semantics a windowed aggregation
    * cannot express (flatMapGroupsWithState in Append mode: zero rows
    * on most updates, one row at the crossing, never again).
    *
    * Scale shape: state is 16 bytes per DISTINCT live cell (count +
    * fired flag) — bounded by geography, not traffic; the geoparse and
    * cell encode are stateless codegen'd projections; the only shuffle
    * is the cell-keyed state exchange every micro-batch. Works on batch
    * frames too (same definition, one pass = one "batch"), which is
    * what the parity spec pins against the streamed run.
    */
  def hotCellAlerts(pages: DataFrame, res: Int, minCount: Long)
      : Dataset[HotCellAlert] = {
    import graft.functions.{geo, geoparse}
    import pages.sparkSession.implicits._
    val cells = pages
      .select(explode(geoparse.geoparse_mentions(col("text"))).as("m"))
      .select(geo.hex_cell(col("m.lon"), col("m.lat"), lit(res)).as("cell"))
      .as[Long]
    cells.groupByKey(identity)
      .flatMapGroupsWithState[(Long, Boolean), HotCellAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (cell: Long, rows: Iterator[Long], state: GroupState[(Long, Boolean)]) =>
          val (n0, fired) = state.getOption.getOrElse((0L, false))
          val n = n0 + rows.size
          val crosses = !fired && n >= minCount
          state.update((n, fired || crosses))
          if (crosses) Iterator.single(HotCellAlert(cell, n))
          else Iterator.empty
      }
  }

  final case class SessionUpdate(user_id: Long, n_events: Long,
                                 first_us: Long, last_us: Long)

  /** Stateful sessionization via mapGroupsWithState: per user, the
    * current session, which restarts at the first event more than `gapUs`
    * after the previous one. Gaps are read from event times only; there
    * is no state timeout, so a session that goes quiet is not emitted
    * until its user's next event arrives.
    */
  def sessionize(events: Dataset[(Long, Long)], gapUs: Long)
      : Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), SessionUpdate](
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long, Long)]) =>
          val times = rows.map(_._2).toArray.sorted
          val (n0, first0, last0) = state.getOption.getOrElse((0L, Long.MaxValue, Long.MinValue))
          var n = n0; var first = first0; var last = last0
          times.foreach { t =>
            if (last != Long.MinValue && t - last > gapUs) { n = 0; first = Long.MaxValue }
            n += 1
            if (t < first) first = t
            if (t > last) last = t
          }
          state.update((n, first, last))
          SessionUpdate(user, n, first, last)
      }
  }
}
