package graft.plans

import org.apache.spark.sql.DataFrame

/** Exactly-once streaming ingestion into the Lineage snapshot layer: a
  * `foreachBatch` sink that commits each micro-batch as its own snapshot
  * whose manifest note records (streamId, batchId). Structured
  * Streaming's guarantee is at-least-once delivery to foreachBatch —
  * after a crash the last in-flight batch is REPLAYED — so the sink
  * consults the committed batch ids first and re-deliveries become
  * no-ops: the same idempotent-admission discipline as batch resume, at
  * micro-batch granularity. Combined with the manifest's atomic-rename
  * commit point, a crash leaves a batch fully committed or fully absent.
  *
  * `streamId` must be tied to the CHECKPOINT LOCATION (pass the
  * checkpoint path itself), because batch ids are only monotonic within
  * one checkpoint: a new checkpoint restarts numbering at 0, and under a
  * reused id its genuinely-new batch 0 would be skipped as a replay.
  * This is the standard idempotent-sink contract (Delta's txnAppId has
  * the same property); deleting a checkpoint directory while keeping its
  * path requires a fresh streamId.
  *
  * Operational constraint with compaction: `compactSnapshots` +
  * `expireSnapshots` eventually delete replaced manifests and with them
  * the batch notes. Replaced-but-unexpired manifests still count (this
  * reader scans ALL committed manifests), so the only unsafe window is
  * expiring snapshots while the stream is mid-crash BEFORE its
  * checkpoint recorded the tail batch — run maintenance when the stream
  * is stopped cleanly, as the `--compact` mode assumes.
  *
  * The frame handed to the sink must satisfy the Lineage commit contract
  * (`tile_id`, `byte_len`).
  */
object StreamCommit {
  /** Batch ids already committed under `root` for `streamId`, read from
    * every manifest still on disk (including replaced-but-unexpired
    * ones). Throws, naming the file, on an unreadable manifest: it may
    * record one of this stream's batches, which must not be re-admitted.
    */
  def committedBatchIds(root: String, streamId: String): Set[Long] =
    Lineage.manifests(root).values.flatMap(_.get.streamBatch)
      .collect { case (`streamId`, batch) => batch }.toSet

  /** One-shot commit (reads the manifest set on every call — fine for
    * tests and occasional use; a long-lived stream should hold a
    * [[cachedCommitter]]). Returns None when the batch id was already
    * committed (a re-delivery). `cap` < 0 records no tileCap (legacy
    * callers); a recorded cap lets serving compaction re-encode at the
    * SAME tileCap the stream truncated its per-batch buffers with — any
    * other cap breaks byte parity silently.
    */
  def commitBatch(root: String, streamId: String, cap: Int = -1)
                 (df: DataFrame, batchId: Long): Option[Lineage.Snapshot] =
    cachedCommitter(root, streamId, cap)(df, batchId)

  /** Stateful committer for a long-lived stream: the committed-id set is
    * read ONCE at first use and maintained in memory afterwards, so the
    * per-batch cost is O(1) instead of re-scanning every manifest per
    * micro-batch (quadratic over a stream's lifetime). foreachBatch
    * invocations are serialized per query, so the plain var is safe.
    */
  def cachedCommitter(root: String, streamId: String, cap: Int = -1)
      : (DataFrame, Long) => Option[Lineage.Snapshot] = {
    var known: Set[Long] = null
    (df: DataFrame, batchId: Long) => {
      if (known == null) known = committedBatchIds(root, streamId)
      if (known.contains(batchId)) None
      else {
        val snap = Lineage.commit(df, root,
          Lineage.Manifest.streamNote(streamId, batchId, cap))
        known += batchId
        Some(snap)
      }
    }
  }

  /** void-returning adapter with the exact foreachBatch signature. */
  def handler(root: String, streamId: String)(df: DataFrame, batchId: Long): Unit = {
    commitBatch(root, streamId)(df, batchId); ()
  }
}
