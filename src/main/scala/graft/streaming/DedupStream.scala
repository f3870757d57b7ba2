package graft.streaming

import graft.operators.DedupIndex
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** STREAMING ingest on top of the stored MinHash index — the shape a
  * continuously-arriving corpus actually runs: each micro-batch probes
  * the index (near-dups against EVERYTHING accepted so far are
  * dropped), the accepted documents' signatures are appended so the
  * NEXT batch probes against them too, and the accepted rows flow to
  * the caller's sink. Cross-batch state lives entirely in the bucketed
  * index tables — no in-memory streaming state store, so the query
  * restarts from nothing and a 100 TB index never re-shuffles
  * (DedupIndex's probe/append contracts).
  *
  * Granularity: dedup is against the INDEX (prior batches + seed
  * corpus). Two near-dup docs arriving in the SAME micro-batch are
  * both accepted — dedup-within-batch composes upstream
  * (Dedup.nearDupSurvivors on the batch) when that matters; keeping
  * it out of the sink keeps the per-batch cost O(batch) with no
  * batch self-join.
  *
  * Exactly-once caveat: foreachBatch gives at-least-once on retries;
  * appendIndex is not idempotent (a replayed batch re-appends its
  * band rows). Duplicate index rows cost probe I/O but do NOT change
  * probe RESULTS (candidates are distinct'd, verify is a semi-
  * structured lookup), and compactIndex dedups nothing by design —
  * production would fold the batch id into the table layout for
  * idempotent replay; out of scope for this operator.
  */
object DedupStream {

  /** A foreachBatch function: probe → drop near-dups → append accepted
    * signatures → hand accepted rows to `out` (which must materialize
    * them before returning — the batch's tracked caches and the
    * checkpointed accepted frame are freed when it completes).
    * `batch` must carry (doc_id, text). */
  def dedupBatch(prefix: String, threshold: Double = 0.5)
                (out: (DataFrame, Long) => Unit): (Dataset[Row], Long) => Unit =
    IndexIngest.batchFn(s"dedup-stream-$prefix", "doc_id", "text")(
      docs => Some(DedupIndex.probe(docs.sparkSession, docs, prefix, threshold)
        .select(col("new_doc").as("doc_id")).distinct()),
      DedupIndex.appendIndex(_, prefix))(out)
}
