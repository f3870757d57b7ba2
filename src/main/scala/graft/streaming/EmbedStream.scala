package graft.streaming

import graft.operators.EmbedIndex
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** STREAMING ingest on top of the stored hyperplane-LSH index — the
  * embedding sibling of [[DedupStream]]: each micro-batch of
  * (vec_id, embedding) rows probes the stored index (cosine near-dups
  * of EVERYTHING accepted so far are dropped), accepted vectors'
  * sketches are appended so the NEXT batch probes against them too,
  * and the accepted rows flow to the caller's sink. Cross-batch state
  * lives entirely in the bucketed index tables — no streaming state
  * store, so the query restarts from nothing and the index never
  * re-shuffles.
  *
  * Same granularity and exactly-once caveats as DedupStream: dedup is
  * against the INDEX (same-batch near-dups both land — compose
  * in-batch dedup upstream when it matters), and a replayed batch
  * re-appends rows that cost probe I/O but cannot change probe
  * RESULTS (candidates are distinct'd, verify is exact). */
object EmbedStream {

  /** A foreachBatch function: probe → drop near-dups → append accepted
    * sketches → hand accepted rows to `out`. `batch` must carry
    * (vec_id, embedding). */
  def dedupBatch(prefix: String, thresholdPpm: Long = 300000L)
                (out: (DataFrame, Long) => Unit): (Dataset[Row], Long) => Unit =
    IndexIngest.batchFn(s"embed-stream-$prefix", "vec_id", "embedding")(
      vecs => Some(EmbedIndex.probe(vecs.sparkSession, vecs, prefix, thresholdPpm)
        .select(col("new_vec").as("vec_id")).distinct()),
      EmbedIndex.appendIndex(_, prefix))(out)
}
