package graft.streaming

import graft.operators.GraphAnnIndex
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** STREAMING vector ingest into the stored graph-ANN index — the
  * serving-index sibling of [[EmbedStream]]: each micro-batch of
  * (vec_id, embedding) rows is [[GraphAnnIndex.insert]]ed (every new
  * vector beam-searches the stored graph for its neighborhood and
  * connects forward + reverse, O(batch · probe budget)), so queries
  * arriving a micro-batch later can already FIND the new vectors.
  * Cross-batch state lives entirely in the bucketed index tables — no
  * streaming state store; the query restarts from nothing and the
  * stored corpus never re-shuffles.
  *
  * Optional same-pass near-dup gate: with `dropCosine` set, each
  * batch vector's top-1 stored neighbor decides admission (its beam
  * search is the SAME search the insert needs — the gate reuses the
  * operator, not extra I/O shape), so the index only grows with
  * genuinely new content — the Dedup/EmbedStream ingest discipline
  * applied to the serving index itself.
  *
  * Exactly-once caveat (the stored-index family's shared one): a
  * replayed batch re-searches and re-appends its edge/vector rows —
  * duplicate edges cost a few rows until [[GraphAnnIndex
  * .compactIndex]] and cannot change search RESULTS (visited sets are
  * deduped per query; duplicate vector rows carry identical
  * payloads, and the search's top-k tie-breaks by id). */
object GraphStream {

  /** A foreachBatch function: (optionally gate on nearest stored
    * cosine) → insert → hand admitted rows to `out`. `batch` must
    * carry (vec_id, embedding) with ids fresh vs the index. */
  def ingestBatch(prefix: String, dropCosine: Option[Double] = None,
                  degree: Int = 10, beam: Int = 12, hops: Int = 4)
                 (out: (DataFrame, Long) => Unit): (Dataset[Row], Long) => Unit =
    IndexIngest.batchFn(s"graph-stream-$prefix", "vec_id", "embedding")(
      vecs => dropCosine.map(thr => GraphAnnIndex
        .search(vecs.sparkSession, vecs, prefix, k = 1, beam, hops)
        .filter(col("rank") === 1L && col("cosine") >= thr)
        .select(col("query_id").as("vec_id")).distinct()),
      admitted =>
        if (!admitted.isEmpty)
          GraphAnnIndex.insert(admitted.sparkSession, admitted, prefix,
            degree = degree, beam = beam, hops = hops))(out)
}
