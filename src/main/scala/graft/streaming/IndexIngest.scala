package graft.streaming

import graft.CacheRegistry
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** The foreachBatch body the stored-index streams ([[DedupStream]],
  * [[EmbedStream]], [[GraphStream]]) share. */
private[streaming] object IndexIngest {

  /** Under the [[CacheRegistry]] key `key`: select (`id`, `payload`)
    * from the batch, drop the rows `dups` names (by `id`, when it names
    * any), freeze what is left, `append` it to the index, hand it to
    * `out` (which must materialize it before returning), then free the
    * batch's tracked caches and its checkpoint. */
  def batchFn(key: String, id: String, payload: String)
             (dups: DataFrame => Option[DataFrame], append: DataFrame => Unit)
             (out: (DataFrame, Long) => Unit): (Dataset[Row], Long) => Unit =
    (batch, batchId) => CacheRegistry.withKey(key) {
      var accepted: DataFrame = null
      try {
        val rows = batch.select(col(id), col(payload))
        // accepted's PLAN references the index tables (through the
        // probe), and the append below mutates them — Spark's
        // recacheByPath would then RECOMPUTE a persist()ed accepted
        // against the post-append index, where every accepted row
        // matches itself and the frame silently empties. localCheckpoint
        // materializes the rows and CUTS the lineage, freezing accepted
        // against the index mutation (and keeping the append job from
        // reading the very table it writes). Eager by default.
        accepted = dups(rows).fold(rows)(d => rows.join(d, Seq(id), "left_anti"))
          .localCheckpoint()
        append(accepted)
        out(accepted, batchId)
      } finally {
        CacheRegistry.drain(key)
        // checkpoint blocks live at the RDD layer, invisible to the
        // registry — free exactly the one this batch created. (A
        // global persistent-RDD set diff would also sweep caches other
        // queries on the shared context created DURING the batch — the
        // ADVICE r14 cross-job hazard.)
        if (accepted != null)
          graft.operators.Components.freeCheckpoint(accepted)
      }
    }
}
