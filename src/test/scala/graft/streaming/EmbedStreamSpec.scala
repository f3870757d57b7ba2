package graft.streaming

import graft.SparkSpec
import graft.operators.EmbedIndex

/** Streaming ingest over the stored embedding index — the DedupStream
  * mirror for the embedding-cosine family. */
class EmbedStreamSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch embed ingest: near-dups of indexed AND prior-batch vectors drop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // orthogonal unit basis vectors: distinct pairs have cos 0, copies 1
    def basis(i: Int): Seq[Float] =
      Seq.tabulate(64)(d => if (d == i) 1f else 0f)
    EmbedIndex.writeIndex(
      Seq((1L, basis(0)), (2L, basis(1))).toDF("vec_id", "embedding"),
      "estridx")
    graft.CacheRegistry.drain()

    val acceptedIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(EmbedStream.dedupBatch("estridx") {
        (accepted, _) =>
          acceptedIds ++= accepted.select("vec_id")
            .as[Long](spark.implicits.newLongEncoder).collect()
      })
      .start()
    try {
      // batch 1: vec 10 copies seed vec 1 (dropped via the index),
      // vec 11 is fresh (accepted and appended)
      input.addData((10L, basis(0)), (11L, basis(2)))
      q.processAllAvailable()
      assert(acceptedIds.toSet == Set(11L), s"batch 1 accepted $acceptedIds")
      // batch 2: vec 20 copies vec 11 — dropped only if batch 1's
      // append reached the index; vec 21 is fresh
      input.addData((20L, basis(2)), (21L, basis(3)))
      q.processAllAvailable()
      assert(acceptedIds.toSet == Set(11L, 21L), s"batch 2 accepted $acceptedIds")
    } finally q.stop()
    // the index now holds exactly seed + accepted vectors
    val indexed = spark.table("estridx_evectors").select("dup_of").distinct()
      .as[Long].collect().toSet
    assert(indexed == Set(1L, 2L, 11L, 21L), s"index holds $indexed")
    graft.CacheRegistry.drain()
  }
}
