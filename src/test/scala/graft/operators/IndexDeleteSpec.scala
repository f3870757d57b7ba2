package graft.operators

import graft.SparkSpec
import graft.sinks.SnapshotStore
import org.apache.spark.sql.functions._

/** r18 derived-index delete propagation: a corpus takedown
  * (deleteCommit / CDC delete delta) reaches every STORED index — the
  * deleted doc's signatures, sketches, and graph vertices stop being
  * probe-able immediately (O(batch) tombstone + admission anti-join),
  * and index compaction materializes the removal. Closes the GDPR gap
  * where a corpus delete left derived indexes serving the dead doc. */
class IndexDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft-idxdel").toString + "/t"

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("DedupIndex.delete: corpus CDC delete delta removes the doc from probes; compaction materializes") {
    val t = tables
    val corpus = t.documents.filter(col("doc_id") % 10 =!= 0)
    DedupIndex.writeIndex(corpus, "ddel")
    graft.CacheRegistry.drain()
    val batch = t.documents.filter(col("doc_id") % 10 === 0)
    val before = pairs(DedupIndex.probe(spark, batch, "ddel"))
    assert(before.nonEmpty, "vacuous without dup pairs")
    val victim = before.head._2

    // the takedown flows through the REAL table layer: corpus table,
    // deleteCommit, keyed CDC delta -> index delete
    val dir = freshTable()
    SnapshotStore.commit(corpus.select("doc_id"), dir,
      statsKey = Some("doc_id"))
    SnapshotStore.deleteCommit(spark, dir, Seq(victim).toDF("doc_id"),
      "doc_id")
    val delta = SnapshotStore.readChanges(spark, dir, 1, 2, Some("doc_id"))
      .filter(col("_change") === "delete").select("doc_id")
    DedupIndex.delete(spark, delta, "ddel")

    val after = pairs(DedupIndex.probe(spark, batch, "ddel"))
    assert(!after.exists(_._2 == victim), "deleted doc still probe-able")
    assert(after == before.filterNot(_._2 == victim),
      "other pairs must be unaffected")

    // compaction MATERIALIZES: tombstones cleared, probes unchanged
    DedupIndex.compactIndex(spark, "ddel")
    assert(!spark.catalog.tableExists("ddel_dead"))
    assert(pairs(DedupIndex.probe(spark, batch, "ddel")) == after)
    graft.CacheRegistry.drain()
  }

  test("EmbedIndex.delete: deleted vectors stop matching; compaction materializes") {
    val t = tables
    val corpus = t.embeddings.filter(col("vec_id") % 10 =!= 0)
    EmbedIndex.writeIndex(corpus, "edel")
    graft.CacheRegistry.drain()
    val batch = t.embeddings.filter(col("vec_id") % 10 === 0)
    val before = pairs(EmbedIndex.probe(spark, batch, "edel"))
    assert(before.nonEmpty, "vacuous without near-dup pairs")
    val victim = before.head._2

    EmbedIndex.delete(spark, Seq(victim).toDF("vec_id"), "edel")
    val after = pairs(EmbedIndex.probe(spark, batch, "edel"))
    assert(!after.exists(_._2 == victim))
    assert(after == before.filterNot(_._2 == victim))

    EmbedIndex.compactIndex(spark, "edel")
    assert(!spark.catalog.tableExists("edel_edead"))
    assert(pairs(EmbedIndex.probe(spark, batch, "edel")) == after)
    graft.CacheRegistry.drain()
  }

  test("GraphAnnIndex.delete: tombstoned vertices traversed but never returned; compaction drops them and heals entries") {
    val t = tables
    val corpus = t.embeddings.filter(col("vec_id") >= 100)
    GraphAnnIndex.writeIndex(corpus, "gdel")
    graft.CacheRegistry.drain()
    val queries = t.embeddings.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    def hits() = GraphAnnIndex.search(spark, queries, "gdel", k = 5)
      .collect().map(_.getLong(2)).toSet
    val before = hits()
    assert(before.nonEmpty)
    val victim = before.head
    // delete the victim AND one stored entry point: searches must
    // still seed and never return either
    val entry = spark.table("gdel_gentry").as[Long].head()
    GraphAnnIndex.delete(spark, Seq(victim, entry).toDF("vec_id"), "gdel")
    val after = hits()
    assert(!after.contains(victim) && !after.contains(entry))
    // every query still gets k results (dead nodes still act as
    // stepping stones)
    assert(GraphAnnIndex.search(spark, queries, "gdel", k = 5)
      .groupBy("query_id").count()
      .filter(col("count") < 5).isEmpty)

    GraphAnnIndex.compactIndex(spark, "gdel")
    assert(!spark.catalog.tableExists("gdel_gdead"))
    // physically gone: vectors, edges, entries
    assert(spark.table("gdel_gvectors")
      .filter(col("vec_id").isin(victim, entry)).isEmpty)
    assert(spark.table("gdel_gedges")
      .filter(col("src").isin(victim, entry) ||
        col("dst").isin(victim, entry)).isEmpty)
    assert(spark.table("gdel_gentry")
      .filter(col("vec_id").isin(victim, entry)).isEmpty)
    assert(spark.table("gdel_gentry").count() >= 1)
    val post = hits()
    assert(!post.contains(victim) && !post.contains(entry))
    graft.CacheRegistry.drain()
  }

  test("composition: CdcTail streams corpus deletes into the stored index") {
    val t = tables
    val corpus = t.documents.filter(col("doc_id") % 10 =!= 0)
    DedupIndex.writeIndex(corpus, "tdel")
    graft.CacheRegistry.drain()
    val batch = t.documents.filter(col("doc_id") % 10 === 0)
    val before = pairs(DedupIndex.probe(spark, batch, "tdel"))
    assert(before.nonEmpty)
    val victim = before.head._2

    val dir = freshTable()
    SnapshotStore.commit(corpus.select("doc_id"), dir,
      statsKey = Some("doc_id"))
    val ck = java.nio.file.Files
      .createTempDirectory("graft-idxdel-ck").toString
    // the tail wires every CDC delete delta straight into the index
    val q = graft.streaming.CdcTail
      .tail(spark, dir, "idxdel", Some("doc_id")) { (delta, _) =>
        val dels = delta.filter(col("_change") === "delete")
          .select("doc_id")
        if (!dels.isEmpty) DedupIndex.delete(spark, dels, "tdel")
      }
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable() // bootstrap delivery (all inserts, no-op)
      SnapshotStore.deleteCommit(spark, dir, Seq(victim).toDF("doc_id"),
        "doc_id")
      q.processAllAvailable()
      val after = pairs(DedupIndex.probe(spark, batch, "tdel"))
      assert(!after.exists(_._2 == victim),
        "the streamed takedown must reach the index")
      assert(after == before.filterNot(_._2 == victim))
    } finally q.stop()
    graft.CacheRegistry.drain()
  }
}
