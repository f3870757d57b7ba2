package graft.operators

import graft.CacheRegistry.Tracked
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STORED-index incremental near-dup dedup — the deployment shape
  * [[Dedup.minhashIncremental]]'s scaladoc promises: the corpus's
  * MinHash band-key index and shingle sets are persisted ONCE as
  * bucketed tables, and each day's batch probes them from a fresh
  * session without recomputing anything corpus-sized.
  *
  * Two tables make up the index:
  *  - `<prefix>_bands` (dup_of, bk): one row per (doc, band key),
  *    bucketed AND sorted by `bk` — the probe's candidate join reads
  *    the buckets in place, so only the batch's (skinny) band keys
  *    shuffle. At 100 TB the index side is the corpus × 8 band keys;
  *    never re-shuffling it is the entire point of storing it.
  *  - `<prefix>_shingles` (dup_of, sh): the exact-Jaccard verify side,
  *    bucketed by `dup_of` so the candidate-pair join co-locates with
  *    the stored buckets.
  *
  * The band key is flattened to one string `band:slots` (band int,
  * ':' separator, comma-joined slot values) because bucketBy needs a
  * scalar column; the mapping from [[Dedup.bandKeysStr]]'s struct is
  * injective (the band is the only field before the first ':'), so
  * string equality ⟺ struct equality and the probe finds exactly the
  * pairs the self-contained operator finds — StoredIndexSpec asserts
  * byte-exact parity with `q_dedup_incremental`.
  *
  * Incremental cost is O(batch): batch shingles + signatures are the
  * only fresh work, both sides of every join against the index read
  * bucketed data without an index-side Exchange (asserted in the
  * spec's plan check).
  */
object DedupIndex {

  private def flatBk(bk: org.apache.spark.sql.Column) =
    concat_ws(":", bk.getField("band").cast("string"), bk.getField("key"))

  /** The two index frames for a document set: (bands, shingles) —
    * shared by the initial build, the daily append and the probe's
    * batch side. */
  private def indexFrames(docs: DataFrame, shingleN: Int, numPerm: Int,
                          bands: Int): (DataFrame, DataFrame) = {
    val sh = Dedup.shingled(docs, shingleN).persistTracked()
    val banded = Dedup.minhashSignatures(sh, numPerm, Dedup.md5Hash31)
      .select(col("doc_id").as("dup_of"),
        explode(Dedup.bandKeysStr(col("sig"), bands, numPerm / bands)).as("bk"))
      .select(col("dup_of"), flatBk(col("bk")).as("bk"))
    (banded, sh.select(col("doc_id").as("dup_of"), col("sh")))
  }

  private def index(prefix: String) = StoredIndex.Keyed(s"${prefix}_bands",
    s"${prefix}_shingles", StoredIndex.Tombstones(s"${prefix}_dead", "dup_of"))

  /** Build and persist the corpus index. One pass over `corpus`
    * computes shingles and signatures; the two bucketed writes are the
    * only shuffles (each a hash repartition on its bucket key). */
  def writeIndex(corpus: DataFrame, prefix: String, buckets: Int = 8,
                 shingleN: Int = 3, numPerm: Int = 32, bands: Int = 8): Unit =
    index(prefix).store(indexFrames(corpus, shingleN, numPerm, bands),
      buckets, append = false)

  /** Append a day's accepted batch into the stored index — the
    * deployment loop: probe today's batch (dedup decisions), then fold
    * the kept documents in so TOMORROW's batch probes against them too
    * (the reference analog: 2024's run arriving on top of the pushed
    * 2023 warehouse, 2024.R:1-5). Cost is O(batch): only the batch's
    * signatures are computed, and each bucketed append shuffles the
    * batch's skinny rows once — the stored corpus index is never read,
    * re-shuffled, or rewritten. Run [[compactIndex]] at whatever
    * cadence the file count warrants. */
  def appendIndex(batch: DataFrame, prefix: String, buckets: Int = 8,
                  shingleN: Int = 3, numPerm: Int = 32, bands: Int = 8): Unit =
    index(prefix).store(indexFrames(batch, shingleN, numPerm, bands),
      buckets, append = true)

  /** Propagate a corpus DELETE into the stored index (r18): the keys —
    * e.g. a [[graft.sinks.SnapshotStore]] CDC delta's `delete` rows —
    * land in a tiny `<prefix>_dead` tombstone table; every [[probe]]
    * drops them at admission, so a deleted document is never returned
    * as a dup_of once the delete lands; [[compactIndex]] materializes
    * them. (Deleting in place is not
    * O(batch) here by construction: a doc's band keys hash across ALL
    * `bk` buckets, so an eager rewrite would touch every bucket.)
    * `keys` is any single-column frame of doc ids. */
  def delete(spark: SparkSession, keys: DataFrame, prefix: String): Unit =
    index(prefix).dead.add(spark, keys)

  /** Compact an appended index back to ONE file per bucket, dropping
    * tombstoned documents. A generic parquet-dir compaction
    * (TableWriter.compact) would corrupt a bucketed table — the
    * file→bucket mapping is encoded in the file NAMES the bucketed
    * writer produces — so this is a bucketed rewrite
    * (TableWriter.rewriteBucketed). */
  def compactIndex(spark: SparkSession, prefix: String,
                   buckets: Int = 8): Unit =
    index(prefix).compact(spark, buckets)

  /** Probe a batch of documents against a stored index. Returns
    * (new_doc, dup_of, jaccard) — the same contract as
    * [[Dedup.minhashIncremental]], with the corpus side read from the
    * bucketed tables instead of recomputed. */
  def probe(spark: SparkSession, batch: DataFrame, prefix: String,
            threshold: Double = 0.5, shingleN: Int = 3,
            numPerm: Int = 32, bands: Int = 8): DataFrame = {
    val (banded, shingles) = indexFrames(batch, shingleN, numPerm, bands)
    index(prefix).probe(spark, "new_doc",
      banded.select(col("dup_of").as("new_doc"), col("bk")),
      shingles.select(col("dup_of").as("new_doc"), col("sh").as("sh_a")),
      _.select(col("dup_of"), col("sh").as("sh_b")),
      "jaccard", _.withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))),
      threshold)
  }
}
