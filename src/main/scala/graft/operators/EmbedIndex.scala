package graft.operators

import graft.CacheRegistry.Tracked
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STORED-index incremental EMBEDDING near-dup dedup — the
  * hyperplane-LSH sibling of [[DedupIndex]] (which stores MinHash
  * band keys): the corpus's sign-bit sketch buckets and micro-snapped
  * vectors are persisted ONCE as bucketed tables, and each batch of
  * new vectors probes them from a fresh session without recomputing
  * anything corpus-sized.
  *
  * Two tables make up the index:
  *  - `<prefix>_ebuckets` (dup_of, bk): one row per (vector, LSH
  *    table) — bk is the flattened `table:bucket` key, bucketed AND
  *    sorted by `bk`, so a probe's candidate join reads the stored
  *    buckets in place and only the batch's skinny keys shuffle.
  *  - `<prefix>_evectors` (dup_of, m, aa): the exact-cosine verify
  *    side (micro-int vector + its self-dot), bucketed by `dup_of` so
  *    the candidate-pair join co-locates with the stored buckets.
  *
  * Hyperplanes are [[Dedup.md5Planes]] — pure functions of
  * (table, plane, dim), so a probe in ANY later session rebuilds the
  * identical planes from constants; nothing about the index geometry
  * lives in memory. Multi-probe (each batch vector also probes every
  * 1-bit flip of its own bucket) buys back the recall the fixed
  * sketch width costs — the index side never expands, only the
  * batch's probe keys do (bits+1 rows per vector per table).
  *
  * Incremental cost is O(batch): batch sketches are the only fresh
  * work, and both joins against the index read bucketed data without
  * an index-side Exchange (EmbedIndexSpec asserts the plan). The
  * verify is the same exact integer cosine-ppm as the oracled
  * [[Dedup.embedPairsMd5]], so probe decisions are engine-exact even
  * though the index is a probabilistic structure. */
object EmbedIndex {

  /** (dup_of, bk) sketch rows + (dup_of, m, aa) vector rows for a
    * vector set — shared by build, append, and the probe's batch
    * side. */
  private def indexFrames(vecs: DataFrame, nTables: Int, bits: Int)
      : (DataFrame, DataFrame) = {
    val planes = Dedup.md5Planes(nTables, bits, 64)
    val base = Dedup.spread(vecs.select(col("vec_id"), col("embedding")))
      .select(col("vec_id").as("dup_of"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000000d + 0.5d).cast("double")).as("m"))
      .withColumn("aa", graft.functions.VectorFunctions
        .dotProduct(col("m"), col("m")).cast("long"))
      .persistTracked()
    val buckets = base.select(col("dup_of"),
        posexplode(graft.functions.VectorFunctions
          .hyperplaneSketch(col("m"), planes)))
      .select(col("dup_of"),
        concat_ws(":", col("pos").cast("string"),
          col("col").cast("string")).as("bk"))
    (buckets, base.select(col("dup_of"), col("m"), col("aa")))
  }

  private def index(prefix: String) = StoredIndex.Keyed(s"${prefix}_ebuckets",
    s"${prefix}_evectors", StoredIndex.Tombstones(s"${prefix}_edead", "dup_of"))

  /** Build and persist the corpus index: one pass computes sketches,
    * the two bucketed writes are the only shuffles. */
  def writeIndex(corpus: DataFrame, prefix: String, buckets: Int = 8,
                 nTables: Int = 8, bits: Int = 6): Unit =
    index(prefix).store(indexFrames(corpus, nTables, bits), buckets, append = false)

  /** Fold an accepted batch into the stored index (tomorrow's batches
    * probe against it). O(batch); the stored corpus side is never
    * read, re-shuffled, or rewritten. */
  def appendIndex(batch: DataFrame, prefix: String, buckets: Int = 8,
                  nTables: Int = 8, bits: Int = 6): Unit =
    index(prefix).store(indexFrames(batch, nTables, bits), buckets, append = true)

  /** Propagate a corpus delete into the stored embedding index:
    * O(batch) tombstone append; [[probe]] drops the vectors at
    * admission; [[compactIndex]] materializes. A vector's LSH keys
    * hash across all `bk` buckets, so eager removal would touch every
    * bucket. */
  def delete(spark: SparkSession, keys: DataFrame, prefix: String): Unit =
    index(prefix).dead.add(spark, keys)

  /** Compact appended index tables back to one file per bucket; dead
    * vectors drop out of the rewrite and the tombstones are cleared. */
  def compactIndex(spark: SparkSession, prefix: String,
                   buckets: Int = 8): Unit =
    index(prefix).compact(spark, buckets)

  /** Probe a batch of vectors against a stored index. Returns
    * (new_vec, dup_of, cos_ppm) for every indexed vector within the
    * cosine threshold of a batch vector. `multiProbe=false` restricts
    * candidates to exact bucket collisions — the
    * [[Dedup.embedPairsMd5]] candidate rule, which is what the parity
    * spec pins the probe against; the default probes 1-bit flips for
    * recall. */
  def probe(spark: SparkSession, batch: DataFrame, prefix: String,
            thresholdPpm: Long = 300000L, nTables: Int = 8, bits: Int = 6,
            multiProbe: Boolean = true): DataFrame = {
    val (bk, vec) = indexFrames(batch, nTables, bits)
    val batchBk = bk.select(col("dup_of").as("new_vec"), col("bk"))
    val probed =
      if (!multiProbe) batchBk
      else batchBk
        .select(col("new_vec"),
          split(col("bk"), ":").getItem(0).as("tb"),
          split(col("bk"), ":").getItem(1).cast("long").as("b0"))
        .select(col("new_vec"), col("tb"),
          explode(array(col("b0") +: (0 until bits).map(j =>
            col("b0").bitwiseXOR(lit(1L << j))): _*)).as("b"))
        .select(col("new_vec"),
          concat_ws(":", col("tb"), col("b").cast("string")).as("bk"))
    index(prefix).probe(spark, "new_vec", probed,
      vec.select(col("dup_of").as("new_vec"), col("m").as("ma"), col("aa")),
      _.select(col("dup_of"), col("m").as("mb"), col("aa").as("bb")),
      "cos_ppm", _.withColumn("dot", graft.functions.VectorFunctions
          .dotProduct(col("ma"), col("mb")).cast("long"))
        .withColumn("cos_ppm", expr(Dedup.cosPpmSql)),
      thresholdPpm)
  }
}
