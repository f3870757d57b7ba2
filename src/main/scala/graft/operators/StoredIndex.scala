package graft.operators

import graft.sinks.TableWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What the stored indexes ([[DedupIndex]], [[EmbedIndex]],
  * [[GraphAnnIndex]]) share: the tombstone set, and for the two keyed
  * indexes their table layout, bucketed writes, compaction and probe.
  * Each index keeps only its own frames, score and graph logic. */
private[operators] object StoredIndex {

  /** A stored index's tombstones: deleted ids in the one-column,
    * one-bucket table `table`. A delete appends here (O(batch), no index
    * read); reads drop the named rows at ADMISSION with a broadcast
    * anti-join (tombstones are bounded by the compaction cadence); a
    * compaction leaves the dead rows out of its rewrite, then
    * [[clear]]s the table — the deletion-vector discipline applied to
    * an index: mark O(batch) now, rewrite O(index) only at
    * maintenance. */
  final case class Tombstones(table: String, id: String) {

    def ids(spark: SparkSession): Option[DataFrame] =
      if (spark.catalog.tableExists(table)) Some(spark.table(table)) else None

    /** Record the ids in `keys`' first column as deleted. */
    def add(spark: SparkSession, keys: DataFrame): Unit = {
      val k = keys.select(col(keys.columns.head).as(id)).distinct()
      if (spark.catalog.tableExists(table)) TableWriter.appendBucketed(k, table, 1, id)
      else TableWriter.writeBucketed(k, table, 1, id)
    }

    /** `df` without the rows whose column `on` holds a deleted id. */
    def admit(spark: SparkSession, df: DataFrame, on: String = id): DataFrame =
      ids(spark).fold(df)(d =>
        df.join(broadcast(d.select(col(id).as(on))), Seq(on), "left_anti"))

    def clear(spark: SparkSession): Unit =
      if (spark.catalog.tableExists(table)) spark.sql(s"DROP TABLE $table"): Unit
  }

  /** The layout [[DedupIndex]] and [[EmbedIndex]] share: a
    * `(dup_of, bk)` key table bucketed AND sorted by `bk` — a probe's
    * candidate join reads the stored buckets in place, so only the
    * batch's skinny keys shuffle — a `(dup_of, …)` verify table
    * bucketed by `dup_of`, so the candidate-pair join co-locates with
    * the stored buckets, and tombstones on `dup_of`. */
  final case class Keyed(keys: String, verify: String, dead: Tombstones) {

    /** Write (or, with `append`, add) the (key rows, verify rows) of a
      * document set. An append shuffles only the batch's rows and never
      * reads or rewrites the stored side; it adds files per bucket
      * (scans stay bucketed; see TableWriter.appendBucketed for the
      * sort caveat), so run [[compact]] at whatever cadence the file
      * count warrants. */
    def store(frames: (DataFrame, DataFrame), buckets: Int, append: Boolean): Unit = {
      val put: (DataFrame, String, Int, String) => Unit =
        if (append) TableWriter.appendBucketed else TableWriter.writeBucketed
      put(frames._1, keys, buckets, "bk")
      put(frames._2, verify, buckets, "dup_of")
    }

    /** Rewrite both tables at one file per bucket without the
      * tombstoned rows, then clear the tombstones. One full index read,
      * one shuffle and one write per table: run it when probe-plan file
      * counts warrant, not daily. */
    def compact(spark: SparkSession, buckets: Int): Unit = {
      for ((table, key) <- Seq(keys -> "bk", verify -> "dup_of"))
        TableWriter.rewriteBucketed(dead.admit(spark, spark.table(table)),
          table, buckets, key)
      dead.clear(spark)
    }

    /** The probe: the batch's key rows `(q, bk)` meet the stored key
      * table on `bk`, one candidate per distinct (q, dup_of); deleted
      * `dup_of`s are dropped at admission; each candidate joins its
      * batch verify row (`batch`, keyed by `q`) and its stored one
      * (`stored` renames the verify table's columns apart from the
      * batch's); `scored` adds the column `score`, and the pairs scoring
      * at least `threshold` return as (q, dup_of, score) ordered by
      * both ids. */
    def probe(spark: SparkSession, q: String, batchKeys: DataFrame,
              batch: DataFrame, stored: DataFrame => DataFrame,
              score: String, scored: DataFrame => DataFrame,
              threshold: Any): DataFrame = {
      val cand = batchKeys.join(spark.table(keys), Seq("bk"))
        .select(col(q), col("dup_of")).distinct()
      scored(dead.admit(spark, cand)
          .join(batch, Seq(q))
          .join(stored(spark.table(verify)), Seq("dup_of")))
        .filter(col(score) >= threshold)
        .select(col(q), col("dup_of"), col(score))
        .orderBy(col(q), col("dup_of"))
    }
  }
}
