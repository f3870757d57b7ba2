package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Output-layout sinks. At 100 TB the write layout IS the read plan of
  * every downstream query: partition pruning and bucketed (shuffle-free)
  * joins are decided here.
  */
object TableWriter {

  /** Hive-style partitioned parquet: directory per partition value →
    * downstream filters on the partition column prune entire
    * directories at planning time. */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.partitionBy(cols: _*).mode(SaveMode.Overwrite).parquet(path)

  /** Bucketed + sorted managed table: both sides of a future equi-join
    * bucketed by the key with the same count join with ZERO shuffle
    * (see TableWriterSpec's plan assertion). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, keyCol: String): Unit =
    df.write.bucketBy(buckets, keyCol).sortBy(keyCol)
      .mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)

  /** Append a batch into an existing bucketed table (same bucket spec,
    * or Spark rejects the write). Appends add files per bucket rather
    * than rewriting: scans stay bucketed (no join-side Exchange), but
    * a bucket with >1 file loses the sorted-file guarantee, so
    * downstream sort-merge joins re-sort within the bucket — a
    * per-task sort of in-place data, never a shuffle. This is the
    * daily-index deployment path. NOTE compact() below must NOT be
    * pointed at a bucketed table's directory — the file→bucket
    * mapping lives in the writer's file NAMES and a path-level
    * rewrite destroys it; use [[rewriteBucketed]] instead. */
  def appendBucketed(df: DataFrame, table: String, buckets: Int, keyCol: String): Unit =
    df.write.bucketBy(buckets, keyCol).sortBy(keyCol)
      .mode(SaveMode.Append).format("parquet").saveAsTable(table)

  /** Replace bucketed `table` with the rows of `df` (typically the
    * table itself, filtered) at ONE file per non-empty bucket: write
    * `<table>_compact_tmp`, drop `table`, rename the staging table to
    * it. The exchange keys on the bucket id itself, so each bucket's
    * rows land in one write task whatever `df`'s partitioning. (An
    * exchange on the key would not do: over a bucketed scan of the same
    * key and count it is a no-op EnsureRequirements elides, after which
    * the scan is planned unbucketed and every task writes a file per
    * bucket it holds.) The swap is two catalog ops, not atomic: a crash
    * between them loses only the live NAME, and renaming the staging
    * table back recovers the data. */
  def rewriteBucketed(df: DataFrame, table: String, buckets: Int, keyCol: String): Unit = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val tmp = s"${table}_compact_tmp"
    writeBucketed(df.repartition(buckets, pmod(hash(col(keyCol)), lit(buckets))),
      tmp, buckets, keyCol)
    df.sparkSession.sql(s"DROP TABLE $table")
    df.sparkSession.sql(s"ALTER TABLE $tmp RENAME TO $table"): Unit
  }

  /** Parquet BLOOM FILTERS on point-lookup columns (r15): min/max
    * footer stats prune range scans but are useless for a point lookup
    * on a high-cardinality unsorted column (every file's [min, max]
    * straddles the probe). A split-block bloom filter per row group
    * turns that lookup into "read the filters, open only matching row
    * groups" — the 100 TB needle-in-haystack read (id lookups,
    * takedown audits). `ndv` sizes the filter (parquet's
    * expected-distinct-values knob; ~1 byte/value at the default FPP).
    * The write is plain parquet + two options per column — sortedness
    * not required, which is exactly when blooms beat stats. */
  def writeWithBloom(df: DataFrame, path: String, bloomCols: Seq[String],
                     ndv: Long = 100000L): Unit =
    bloomCols.foldLeft(df.write.mode(SaveMode.Overwrite)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }.parquet(path)

  /** Z-ordered rewrite: cluster rows by the Morton code of `dims` so
    * every output file covers a compact hyper-rectangle of the dim
    * space — min/max footer stats then prune files for range filters
    * on ANY of the dims, not just the leading sort key. One skinny
    * stats aggregate + one range shuffle on `_z`. */
  def writeZOrdered(df: DataFrame, path: String, dims: Seq[String],
                    files: Int): Unit =
    graft.functions.ZOrder.withZ(df, dims)
      .repartitionByRange(files, org.apache.spark.sql.functions.col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Small-file compaction — the table-maintenance pass every
    * long-running 100 TB lake needs: streaming/micro-batch appends and
    * over-parallel writes leave thousands of KB-sized files whose
    * per-file open/footer cost dominates scans. Rewrites a parquet
    * directory into ~`targetBytes`-sized files (computed from the
    * CURRENT on-disk size, so already-compacted data is a no-op
    * rewrite), sorted within files by `sortCols` so min/max row-group
    * stats stay selective for data-skipping readers.
    *
    * Swap protocol: write to a temp sibling, rename live → trash,
    * rename tmp → live, verify the new live dir is readable, then drop
    * trash. The two renames are NOT one atomic step: a crash between
    * them leaves no live directory — but the data is intact in
    * `.compact-old`, and the next compact() (or any caller invoking
    * `recover`) renames it back before proceeding. A failed second
    * rename — and a failed post-swap verification — rolls the first
    * one back, so the live directory is ALWAYS verified-good data (the
    * suspect rewrite is kept aside in `.compact-bad` for inspection).
    * True single-rename atomicity needs a metadata/manifest layer
    * (Delta/Iceberg-style), out of scope here.
    *
    * Concurrency: one compaction per table at a time, enforced by an
    * O_EXCL `.compact-lock` marker (concurrent callers fail fast
    * rather than interleave the swap). The lock is in-process-crash
    * safe via the finally, but a kill -9 mid-compact leaves it behind
    * — operator removes it after running `recover`. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L << 20,
              sortCols: Seq[String] = Nil): Long = {
    val dir = new java.io.File(path)
    val lock = new java.io.File(path.stripSuffix("/") + ".compact-lock")
    if (!lock.createNewFile())
      throw new java.io.IOException(
        s"compact: ${lock.getName} exists — concurrent compaction, or a crashed one (run recover, then remove the lock)")
    try {
      recover(path) // heal a previous compaction's crash window first
      val bytes = Option(dir.listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.length()).sum
      val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val df = spark.read.parquet(path)
      val out = if (sortCols.nonEmpty)
        df.repartition(nFiles).sortWithinPartitions(sortCols.map(org.apache.spark.sql.functions.col): _*)
      else df.coalesce(nFiles)
      val tmp = new java.io.File(path.stripSuffix("/") + ".compact-tmp")
      out.write.mode(SaveMode.Overwrite).parquet(tmp.getPath)
      val trash = new java.io.File(path.stripSuffix("/") + ".compact-old")
      delete(trash)
      if (!dir.renameTo(trash))
        throw new java.io.IOException(s"compact: cannot move live dir aside for $path")
      if (!tmp.renameTo(dir)) {
        // roll back so the table is never left without a live directory
        trash.renameTo(dir)
        throw new java.io.IOException(s"compact: cannot promote rewrite for $path")
      }
      // only drop the old data once the new live dir provably serves
      // reads (count() touches every file's footer, not just the head)
      try spark.read.parquet(path).count()
      catch { case scala.util.control.NonFatal(e) =>
        // swap BACK: live must never be left pointing at a suspect
        // rewrite while the known-good copy sits in a trash dir the
        // next compact() would delete
        val bad = new java.io.File(path.stripSuffix("/") + ".compact-bad")
        delete(bad)
        val restored = dir.renameTo(bad) && trash.renameTo(dir)
        throw new java.io.IOException(
          if (restored)
            s"compact: rewrite unreadable for $path; previous data restored, rewrite kept in ${bad.getName}"
          else
            s"compact: rewrite unreadable for $path AND restore failed; data intact in ${trash.getName}",
          e)
      }
      delete(trash)
      nFiles.toLong
    } finally { lock.delete(): Unit }
  }

  /** Crash-window repair for `compact`: if the live directory is gone
    * but `.compact-old` survives (crash between the two renames),
    * rename the old data back into place. Called on every compact()
    * entry; safe to call any time. */
  def recover(path: String): Boolean = {
    val dir = new java.io.File(path)
    val trash = new java.io.File(path.stripSuffix("/") + ".compact-old")
    if (!dir.exists() && trash.isDirectory) trash.renameTo(dir)
    else false
  }

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(delete); f.delete(): Unit
  }
}
