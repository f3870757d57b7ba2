package graft.sinks

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.graft.PlanTransplant
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType,
  StringType, StructField, StructType}

/** Versioned snapshot log over parquet — the manifest layer
  * TableWriter.compact's scaladoc points at: its directory-rename swap
  * has a two-rename crash window and destroys old data the moment the
  * swap lands, so a reader mid-scan during compaction races the
  * rename. Here data files are IMMUTABLE and every table state is a
  * numbered manifest listing its files (Delta/Iceberg's core idea,
  * single-writer variant):
  *
  * ```
  * table/
  *   data/v<N>-<uuid>/part-*.parquet   -- written once, never mutated
  *   _snapshots/v<N>.manifest          -- one data-file path per line
  *   _snapshots/_latest                -- the committed version number
  * ```
  *
  * Commit protocol: write the new files, write the manifest, then
  * PUBLISH with one atomic rename of the `_latest` pointer — readers
  * see the old version until that instant and the new one after; there
  * is no window with no live table and nothing a crash can corrupt
  * (an unpublished manifest/data dir is garbage, not damage). Readers
  * pin a version at plan time, so a scan KEEPS its snapshot while any
  * number of later versions commit — compaction becomes just another
  * commit (same rows, fewer files) and time-travel read is "give me
  * manifest N".
  *
  * Scale: the manifest holds file PATHS (thousands of lines at 100 TB,
  * driver-trivial); per-file PRUNING STATS live in a parquet
  * checkpoint per version (r16 — written distributed at commit, the
  * Delta-checkpoint shape); row data moves only through distributed
  * parquet read/write. Those stats are consulted in ONE place,
  * [[statsPrune]]: the pruned reads, the stats-pruned rewrites (merge,
  * MERGE INTO, delete, deletion-vector delete) and the optimistic
  * rebase proof each hand it an exclusion over the recorded ranges, so
  * a change to how files are ruled out lands there and nowhere else.
  * The prune is SIZE-ADAPTIVE: when the version's live files × tracked
  * columns (both from metadata headers) are small, it reads the
  * checkpoint on the driver and runs no Spark job; at 10⁵–10⁷ files,
  * where the stats themselves are data, it is a Spark job over the
  * checkpoint and only the surviving paths reach the driver.
  * Same-host writers serialize on the same O_EXCL lock as
  * TableWriter.compact; committers that prepared against a stale
  * snapshot go through [[commitIf]]'s optimistic conditional publish
  * (append always rebases; merge/delete rebase via
  * [[mergeCommitIf]]/[[deleteCommitIf]] when the stats checkpoint
  * PROVES key-disjointness from every intervening commit, r16;
  * everything else aborts with [[VersionConflictException]] — the
  * Delta/Iceberg commit rule). */
object SnapshotStore {

  /** The metadata store for a table root (r18): every manifest /
    * pointer / lock / sidecar byte moves through [[LogStore]], so a
    * table root may live on any Hadoop FileSystem — `hdfs://`,
    * object stores — not just POSIX disk. Resolved per call (the
    * registry is a scheme switch + a test seam; stores are
    * stateless). */
  private def store(path: String): LogStore = LogStore.forPath(path)

  /** The caller's AQE-off [[graft.operators.Tuning.scoped]] child, for
    * METADATA-plane actions only: the frames under these jobs are
    * manifest/stats/tombstone-sized by construction (≤ files × tracked
    * columns rows), so AQE's per-stage re-planning buys nothing and
    * costs one extra scheduled job per query stage — measured at
    * sf0.1, the commit verb chain drops from 38 to ~26 jobs and ~15%
    * wall (tools.CommitProbe). Data-plane jobs — the user batch write,
    * delete rewrites, compaction, the DV position join against the
    * table — stay on the caller's session and keep AQE: runtime
    * skew/broadcast decisions matter there at scale. */
  private def metaSession(spark: SparkSession): SparkSession =
    graft.operators.Tuning.scoped(spark, graft.operators.Tuning.AqeOff)

  private def snapDir(path: String) =
    store(path).child(path, "_snapshots")
  private def manifestFile(path: String, v: Long) =
    store(path).child(snapDir(path), f"v$v%08d.manifest")
  private def latestFile(path: String) =
    store(path).child(snapDir(path), "_latest")

  /** The committed version, or 0 if the table has no snapshot yet. */
  def latestVersion(path: String): Long = {
    val st = store(path)
    val f = latestFile(path)
    if (st.exists(f)) st.readString(f).trim.toLong else 0L
  }

  // ——— manifest log (r17): FULL checkpoints + O(delta) commits ———
  //
  // A version's manifest file is either
  //   FULL : `#ts=<ms>` [`#n=<files>`]           + one path per line
  //   DELTA: `#ts= #base=<v-1> #depth=<k> #n=`   + `-removed` / `+added` lines
  // A DELTA records only what the commit CHANGED — an append writes
  // O(new files), a point merge/delete O(touched files) — and resolves
  // against its predecessor; every `manifestCheckpointInterval`-th
  // commit materializes a FULL checkpoint so replay stays O(interval ·
  // delta) (the Delta-log discipline: JSON delta actions + periodic
  // parquet checkpoints). Readers are unchanged: [[manifest]] resolves
  // the chain; a legacy full manifest is just a FULL with no `#n`.

  /** How many DELTA manifests may chain before a commit materializes a
    * FULL checkpoint. Bounds replay cost and the blast radius of a
    * vacuumed chain; the amortized commit cost is O(files / interval). */
  @volatile var manifestCheckpointInterval: Int = 16

  /** Cap on the TOTAL number of columns the all-column stats layer
    * tracks per commit (r18; Delta's
    * `dataSkippingNumIndexedCols = 32` default). Declared keys always
    * record; the auto-extension fills up to this cap. */
  private val StatsAutoColumns = 32

  /** The stats checkpoint's columns. Every read of a checkpoint passes
    * this schema, so none runs a schema-inference job, and checkpoints
    * written before the r18 string ranges null-fill `slo`/`shi`. */
  private val StatsSchema = StructType(Seq(
    StructField("file", StringType), StructField("column", StringType),
    StructField("lo", LongType), StructField("hi", LongType),
    StructField("slo", StringType), StructField("shi", StringType)))

  /** The deletion-vector sidecar's columns — the ones every sidecar
    * writer has written: [[deleteVectorCommit]]'s positions and
    * [[vacuum]]'s GC rewrite of them (a semi-join, same columns). */
  private val DvSchema = StructType(Seq(
    StructField("file", StringType), StructField("path", StringType),
    StructField("row_index", LongType)))

  /** [[statsPrune]] reads the stats on the driver when the version's
    * live files × tracked columns — both known from metadata headers —
    * is at most this many stats rows: a few milliseconds of parquet
    * read where the distributed join costs ≥ 3 jobs. */
  private val LocalPruneCells = 1L << 14

  /** Test seam: `true` forces [[statsPrune]]'s distributed branch
    * whatever the table's size. */
  private[sinks] val distributedPrune = new scala.util.DynamicVariable(false)

  /** Parsed manifest: FULL (`paths` defined) or DELTA (`base` = v−1,
    * `adds`/`drops` relative to it). `n` is the manifest's recorded
    * live-file count (absent on legacy fulls). */
  private case class ManifestInfo(ts: Long, base: Option[Long], depth: Int,
                                  n: Option[Long], adds: Seq[String],
                                  drops: Seq[String],
                                  paths: Option[Seq[String]])

  private def requireManifest(path: String, v: Long): String = {
    val f = manifestFile(path, v)
    require(store(path).exists(f), s"snapshot v$v does not exist under $path")
    f
  }

  private def parseHeader(lines: Seq[String]): Map[String, String] =
    lines.takeWhile(_.startsWith("#")).map { l =>
      val i = l.indexOf('=')
      (l.substring(1, i), l.substring(i + 1).trim)
    }.toMap

  private def parseManifest(st: LogStore, f: String): ManifestInfo = {
    val lines = st.readString(f)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    val hdr = parseHeader(lines)
    val body = lines.filterNot(_.startsWith("#"))
    val ts = hdr.get("ts").map(_.toLong).getOrElse(st.lastModified(f))
    hdr.get("base") match {
      case Some(b) =>
        ManifestInfo(ts, Some(b.toLong),
          hdr.get("depth").fold(1)(_.toInt), hdr.get("n").map(_.toLong),
          adds = body.filter(_.startsWith("+")).map(_.substring(1)),
          drops = body.filter(_.startsWith("-")).map(_.substring(1)),
          paths = None)
      case None =>
        ManifestInfo(ts, None, 0, hdr.get("n").map(_.toLong)
          .orElse(Some(body.size.toLong)), Nil, Nil, Some(body))
    }
  }

  /** Header fields only — stops at the first body line, so probing a
    * 10⁷-line FULL checkpoint for its depth reads a few bytes. */
  private def manifestHeader(st: LogStore, f: String): Map[String, String] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      st.open(f), StandardCharsets.UTF_8))
    try {
      val hdr = scala.collection.mutable.Map.empty[String, String]
      var line = in.readLine()
      while (line != null && line.trim.startsWith("#")) {
        val l = line.trim; val i = l.indexOf('=')
        if (i > 1) hdr(l.substring(1, i)) = l.substring(i + 1).trim
        line = in.readLine()
      }
      hdr.toMap
    } finally in.close()
  }

  /** The version's DELTA-chain depth (0 = FULL checkpoint). */
  private def manifestDepth(path: String, v: Long): Int =
    manifestHeader(store(path), requireManifest(path, v))
      .get("depth").fold(0)(_.toInt)

  /** Live-file count of version `v` — O(1) from the `#n` header
    * (legacy fulls fall back to a resolve). */
  private def nFiles(path: String, v: Long): Long = {
    val hdr = manifestHeader(store(path), requireManifest(path, v))
    hdr.get("n").map(_.toLong).getOrElse(manifest(path, v).size.toLong)
  }

  /** The version's complete file list, resolving the delta chain
    * (replay is bounded by [[manifestCheckpointInterval]]). Driver-side
    * materialization happens only where an engine NEEDS the paths — to
    * plan a scan or diff two versions; commits never call this on the
    * carried set. */
  private def manifest(path: String, v: Long): Seq[String] = {
    val m = parseManifest(store(path), requireManifest(path, v))
    m.paths match {
      case Some(ps) => ps
      case None =>
        val base = manifest(path, m.base.get)
        val dropped = m.drops.toSet
        (if (dropped.isEmpty) base else base.filterNot(dropped)) ++ m.adds
    }
  }

  /** The chain from `v` back to (and excluding) its FULL base:
    * (fullVersion, deltas oldest→newest). */
  private def chainOf(path: String, v: Long): (Long, Seq[(Long, ManifestInfo)]) = {
    val st = store(path)
    var cur = v
    var deltas = List.empty[(Long, ManifestInfo)]
    var m = parseManifest(st, requireManifest(path, cur))
    while (m.base.isDefined) {
      deltas = (cur, m) :: deltas
      cur = m.base.get
      m = parseManifest(st, requireManifest(path, cur))
    }
    (cur, deltas)
  }

  /** Net (added, removed) file sets of the range (fromV, toV] in
    * O(range deltas), when toV's chain passes through fromV — the CDC
    * fast path that keeps a streaming micro-batch's planning O(delta).
    * None when a FULL checkpoint intervenes (fall back to the
    * endpoint set-difference). Files added then dropped inside the
    * range cancel exactly (paths are write-once UUIDs — never
    * re-added). */
  private def changedFiles(path: String, fromV: Long, toV: Long)
      : Option[(Seq[String], Seq[String])] = {
    var cur = toV
    var deltas = List.empty[ManifestInfo]
    while (cur > fromV) {
      val m = parseManifest(store(path), requireManifest(path, cur))
      if (m.base.isEmpty) return None // checkpoint inside the range
      deltas = m :: deltas
      cur = m.base.get
    }
    val added = scala.collection.mutable.LinkedHashSet.empty[String]
    val removed = scala.collection.mutable.LinkedHashSet.empty[String]
    deltas.foreach { d =>
      d.drops.foreach { f => if (!added.remove(f)) removed += f }
      added ++= d.adds
    }
    Some((added.toSeq, removed.toSeq))
  }

  /** Commit wall-clock of version `v` (the manifest's `#ts=` header),
    * falling back to the manifest file's mtime for manifests written
    * before the header existed. */
  def commitTime(path: String, v: Long): Long = {
    val st = store(path)
    val f = requireManifest(path, v)
    manifestHeader(st, f).get("ts").map(_.toLong)
      .getOrElse(st.lastModified(f))
  }

  /** Retained versions, oldest first (vacuumed versions are gone). */
  def versions(path: String): Seq[Long] =
    store(path).list(snapDir(path))
      .map(_.name).filter(_.matches("v\\d{8}\\.manifest"))
      .map(_.stripPrefix("v").stripSuffix(".manifest").toLong)
      .filter(_ <= latestVersion(path)) // an unpublished manifest is not history
      .sorted

  /** Table history as data: one row per retained version —
    * (version, commit_ts millis, n_files, batch_id or null). Driver
    * metadata only (manifest-count rows), the DESCRIBE HISTORY shape. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val st = store(path)
    versions(path).map { v =>
      val b = batchFile(path, v)
      (v, commitTime(path, v), nFiles(path, v).toInt,
        if (st.exists(b)) Some(st.readString(b).trim.toLong) else None)
    }.toDF("version", "commit_ts", "n_files", "batch_id")
  }

  /** TIMESTAMP time travel: the latest version committed at or before
    * `tsMillis` (Delta's `timestampAsOf`). Commit times are strictly
    * orderable here (single-host writer lock serializes publishes);
    * across hosts they inherit wall-clock skew — version pins are the
    * exact form, timestamp pins the convenient one. */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    read(spark, path, Some(versionAsOf(path, tsMillis)))

  /** The version [[readAsOf]] resolves `tsMillis` to — public so the
    * registered data source's `timestampAsOf` option shares the rule. */
  def versionAsOf(path: String, tsMillis: Long): Long = {
    val vs = versions(path).filter(commitTime(path, _) <= tsMillis)
    require(vs.nonEmpty,
      s"no snapshot of $path existed at or before $tsMillis")
    vs.max
  }

  /** RESTORE — republish version `version` as the table's NEW head
    * (r18; Delta's RESTORE TABLE ... TO VERSION AS OF, the standard
    * recovery verb after a bad commit). A metadata-only commit:
    *
    *   - the new head's manifest is version's file list as a FULL
    *     checkpoint (zero data rewritten — restore at 100 TB costs one
    *     manifest write, the immutable-file dividend);
    *   - schema / column-mapping / stats sidecars are carried from the
    *     restored version (its chain stats consolidated);
    *   - deletion vectors RESET: the masks visible at `version` are
    *     consolidated into the new head's own sidecar behind a reset
    *     marker, so masks added by the rolled-back commits stop
    *     applying — their rows RESURRECT, exactly the restored state —
    *     while time travel to any pre-restore version still sees its
    *     own masks;
    *   - keyed [[readChanges]] across the restore classifies the diff
    *     exactly (rolled-back inserts become deletes, rolled-back
    *     deletes become inserts, rolled-back updates revert), with
    *     resurrection handled by the reset-aware CDC arms.
    *
    * Vacuum semantics are unchanged: retention counts versions from
    * the new head, so the rolled-back versions age out normally.
    * Requires `version` to still be retained. Restoring the current
    * head is a no-op. Returns the new version. */
  def restore(spark: SparkSession, path: String, version: Long): Long =
    withLock(path) {
      val head = latestVersion(path)
      require(head > 0, s"no committed snapshot under $path")
      require(versions(path).contains(version),
        s"restore: v$version is not retained under $path")
      if (version == head) head
      else {
        val nv = head + 1
        dropStatsArtifacts(path, nv) // crashed-commit leftovers
        atomicWrite(schemaFile(path, nv),
          tableSchema(spark, path, version).json)
        writeColmap(path, nv, columnMapping(path, version))
        carrySidecar(path, statsFile(path, version), statsFile(path, nv))
        consolidateStatsByCopy(path, version, nv)
        // consolidate the masks visible AT the restored version into
        // the new head's sidecar, then plant the reset marker — the
        // marker also kills (version, head] masks when the restored
        // version had none
        copyParts(path, dvVisible(path, version)._2.map(dvDir(path, _)),
          dvDir(path, nv))
        atomicWrite(dvBaseFile(path, nv), "")
        publishFull(path, nv, manifest(path, version), None)
        nv
      }
    }

  // ——— per-version SCHEMA sidecar (r17): O(1) schema resolution +
  //     Delta-style append-time schema enforcement ———

  /** An append tried to CHANGE an existing column's type. Rejected at
    * commit time — a type fork written into an immutable file would
    * poison every later read of the table (Delta enforces the same
    * rule at write). */
  final class SchemaMismatchException(msg: String)
    extends IllegalArgumentException(msg)

  private def schemaFile(path: String, v: Long) =
    store(path).child(snapDir(path), f"v$v%08d.schema")

  /** Everything nullable, recursively — sidecar schemas must admit the
    * null-fill of columns absent from older files, and type equality
    * checks must not trip on nullability alone. */
  private def deepNullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = deepNullable(f.dataType), nullable = true)))
    case ArrayType(et, _) => ArrayType(deepNullable(et), containsNull = true)
    case MapType(k, v, _) =>
      MapType(deepNullable(k), deepNullable(v), valueContainsNull = true)
    case other => other
  }

  /** The version's PHYSICAL table schema from its sidecar — O(1),
    * no footer I/O; None on tables written before the sidecar. */
  private def tableSchemaOpt(path: String, v: Long): Option[StructType] = {
    val st = store(path)
    val f = schemaFile(path, v)
    if (!st.exists(f)) None
    else Some(DataType.fromJson(st.readString(f)).asInstanceOf[StructType])
  }

  /** The version's physical schema: sidecar when present, else the
    * legacy mergeSchema footer sweep (paid once — the next commit
    * writes the sidecar). */
  private def tableSchema(spark: SparkSession, path: String, v: Long)
      : StructType =
    tableSchemaOpt(path, v).getOrElse(
      deepNullable(spark.read.option("mergeSchema", "true")
        .parquet(manifest(path, v): _*).schema).asInstanceOf[StructType])

  /** Read a version's files under ITS schema: sidecar-driven when
    * present — files missing an evolved column null-fill it exactly
    * like mergeSchema, but schema resolution is one small file read
    * instead of an every-footer sweep at every plan (at 10⁵–10⁷ files
    * the sweep IS the planning cost; Delta stores the schema in the
    * log for the same reason). Legacy tables fall back to
    * mergeSchema inference. */
  private def readVersionFiles(spark: SparkSession, path: String, v: Long,
                               files: Seq[String]): DataFrame =
    tableSchemaOpt(path, v) match {
      case Some(sch) => spark.read.schema(sch).parquet(files: _*)
      case None =>
        spark.read.option("mergeSchema", "true").parquet(files: _*)
    }

  /** Delta's append-time enforcement: a batch column sharing a name
    * with a table column must keep its exact type; NEW columns extend
    * the schema (evolution). Returns the merged schema. */
  private def mergeStrict(prev: StructType, batch: StructType,
                          path: String): StructType = {
    val nb = deepNullable(batch).asInstanceOf[StructType]
    val prevByName = prev.fields.map(f => f.name -> f).toMap
    nb.fields.foreach { bf =>
      prevByName.get(bf.name).foreach { pf =>
        if (pf.dataType != bf.dataType)
          throw new SchemaMismatchException(
            s"commit to $path: column '${bf.name}' is " +
              s"${pf.dataType.simpleString} in the table but " +
              s"${bf.dataType.simpleString} in the batch - changing a " +
              "column's type needs an explicit Overwrite/compact " +
              "rewrite, never an append (a type fork would poison " +
              "every later read)")
      }
    }
    val known = prev.fieldNames.toSet
    StructType(prev.fields ++ nb.fields.filterNot(f => known(f.name)))
  }

  /** Read a snapshot: the latest committed version by default, or an
    * explicit `version` for time travel. The returned frame is pinned
    * to that version's files — later commits and compactions never
    * touch them, so the scan is consistent however long it runs.
    * Schema: the version's sidecar (older files null-fill evolved
    * columns — the Delta/Iceberg read semantics — at O(1) planning
    * cost; legacy tables pay one mergeSchema footer sweep). */
  def read(spark: SparkSession, path: String,
           version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(path))
    require(v > 0, s"no committed snapshot under $path")
    // each version presents ITS OWN column mapping: time travel to a
    // pre-rename version shows the old name (physical files are shared);
    // deletion-vector masks apply per version too (r17)
    presentDf(
      maskDeleted(spark, path, v,
        readVersionFiles(spark, path, v, manifest(path, v))),
      columnMapping(path, v))
  }

  /** Scan PLANNING with the stats sidecar (the Iceberg/Delta
    * manifest-prune read): rows of the snapshot whose tracked stats
    * column falls in [lo, hi], reading ONLY the files whose recorded
    * (min, max) range overlaps the interval — the same sidecar
    * [[mergeCommit]]/[[deleteCommit]] prune their rewrites with, now
    * applied to the read path. File pruning happens at PLAN time in
    * [[statsPrune]]: a small table prunes on the driver with no job, so
    * the read runs only its own action; at 10⁵–10⁷ files (where parquet
    * row-group pushdown alone would still open every file's footer) the
    * prune is a Spark job joining the manifest scan to the stats
    * checkpoint, and only the surviving paths reach the driver. The
    * residual row filter stays in the scan, pushed to the surviving
    * files. Files without a stats row — e.g. written by a commit that
    * predates stats tracking — are conservatively kept. A
    * version with NO sidecar degrades to a full read + filter, never a
    * wrong answer. */
  def readWhere(spark: SparkSession, path: String, key: String,
                lo: Long, hi: Long, version: Option[Long] = None): DataFrame =
    readPruned(spark, path, key, version, outside(lo, hi))(
      k => k >= lo && k <= hi)

  /** EQUALITY scan planning for string/partition columns (r18): rows
    * of the snapshot with `key` = `value`, reading only the files
    * whose recorded range — lexicographic (slo, shi) for string
    * columns, numeric (lo, hi) when the value parses — can contain
    * the value. With [[commit]]'s `partitionBy` clustering, a
    * partition value lands in few contiguous files, so this is
    * PARTITION ELIMINATION at any scale without a directory layout:
    * the first prune a date-partitioned 100 TB query needs. Files
    * without a provable range are kept (degrade, never wrong); the
    * residual equality filter stays in the scan. */
  def readWhereEq(spark: SparkSession, path: String, key: String,
                  value: String, version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val missesStr = col("slo").isNotNull &&
      (lit(value) < col("slo") || lit(value) > col("shi"))
    val misses = scala.util.Try(value.toLong).toOption
      .fold(missesStr)(n => missesStr || outside(n, n))
    readPruned(spark, path, key, version, misses)(_ === value)
  }

  /** STRING-RANGE scan planning (r18): rows with `key` ∈ [lo, hi]
    * lexicographically — the date-string window every warehouse table
    * filters by first (`day BETWEEN '2024-01-01' AND '2024-01-31'`).
    * Prunes with the same per-file (slo, shi) ranges as
    * [[readWhereEq]]; ISO date strings order lexicographically ≡
    * chronologically, so on a `partitionBy(day)` table this is
    * date-partition elimination. Files without a provable range are
    * kept; the residual BETWEEN stays in the scan. */
  def readWhereBetween(spark: SparkSession, path: String, key: String,
                       lo: String, hi: String,
                       version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(lo <= hi, s"readWhereBetween: lo '$lo' > hi '$hi'")
    readPruned(spark, path, key, version, col("slo").isNotNull &&
      (col("slo") > lit(hi) || col("shi") < lit(lo)))(
      k => k >= lo && k <= hi)
  }

  /** The one body behind the pruned reads: pin the version, map the
    * logical key to its physical name (stats ranges and data files use
    * physical names), read the files [[statsPrune]] keeps under `excl`,
    * then apply the residual row filter `rows` (over the physical key
    * column), the version's masks and its column mapping. The
    * everything-pruned branch derives its (empty) frame from the SAME
    * merged schema as the kept branch — a single-file sample could
    * miss an evolved column (inconsistent schema for the same logical
    * query) or even fail to resolve the key. */
  private def readPruned(spark: SparkSession, path: String, key: String,
                         version: Option[Long], excl: Column)
                        (rows: Column => Column): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = version.getOrElse(latestVersion(path))
    require(v > 0, s"no committed snapshot under $path")
    val pk = physicalOf(path, v, key)
    val kept = prunedFiles(spark, path, v, pk, excl)
    val pruned =
      if (kept.nonEmpty) readVersionFiles(spark, path, v, kept)
      else readVersionFiles(spark, path, v, manifest(path, v)).limit(0)
    presentDf(maskDeleted(spark, path, v, pruned.filter(rows(col(pk)))),
      columnMapping(path, v))
  }

  /** Write `df` as the table's next version. `mode=Overwrite` replaces
    * the table contents; `mode=Append` carries the previous manifest's
    * files forward and adds the new ones (an append commits in O(new
    * data) — old files are never rewritten). On a column-mapped table
    * (post-[[renameColumn]]/[[dropColumn]]) an append takes LOGICAL
    * column names and lands them under the stable physical names, new
    * columns extending the mapping; an Overwrite replaces the table
    * contents AND resets the mapping (a fresh table). Returns the
    * published version number. */
  def commit(df: DataFrame, path: String,
             mode: SaveMode = SaveMode.Overwrite,
             batchId: Option[Long] = None,
             statsKey: Option[String] = None,
             partitionBy: Seq[String] = Nil): Long =
    withLock(path) {
      import org.apache.spark.sql.functions.col
      val prev = latestVersion(path)
      mode match {
        case SaveMode.Append if prev > 0 =>
          val pdf0 = toPhysicalDf(path, prev, df)
          // a PARTITIONED table re-clusters every append by its
          // declared partition columns (r18): the batch's rows land in
          // value-contiguous files, so the per-file string/numeric
          // ranges stay tight and equality pruning keeps eliminating —
          // the append-side half of partitionBy (Hive writes the dirs;
          // here the ranges are the partitions).
          val parts = partsOf(path, prev)
          val pdf =
            if (parts.isEmpty || !parts.forall(pdf0.columns.contains)) pdf0
            else pdf0.repartitionByRange(parts.map(col): _*)
              .sortWithinPartitions(parts.map(col): _*)
          // an append to a stats-TRACKED table keeps recording ranges
          // for its fresh files by default (r18) — otherwise every
          // appended file is permanently unprunable until a compaction
          // (a caller's explicit statsKey still wins)
          commitLocked(pdf, path, CarryAllExcept(Nil), batchId,
            statsKey.map(physicalOf(path, prev, _))
              .orElse(statsKeyOf(path, prev)),
            colmap = extendedMapping(columnMapping(path, prev), pdf))
        case _ =>
          // partitionBy (r18): cluster the table by the partition
          // columns — each value lands in few contiguous files, the
          // stats checkpoint records per-file value ranges, and
          // [[readWhereEq]] / the registered source's equality
          // pushdown prune to ~that partition's files. Declared once
          // at table (re)creation; appends re-cluster automatically.
          require(partitionBy.forall(df.columns.contains),
            s"commit: partitionBy ${partitionBy.mkString(",")} not all in " +
              s"batch columns ${df.columns.mkString(",")}")
          val out =
            if (partitionBy.isEmpty) df
            else df.repartitionByRange(partitionBy.map(col): _*)
              .sortWithinPartitions(partitionBy.map(col): _*)
          commitLocked(out, path, Replace, batchId,
            statsKey.orElse(partitionBy.headOption),
            partitionCols = partitionBy)
      }
    }

  /** A commit batch violated a table CHECK constraint; the table is
    * untouched (validation runs on the MATERIALIZED fresh files before
    * the manifest publishes — r17's write-then-validate-then-publish —
    * and a rejected batch's files are deleted on the spot). */
  final class ConstraintViolationException(msg: String)
    extends IllegalArgumentException(msg)

  private def constraintsFile(path: String) =
    store(path).child(path, "_constraints")

  /** The table's CHECK constraints, oldest first: (name, boolean SQL
    * expression over LOGICAL column names). */
  def tableConstraints(path: String): Seq[(String, String)] = {
    val st = store(path)
    val f = constraintsFile(path)
    if (!st.exists(f)) Nil
    else st.readString(f)
      .split("\n").toSeq.filter(_.nonEmpty)
      .map { l => val Array(n, e) = l.split("\t", 2); (n, e) }
  }

  /** Delta-style `ALTER TABLE ADD CONSTRAINT`: a named boolean SQL
    * expression every SUBSEQUENT commit batch must satisfy, enforced
    * with SQL CHECK null semantics (a row passes when the expression
    * is TRUE or NULL, violates only on FALSE). Like Delta, adding a
    * constraint first validates the EXISTING live table — one
    * aggregate scan — so a table can never hold data its declared
    * constraints reject. Enforcement on commit is ONE extra map-side
    * aggregate pass over the incoming batch (all constraints fused,
    * n constraints ≠ n scans — the DataQuality analyzer discipline);
    * rewrite-only maintenance (compaction, delete survivors) is not
    * re-validated, matching Delta's OPTIMIZE.
    *
    * Enforcement is WRITE-THEN-VALIDATE-THEN-PUBLISH (r17): the fused
    * aggregate runs over the MATERIALIZED fresh files, so the checked
    * rows are exactly the rows the manifest publishes — safe for
    * nondeterministic batches (rand(), sample, order-dependent float
    * reductions), where a pre-write check of the batch's lineage could
    * pass one evaluation and commit another. A violation deletes the
    * fresh files and aborts with the table untouched. */
  def addConstraint(spark: SparkSession, path: String,
                    name: String, sqlExpr: String): Unit = withLock(path) {
    require(name.matches("[A-Za-z0-9_-]+"), s"constraint name '$name'")
    require(!sqlExpr.contains("\t") && !sqlExpr.contains("\n"),
      "constraint expression must not contain tabs/newlines")
    require(!tableConstraints(path).exists(_._1 == name),
      s"constraint '$name' already exists on $path")
    // the validation scan is also where the expression RESOLVES —
    // accepting a constraint against no schema would defer an
    // AnalysisException to every later commit (Delta requires the
    // table too)
    require(latestVersion(path) > 0,
      s"addConstraint: $path has no committed schema to validate against")
    violationCounts(
      read(spark, path), Seq(name -> sqlExpr)).foreach { case (n, c) =>
      if (c > 0) throw new ConstraintViolationException(
        s"cannot add '$n' to $path: $c existing rows violate it")
    }
    // full-content atomic rewrite (the store's write-to-tmp + rename
    // invariant): a crashed append could leave a torn line that fails
    // every later commit's tableConstraints parse
    writeConstraints(path, tableConstraints(path) :+ (name -> sqlExpr))
  }

  /** Remove a named constraint (no-op if absent). */
  def dropConstraint(path: String, name: String): Unit = withLock(path) {
    val kept = tableConstraints(path).filterNot(_._1 == name)
    if (kept.isEmpty) { store(path).delete(constraintsFile(path)): Unit }
    else writeConstraints(path, kept)
  }

  private def writeConstraints(path: String,
                               cs: Seq[(String, String)]): Unit =
    store(path).writeAtomic(constraintsFile(path),
      cs.map { case (n, e) => s"$n\t$e\n" }.mkString)

  /** One fused aggregate pass: per-constraint violation counts over
    * `df` (CHECK semantics: NULL passes). */
  private def violationCounts(df: DataFrame,
                              cs: Seq[(String, String)]): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.{lit, sum, when}
    val row = PlanTransplant.reRoot(metaSession(df.sparkSession), df).agg(
      lit(1).as("_one"),
      cs.map { case (n, e) =>
        sum(when(graft.operators.DataQuality.violatesCheck(e), 1L)
          .otherwise(0L)).as(s"_v_$n")
      }: _*).collect().head
    cs.zipWithIndex.map { case ((n, _), i) =>
      n -> Option(row.get(i + 1)).fold(0L)(_.asInstanceOf[Long]) }
  }

  /** A concurrent commit advanced the table past the version this
    * writer prepared against, and the commit cannot be auto-rebased
    * (non-append semantics). Re-read the new snapshot and retry. */
  final class VersionConflictException(msg: String)
    extends java.io.IOException(msg)

  /** Optimistic CONDITIONAL publish — the Delta/Iceberg multi-writer
    * commit rule (r15), for committers that prepared work against a
    * snapshot without holding the writer lock the whole time: pass
    * the version you read (`expectedVersion`); under the lock the
    * live version is re-read and
    *
    *   - unchanged → the commit publishes normally;
    *   - advanced + `mode=Append` → the commit REBASES: fresh data
    *     dirs are UUID-named so two appends are file-disjoint by
    *     construction — the loser simply carries the WINNER's manifest
    *     instead of its stale one, and both writers' rows land;
    *   - advanced + any other mode → [[VersionConflictException]]:
    *     the prepared rows may depend on rows the winner changed, so
    *     auto-merge would be a lost update — the caller re-reads and
    *     retries (the mergeCommit/deleteCommit paths already serialize
    *     under the lock and never need this).
    *
    * A crash between manifest write and pointer publish heals exactly
    * as for [[commit]] (withLock heals first). Returns the published
    * version. */
  def commitIf(df: DataFrame, path: String, expectedVersion: Long,
               mode: SaveMode = SaveMode.Append,
               batchId: Option[Long] = None,
               statsKey: Option[String] = None): Long =
    withLock(path) {
      val cur = latestVersion(path)
      // conflict check FIRST (a pointer read): a doomed commit must not
      // pay the constraint aggregate while holding the table lock
      if (cur != expectedVersion && mode != SaveMode.Append)
        throw new VersionConflictException(
          s"snapshot commit: $path advanced to v$cur (prepared against " +
            s"v$expectedVersion) — re-read and retry")
      mode match {
        case SaveMode.Append if cur > 0 => // rebase onto the winner
          val pdf = toPhysicalDf(path, cur, df)
          commitLocked(pdf, path, CarryAllExcept(Nil), batchId,
            statsKey.map(physicalOf(path, cur, _)),
            colmap = extendedMapping(columnMapping(path, cur), pdf))
        case _ =>
          commitLocked(df, path, Replace, batchId, statsKey)
      }
    }

  /** How long a writer WAITS for the lock before giving up. Waiting
    * (rather than failing immediately) is what lets the documented
    * stream-ingest + periodic-compaction pairing coexist: a micro-batch
    * landing while compact holds the lock parks briefly instead of
    * failing the streaming query. A lock held past the timeout is
    * assumed crashed/abandoned and surfaces as the explicit error. */
  @volatile var lockWaitMs: Long = 60000L

  private def withLock[A](path: String)(body: => A): A = {
    val st = store(path)
    val lock = path.stripSuffix("/") + ".snapshot-lock"
    st.mkdirs(path)
    val deadline = System.nanoTime() + lockWaitMs * 1000000L
    var acquired = st.putIfAbsent(lock)
    while (!acquired && System.nanoTime() < deadline) {
      Thread.sleep(100)
      acquired = st.putIfAbsent(lock)
    }
    if (!acquired)
      throw new java.io.IOException(
        s"snapshot commit: $lock held for over ${lockWaitMs} ms — concurrent writer (or crashed one; remove the lock after inspection)")
    try { healLocked(path); body } finally { st.delete(lock): Unit }
  }

  /** How a commit treats the previous version's files. */
  private sealed trait Carry
  /** Fresh files REPLACE the table (Overwrite, compaction). */
  private case object Replace extends Carry
  /** Carry every previous file EXCEPT `dropped` (appends: Nil;
    * merge/delete: the touched set) — expressed as a DIFF so the
    * commit never materializes the carried list: an append is O(new
    * files) end to end, whatever the table size (r17). */
  private case class CarryAllExcept(dropped: Seq[String]) extends Carry

  /** Write `df` as fresh files, apply `carry`, publish. When
    * `statsKey` is set, per-file (min, max) ranges of that column are
    * recorded in the version's stats sidecar (one extra skinny agg
    * over the fresh files, grouped by input_file_name) — the footer-
    * stats layer [[mergeCommit]] prunes with. Carry commits publish a
    * DELTA manifest + fresh-only stats (O(delta)); every
    * [[manifestCheckpointInterval]]-th carry materializes a FULL
    * manifest checkpoint and a consolidated stats checkpoint. */
  private def commitLocked(df: DataFrame, path: String,
                           carry: Carry, batchId: Option[Long],
                           statsKey: Option[String],
                           extraStatsCols: Seq[String] = Nil,
                           colmap: Option[Seq[(String, String)]] = None,
                           validate: Boolean = true,
                           partitionCols: Seq[String] = Nil)
      : Long = {
    val prev = latestVersion(path)
    val v = prev + 1
    // a crashed deleteVectorCommit may have left a tombstone sidecar at
    // this version number with no manifest (nothing for heal to see) —
    // it must not attach to THIS commit and mask rows wrongly
    dropDvDir(path, v)
    val isCarry = carry match {
      case CarryAllExcept(_) => prev > 0
      case Replace => false
    }
    // SCHEMA (r17): validate the batch against the table BEFORE any
    // file is written (a rejected type fork leaves zero garbage), and
    // carry the merged schema as the new version's sidecar — the O(1)
    // resolution every read plans from. Replace commits reset it to
    // the batch's schema — also the fresh files' own, which their
    // reads below pass so that none runs an inference job.
    val written = deepNullable(df.schema).asInstanceOf[StructType]
    val newSchema: StructType =
      if (isCarry) mergeStrict(tableSchema(df.sparkSession, path, prev),
        df.schema, path)
      else written
    val st = store(path)
    val dataDir = st.child(st.child(path, "data"),
      f"v$v%08d-${java.util.UUID.randomUUID().toString.take(8)}")
    df.write.mode(SaveMode.ErrorIfExists).parquet(dataDir)
    // manifests record NORMALIZED paths (file: URIs decoded to plain
    // paths, other schemes verbatim) so they compare equal with the
    // normalized forms the stats/DV layers derive from
    // input_file_name()/_metadata — whichever store listed them (a
    // Hadoop store returns qualified file:/ URIs, the local store
    // plain paths).
    val fresh = st.list(dataDir)
      .filter(e => !e.isDir && e.name.endsWith(".parquet"))
      .map(e => normalizePathSafe(e.path)).sorted
    // WRITE-THEN-VALIDATE-THEN-PUBLISH (r17, closing the r16 advice):
    // CHECK constraints are enforced on the MATERIALIZED files, so the
    // checked rows are exactly the rows the manifest will publish — a
    // nondeterministic batch (rand(), sample, order-dependent float
    // reductions) can no longer pass validation on one evaluation and
    // commit different rows on another. A violation deletes the fresh
    // files and aborts with the table untouched (nothing references
    // them yet). Rewrite-only commits (compaction, delete survivors)
    // skip the pass — Delta's OPTIMIZE rule — via validate = false.
    if (validate && fresh.nonEmpty) {
      val cs = tableConstraints(path)
      if (cs.nonEmpty) {
        val freshLogical = presentDf(
          df.sparkSession.read.schema(written).parquet(fresh: _*), colmap)
        val bad = violationCounts(freshLogical, cs).filter(_._2 > 0)
        if (bad.nonEmpty) {
          st.deleteRecursively(dataDir)
          throw new ConstraintViolationException(
            s"commit to $path rejected: " + bad.map { case (nm, c) =>
              s"$c rows violate '$nm'" }.mkString("; "))
        }
      }
    }
    val dropped = carry match {
      case CarryAllExcept(d) if isCarry => d
      case _ => Nil
    }
    val depth = if (isCarry) manifestDepth(path, prev) + 1 else 0
    val asDelta = isCarry && depth < manifestCheckpointInterval
    // a carried-only commit (fresh empty) is legal — deleteCommit's
    // "every touched row deleted" case; a fully-empty table is not.
    // O(1): counts come from the #n headers, never a list.
    val newN = (if (isCarry) nFiles(path, prev) - dropped.size else 0L) +
      fresh.size
    require(newN > 0, s"snapshot commit: empty write for $path")
    // the FULL file list is materialized ONLY at checkpoint commits —
    // the amortized O(files/interval) step (Delta's checkpoint rule)
    lazy val fullCarried: Seq[String] =
      if (!isCarry) Nil
      else if (dropped.isEmpty) manifest(path, prev)
      else manifest(path, prev).filterNot(dropped.toSet)
    statsKey match {
      case Some(key) =>
        val declared = (key +: extraStatsCols).distinct
        // ALL-COLUMN stats (r18, Delta's default-32 rule): beyond the
        // declared key(s), record ranges for EVERY other eligible
        // top-level column (numeric or string) of the batch, capped at
        // 32 columns total — a readWhere / mergeCommit / deleteCommit
        // filtering on ANY of them then file-prunes instead of
        // scanning the table. The cost is aggregates, not passes: the
        // skinny per-file agg below is one map-side job whatever the
        // column count.
        val statTypes = df.schema.fields
          .map(f => f.name -> f.dataType).toMap
        val auto = df.schema.fields.filter { f =>
          f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
            f.dataType == org.apache.spark.sql.types.StringType
        }.map(_.name).filterNot(declared.contains)
        val cols = (declared ++ auto).take(math.max(declared.size,
          StatsAutoColumns))
        val meta = metaSession(df.sparkSession)
        import org.apache.spark.sql.functions.{input_file_name, min, max,
          explode, array, struct, lit, col, when, floor, ceil}
        import meta.implicits._
        // DISTRIBUTED stats checkpoint (r16): per-file ranges land as a
        // parquet frame (file, column, lo, hi) under the version, never
        // as a driver-resident map — a 10⁷-file table's stats are a
        // DataFrame, and every pruning read is a scan of it (the
        // Delta-checkpoint shape). Fresh ranges: one skinny agg over
        // the fresh files for ALL tracked columns, exploded to rows.
        // Casting happens BEFORE the aggregate: range stats are
        // integral-only (the whole pruning layer compares long
        // windows), so min/max on the RAW column then a cast would
        // record LEXICOGRAPHIC extremes for numeric-looking strings
        // ("30" < "5") — a wrong range that silently prunes matching
        // files. The cast is dtype-aware and CONSERVATIVE (r18):
        //  - integral columns cast exactly;
        //  - fractional/decimal/string columns WIDEN — floor for lo,
        //    ceil for hi — because a truncate-toward-zero cast records
        //    lo = 0 for min = −0.5 and would wrongly prune hi < 0
        //    queries (strings try the exact long cast first so huge
        //    integer ids never round through double);
        //  - any row whose value fails the cast poisons the column's
        //    range for that FILE (the bad_i flag below): recording the
        //    extremes of only the castable rows would under-cover and
        //    prune files that still hold matching rows. No range →
        //    unpruned, never wrong.
        def isIntegral(dt: org.apache.spark.sql.types.DataType) = dt match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => true
          case _ => false
        }
        // EXCEPTION-FREE casts only (r18 hot-path rule): a try_cast
        // that fails per row is exception-driven control flow — on a
        // mostly-non-numeric string column that is an exception STORM
        // (measured ~1 s per 150k-row stats job), so string columns
        // record ONLY their lexicographic range below (equality /
        // BETWEEN pruning — the partition shapes) and never attempt
        // numeric parsing; fractional columns gate the long cast
        // behind an in-range check (NaN/overflow → null → the bad
        // flag degrades the file to rangeless — never an error,
        // never an exception).
        val safeLong = 9.2e18 // inside ±2^63, margin for double rounding
        def bounded(x: org.apache.spark.sql.Column) =
          when(x.between(-safeLong, safeLong), x.cast("long"))
        def loC(c: String) = statTypes(c) match {
          case dt if isIntegral(dt) => col(c).cast("long")
          case _ => bounded(floor(col(c).cast("double")))
        }
        def hiC(c: String) = statTypes(c) match {
          case dt if isIntegral(dt) => col(c).cast("long")
          case _ => bounded(ceil(col(c).cast("double")))
        }
        // STRING (lexicographic) ranges ride the same checkpoint (r18):
        // for string columns — partition values, categories, date
        // strings — per-file min/max of the RAW string is recorded as
        // (slo, shi). Lexicographic extremes are sound for EQUALITY
        // pruning (value ∈ file ⟹ slo ≤ value ≤ shi), which is what
        // [[readWhereEq]] and the registered source's string-equality
        // pushdown prune with — partition elimination without a Hive
        // directory layout (the Iceberg hidden-partitioning argument:
        // value ranges per file subsume dir-per-value, with no
        // small-files explosion at high cardinality).
        val isStr = (c: String) =>
          statTypes(c) == org.apache.spark.sql.types.StringType
        // integral columns never fail their exact cast, string columns
        // never attempt one — the bad flag exists only where it can
        // fire (fractional)
        val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
          if (isStr(c))
            Seq(min(col(c)).as(s"slo_$i"), max(col(c)).as(s"shi_$i"))
          else
            Seq(min(loC(c)).as(s"lo_$i"), max(hiC(c)).as(s"hi_$i")) ++
              (if (isIntegral(statTypes(c))) Nil
               else Seq(max(when(col(c).isNotNull && loC(c).isNull, 1)
                 .otherwise(0)).as(s"bad_$i")))
        }
        val freshDF: Option[DataFrame] =
          if (fresh.isEmpty) None
          else Some(meta.read.schema(written).parquet(fresh: _*)
            .groupBy(input_file_name().as("f"))
            .agg(aggs.head, aggs.tail: _*)
            .select(col("f"),
              explode(array(cols.zipWithIndex.map { case (c, i) =>
                def guarded(x: org.apache.spark.sql.Column) =
                  if (isIntegral(statTypes(c))) x
                  else when(col(s"bad_$i") === 1, lit(null)).otherwise(x)
                struct(lit(c).as("column"),
                  (if (isStr(c)) lit(null).cast("long")
                   else guarded(col(s"lo_$i"))).as("lo"),
                  (if (isStr(c)) lit(null).cast("long")
                   else guarded(col(s"hi_$i"))).as("hi"),
                  (if (isStr(c)) col(s"slo_$i")
                   else lit(null).cast("string")).as("slo"),
                  (if (isStr(c)) col(s"shi_$i")
                   else lit(null).cast("string")).as("shi")) }: _*)).as("st"))
            .select(col("f"), col("st.column").as("column"),
              col("st.lo").as("lo"), col("st.hi").as("hi"),
              col("st.slo").as("slo"), col("st.shi").as("shi"))
            // an all-null or uncastable file/column has no range in
            // EITHER form — no row, file degrades to unpruned exactly
            // like the no-stats case
            .filter((col("lo").isNotNull && col("hi").isNotNull) ||
              (col("slo").isNotNull && col("shi").isNotNull))
            // input_file_name yields a PERCENT-ENCODED file: URI;
            // manifests hold decoded plain paths. A scheme-strip
            // regexp alone would leave %20 etc. in place and the
            // pruning joins would never match on tables whose path
            // needs encoding — decode through URI.getPath (the
            // normalizePath rule), with a raw-strip fallback for any
            // string URI.create rejects. One typed map over the
            // skinny metadata frame.
            .as[(String, String, Option[Long], Option[Long],
                 Option[String], Option[String])]
            .map { case (f, c, lo, hi, slo, shi) =>
              (normalizePathSafe(f), c, lo, hi, slo, shi)
            }
            .toDF("file", "column", "lo", "hi", "slo", "shi"))
        if (asDelta) {
          // O(delta): the version's checkpoint holds ONLY the fresh
          // files' rows; [[statsDF]] resolves the chain. Rows for
          // since-dropped files are INERT (every consumer joins stats
          // against an explicit live-file list), so no carried rewrite.
          freshDF match {
            case Some(st) =>
              val parts = math.max(1L,
                fresh.size.toLong * cols.size / 100000L).toInt
              st.repartition(parts)
                .write.mode(SaveMode.Overwrite)
                .parquet(statsCheckDir(path, v))
            case None => dropStatsCheckpoint(path, v)
          }
        } else {
          // FULL checkpoint: consolidate the resolved chain — pruned
          // to files still live (checkpoints must not accumulate
          // dropped-file garbage across intervals) — plus the fresh
          // rows. Never collected: frame-to-frame semi-join.
          val carriedDF: Option[DataFrame] =
            if (!isCarry) None
            else statsDF(meta, path, prev).map { prevSt =>
              prevSt.join(fullCarried.toDF("file"), Seq("file"), "left_semi")
            }
          (carriedDF.toSeq ++ freshDF.toSeq)
            .reduceOption(_ unionByName _) match {
            case Some(st) =>
              // the checkpoint's row count is METADATA-known: (#files ×
              // #cols). Size the write from it — ~10⁵ rows per output
              // file — instead of inheriting the shuffle-partition
              // count, which would write ~32 near-empty files per
              // commit that every subsequent pruning read must list
              // and open. (At 10⁷ files × 4 cols this still fans out
              // to ~400 files — the write and the pruning scan stay
              // distributed.)
              val parts = math.max(1L, newN * cols.size / 100000L).toInt
              st.repartition(parts)
                .write.mode(SaveMode.Overwrite)
                .parquet(statsCheckDir(path, v))
            case None => dropStatsCheckpoint(path, v)
          }
        }
        // the header sidecar is the metadata that lets maintenance
        // commits keep recording the pruning layer and appends keep
        // re-clustering
        writeStatsHeader(path, v, cols,
          if (partitionCols.nonEmpty) partitionCols
          else if (isCarry) partsOf(path, prev)
          else Nil)
      case None =>
        // a crashed, rolled-back commit at this version may have left
        // stats artifacts behind; without a statsKey they would be
        // mis-attributed to THIS commit and prune with stale ranges
        dropStatsArtifacts(path, v)
        if (isCarry) {
          // an UNTRACKED carry commit must not amputate the table's
          // pruning layer (r17): carry the header forward so
          // statsKeyOf/hasStats keep resolving — the fresh files
          // simply have no recorded ranges (unpruned, never wrong).
          // A Replace is a genuine reset.
          carrySidecar(path, statsFile(path, prev), statsFile(path, v))
          // at a checkpoint commit, consolidate the chain's stats by
          // driver file-copy (chain frames are disjoint by
          // construction; stale rows are inert) so the new FULL base
          // is self-contained
          if (!asDelta) consolidateStatsByCopy(path, prev, v)
        }
    }
    writeColmap(path, v, colmap) // None also clears a stale crashed one
    atomicWrite(schemaFile(path, v), newSchema.json)
    if (asDelta)
      publishDelta(path, v, adds = fresh, drops = dropped,
        n = newN, depth = depth, batchId = batchId)
    else
      publishFull(path, v, fullCarried ++ fresh, batchId)
    v
  }

  /** Consolidate the stats chain ending at `fromV` into version `atV`'s
    * checkpoint dir by copying parquet parts (driver IO, no Spark —
    * usable from vacuum and metadata commits). Chain frames hold
    * disjoint file sets by construction; rows for since-dropped files
    * are inert (consumers join against live-file lists). Legacy text
    * sidecars are left in place (their versions are FULL manifests, so
    * the chain ends there and [[statsDF]] still unions them). */
  private def consolidateStatsByCopy(path: String, fromV: Long,
                                     atV: Long): Unit = {
    val (fullV, deltas) = chainOf(path, fromV)
    copyParts(path, (fullV +: deltas.map(_._1)).map(statsCheckDir(path, _)),
      statsCheckDir(path, atV))
  }

  /** Copy the parquet parts of every existing `srcs` dir other than
    * `dst` into `dst` (driver IO, no Spark) — how stats checkpoints
    * and deletion-vector sidecars consolidate across versions. */
  private def copyParts(path: String, srcs: Seq[String], dst: String): Unit = {
    val st = store(path)
    val live = srcs.filter(st.exists)
    if (live.nonEmpty) {
      st.mkdirs(dst)
      live.filterNot(_ == dst).foreach { d =>
        st.list(d)
          .filter(e => !e.isDir && e.name.endsWith(".parquet"))
          .foreach(e => st.copyFile(e.path, st.child(dst, e.name)))
      }
    }
  }

  /** Carry a version's sidecar file forward byte-for-byte, if present. */
  private def carrySidecar(path: String, src: String, dst: String): Unit = {
    val st = store(path)
    if (st.exists(src)) atomicWrite(dst, st.readString(src))
  }

  private def statsFile(path: String, v: Long) =
    store(path).child(snapDir(path), f"v$v%08d.stats")

  /** The version's parquet stats CHECKPOINT (r16): per-file (column,
    * lo, hi, slo, shi) range rows, written distributed at commit time.
    * [[statsPrune]] reads it on the driver for a small table and as a
    * DataFrame above that size (the Delta checkpoint discipline; at
    * 10⁵–10⁷ files the pruning scan itself must be a Spark job). */
  private def statsCheckDir(path: String, v: Long) =
    store(path).child(snapDir(path), f"v$v%08d.statspq")

  /** One chain link's stats frame: the parquet checkpoint read under
    * [[StatsSchema]], else the legacy text sidecar as a local relation
    * (bounded: legacy sidecars predate the checkpoint and are
    * sandbox-scale). */
  private def statsFrameAt(spark: SparkSession, path: String, v: Long)
      : Option[DataFrame] = {
    val ck = statsCheckDir(path, v)
    if (store(path).exists(ck)) Some(spark.read.schema(StatsSchema).parquet(ck))
    else legacyStatsRows(path, v)
      .map(rs => spark.createDataFrame(rs.asJava, StatsSchema))
  }

  /** One chain link's stats rows read on the driver, in
    * [[StatsSchema]]'s layout: the checkpoint's parquet parts through
    * parquet-hadoop over the Hadoop FileSystem (so any table root a
    * [[LogStore]] serves), else the legacy text sidecar. */
  private def statsRowsAt(spark: SparkSession, path: String, v: Long)
      : Option[Seq[Row]] = {
    import org.apache.parquet.example.data.Group
    val st = store(path)
    val ck = statsCheckDir(path, v)
    if (!st.exists(ck)) legacyStatsRows(path, v)
    else {
      val conf = spark.sessionState.newHadoopConf()
      val pconf = new org.apache.parquet.conf.HadoopParquetConfiguration(conf)
      // absent (pre-r18 `slo`/`shi`) and null fields read as null
      def field(g: Group, f: String)(get: Int => Any): Any =
        if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
          get(g.getType.getFieldIndex(f))
        else null
      // the parts a Spark read of the directory lists: hidden and
      // `_`-prefixed names are not data
      Some(st.list(ck).filter(e => !e.isDir && !e.name.startsWith(".") &&
        !e.name.startsWith("_")).flatMap { e =>
        val in = new GroupReader(org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(e.path), conf), pconf).build()
        try Iterator.continually(in.read()).takeWhile(_ != null).map { g =>
          def str(f: String) = field(g, f)(g.getString(_, 0))
          def long(f: String) = field(g, f)(g.getLong(_, 0))
          Row(str("file"), str("column"), long("lo"), long("hi"),
            str("slo"), str("shi"))
        }.toVector
        finally in.close()
      })
    }
  }

  /** parquet-hadoop's example-`Group` reader of one file under the
    * caller's Hadoop conf. (`ParquetReader.builder(support, path)`
    * would load a fresh default Configuration per file: ~8 ms each.) */
  private final class GroupReader(file: org.apache.parquet.io.InputFile,
                                  conf: org.apache.parquet.conf.ParquetConfiguration)
      extends org.apache.parquet.hadoop.ParquetReader.Builder[
        org.apache.parquet.example.data.Group](file, conf) {
    override protected def getReadSupport() =
      new org.apache.parquet.hadoop.example.GroupReadSupport()
  }

  /** The legacy text sidecar's ranges as [[StatsSchema]] rows; None
    * when the version has none. */
  private def legacyStatsRows(path: String, v: Long): Option[Seq[Row]] = {
    val legacy = statsAllText(path, v)
    if (legacy.isEmpty) None
    else Some(legacy.toSeq.map { case ((c, f), (lo, hi)) =>
      Row(f, c, lo, hi, null, null) })
  }

  /** The version's RESOLVED stats as a [[StatsSchema]] frame:
    * the union of its manifest chain's checkpoints — the FULL base's
    * consolidated frame plus each delta commit's fresh-file rows. Rows
    * for since-dropped files may linger until the next checkpoint
    * consolidates; they are INERT because every consumer joins stats
    * against an explicit live-file list (manifest scan or touched
    * set). None when nothing in the chain tracks stats. */
  private def statsDF(spark: SparkSession, path: String, v: Long)
      : Option[DataFrame] = {
    val (fullV, deltas) = chainOf(path, v)
    val frames = (fullV +: deltas.map(_._1))
      .flatMap(statsFrameAt(spark, path, _))
    frames.reduceOption(_ unionByName _)
  }

  /** The version's manifest as a one-column frame (`file`) — pruning
    * joins run against this scan, not a driver list. Chain-resolved
    * distributed: the FULL base is a text scan, delta adds/drops are
    * interval-bounded small sets. */
  private def manifestDF(spark: SparkSession, path: String, v: Long)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val (fullV, deltas) = chainOf(path, v)
    val base = spark.read.text(manifestFile(path, fullV))
      .select(col("value").as("file"))
      .filter(!col("file").startsWith("#") && col("file") =!= "")
    val adds = deltas.flatMap(_._2.adds)
    val drops = deltas.flatMap(_._2.drops)
    val all =
      if (adds.isEmpty) base
      else base.unionByName(adds.toDF("file"))
    if (drops.isEmpty) all
    // add-then-drop inside the chain cancels here too (write-once
    // paths are never re-added)
    else all.join(drops.toDF("file"), Seq("file"), "left_anti")
  }

  /** Whether version `v`'s chain records pruning stats in any format. */
  private def hasStats(path: String, v: Long): Boolean = {
    val (fullV, deltas) = chainOf(path, v)
    (fullV +: deltas.map(_._1)).exists(w =>
      store(path).exists(statsCheckDir(path, w)) ||
        statsAllText(path, w).nonEmpty)
  }

  /** The physical columns version `v` records ranges for, primary
    * first: its stats header's `#key=` and `#cols=`; none without a
    * header. */
  private def statsColumns(path: String, v: Long): Seq[String] = {
    val st = store(path)
    val f = statsFile(path, v)
    if (!st.exists(f)) Nil
    else {
      val lines = st.readString(f).split("\n").toSeq
      def header(k: String) = lines.find(_.startsWith(s"#$k="))
        .map(_.stripPrefix(s"#$k=").trim).filter(_.nonEmpty)
      (header("key").toSeq ++ header("cols").toSeq.flatMap(_.split(","))).distinct
    }
  }

  /** THE stats prune — the only place SnapshotStore consults per-file
    * stats. Left-joins the candidate files (`files`, default every live
    * file of `v`) to version `v`'s resolved stats rows for `key` and
    * returns, sorted and distinct, every candidate `excl` does not
    * exclude. `excl` is a predicate over the stats row's numeric (`lo`,
    * `hi`) and lexicographic (`slo`, `shi`) ranges that holds only when
    * a recorded range PROVES the file holds no matching row; a file
    * with no range for the key is kept (conservative — degrade, never
    * a wrong answer). None when nothing in v's chain records stats —
    * every candidate survives.
    *
    * Size-adaptive, with ONE definition of exclusion: when v's live
    * files × tracked columns (manifest `#n`, stats `#cols`) is at most
    * [[LocalPruneCells]], the chain's stats rows are read on the driver,
    * joined to the candidates in Scala, and `excl` is evaluated over a
    * local relation — the optimizer folds the filter, so the prune runs
    * no job. Above that, the join is a Spark job over the manifest scan
    * and the stats checkpoint, and only the survivors reach the driver;
    * the per-file stats never do. */
  private def statsPrune(spark: SparkSession, path: String, v: Long,
                         key: String, excl: Column,
                         files: Option[Seq[String]] = None)
      : Option[Seq[String]] = {
    import org.apache.spark.sql.functions.col
    val meta = metaSession(spark)
    import meta.implicits._
    val keep = !excl || col("column").isNull
    if (!distributedPrune.value &&
        nFiles(path, v) * math.max(1, statsColumns(path, v).size) <=
          LocalPruneCells) {
      val (fullV, deltas) = chainOf(path, v)
      val links = (fullV +: deltas.map(_._1)).flatMap(statsRowsAt(meta, path, _))
      Option.when(links.nonEmpty) {
        val byFile = links.flatten.filter(_.getString(1) == key)
          .groupBy(_.getString(0))
        val joined = files.getOrElse(manifest(path, v)).flatMap(f =>
          byFile.getOrElse(f, Seq(Row(f, null, null, null, null, null))))
        meta.createDataFrame(joined.asJava, StatsSchema).filter(keep)
          .select("file").as[String].collect().toSeq.distinct.sorted
      }
    } else statsDF(meta, path, v).map { st =>
      files.fold(manifestDF(meta, path, v))(_.toDF("file"))
        .join(st.filter(col("column") === key), Seq("file"), "left")
        .filter(keep).select("file").distinct().as[String].collect()
        .toSeq.sorted
    }
  }

  /** [[statsPrune]]'s exclusion for a numeric window: the file's
    * recorded (lo, hi) range misses [lo, hi]. */
  private def outside(lo: Long, hi: Long): Column = {
    import org.apache.spark.sql.functions.col
    col("lo").isNotNull && (col("hi") < lo || col("lo") > hi)
  }

  /** FILE paths of version `v` that may hold rows `excl` cannot rule
    * out — [[statsPrune]] over every live file (on the driver for a
    * small table, a Spark job above that). With no stats at all, every
    * file survives. */
  private def prunedFiles(spark: SparkSession, path: String, v: Long,
                          key: String, excl: Column): Seq[String] =
    statsPrune(spark, path, v, key, excl).getOrElse(manifest(path, v))

  private def dropStatsArtifacts(path: String, v: Long): Unit = {
    val st = store(path)
    st.delete(statsFile(path, v)): Unit
    st.delete(colmapFile(path, v)): Unit
    dropStatsCheckpoint(path, v)
    dropDvDir(path, v)
    st.delete(dvBaseFile(path, v)): Unit // a crashed restore's marker
    st.delete(schemaFile(path, v)): Unit
  }

  private def dropDvDir(path: String, v: Long): Unit =
    store(path).deleteRecursively(dvDir(path, v))

  private def dropStatsCheckpoint(path: String, v: Long): Unit =
    store(path).deleteRecursively(statsCheckDir(path, v))

  /** input_file_name() yields a file: URI; manifests hold plain paths. */
  private def normalizePath(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

  /** [[normalizePath]] with the raw-strip fallback for strings
    * URI.create rejects — the shared rule for every path that must
    * compare equal with a manifest line. */
  private def normalizePathSafe(p: String): String =
    try normalizePath(p)
    catch { case _: Exception => p.replaceFirst("^file:(//)?", "") }

  /** LEGACY text-sidecar body reader: per-file ranges keyed (column,
    * file). Versions written since r16 keep only the #key=/#cols=
    * header here (ranges live in the parquet checkpoint); this parses
    * pre-checkpoint sidecars so old tables stay readable. Single-
    * column (3-field) sidecars attribute their lines to the `#key=`
    * column; multi-column sidecars tag each line. */
  private def statsAllText(path: String, v: Long)
      : Map[(String, String), (Long, Long)] = {
    val st = store(path)
    val f = statsFile(path, v)
    if (!st.exists(f)) Map.empty
    else {
      val lines = st.readString(f).split("\n").toSeq.map(_.trim)
        .filter(_.nonEmpty)
      val primary = lines.find(_.startsWith("#key="))
        .map(_.stripPrefix("#key=").trim).getOrElse("")
      lines.filterNot(_.startsWith("#")).map { l =>
        val a = l.split("\t")
        if (a.length == 3) (primary, a(0)) -> (a(1).toLong, a(2).toLong)
        else (a(1), a(0)) -> (a(2).toLong, a(3).toLong)
      }.toMap
    }
  }

  /** PHYSICAL partition columns of version `v` (the `#parts=` header
    * line), Nil when the table is unpartitioned. */
  private def partsOf(path: String, v: Long): Seq[String] = {
    val st = store(path)
    val f = statsFile(path, v)
    if (v < 1 || !st.exists(f)) Nil
    else st.readString(f).split("\n").find(_.startsWith("#parts="))
      .map(_.stripPrefix("#parts=").trim).filter(_.nonEmpty)
      .map(_.split(",").toSeq).getOrElse(Nil)
  }

  /** The table's declared partition columns at a version, as LOGICAL
    * names (r18). Empty when unpartitioned. */
  def partitionColumns(path: String, version: Option[Long] = None)
      : Seq[String] = {
    val v = version.getOrElse(latestVersion(path))
    if (v < 1) Nil
    else {
      val m = columnMapping(path, v)
      partsOf(path, v).flatMap(p => m match {
        case None => Some(p)
        case Some(mm) => mm.collectFirst { case (l, ph) if ph == p => l }
      })
    }
  }

  /** The column a version's stats sidecar tracks (its `#key=` header),
    * if any — lets maintenance commits preserve the pruning layer. */
  private def statsKeyOf(path: String, v: Long): Option[String] =
    statsColumns(path, v).headOption

  // ——— column mapping (r16): rename/drop without rewriting data ———

  private def colmapFile(path: String, v: Long) =
    store(path).child(snapDir(path), f"v$v%08d.colmap")

  /** The version's COLUMN MAPPING — ordered (logical, physical) pairs
    * (Delta/Iceberg column mapping): data files store columns under
    * STABLE physical names; [[renameColumn]]/[[dropColumn]] are
    * metadata-only commits that re-point or remove the logical name.
    * None = no mapping layer (identity — every table starts here and
    * pays zero cost until the first rename/drop). */
  def columnMapping(path: String, v: Long): Option[Seq[(String, String)]] = {
    val st = store(path)
    val f = colmapFile(path, v)
    if (!st.exists(f)) None
    else Some(st.readString(f).split("\n").toSeq
      .map(_.trim).filter(_.nonEmpty)
      .map { l => val a = l.split("\t"); (a(0), a(1)) })
  }

  /** Logical → physical column name at version `v`. Identity on an
    * unmapped table; on a mapped one the name must be a VISIBLE
    * logical column (a dropped column's physical name is not
    * addressable through the public API). */
  private def physicalOf(path: String, v: Long, name: String): String =
    columnMapping(path, v) match {
      case None => name
      case Some(m) => m.collectFirst { case (l, p) if l == name => p }
        .getOrElse(throw new IllegalArgumentException(
          s"$path v$v: no column '$name' (visible: ${m.map(_._1).mkString(",")})"))
    }

  /** Rename a frame's columns logical → physical (positional, order
    * preserved); columns with no mapping entry — brand-new in this
    * batch — keep their names (they become their own physical name). */
  private def toPhysicalDf(path: String, v: Long, df: DataFrame): DataFrame =
    columnMapping(path, v) match {
      case None => df
      case Some(m) =>
        val mm = m.toMap
        // a NEW logical column may not reuse a physical name the
        // mapping already assigns to ANOTHER logical column: it would
        // land under that physical name and be PRESENTED as the other
        // column — silent misattribution. (Delta avoids this with
        // synthetic physical ids; here the append is rejected.)
        val clash = df.columns.filter(c =>
          !mm.contains(c) && m.exists(_._2 == c))
        require(clash.isEmpty,
          s"append column(s) ${clash.mkString(", ")} collide with the " +
            "physical name of a renamed/dropped column - rename the new " +
            "column (physical names are reserved for the table's life)")
        df.toDF(df.columns.toSeq.map(c => mm.getOrElse(c, c)): _*)
    }

  /** PRESENT a physical frame under the mapping's logical names, in
    * mapping order; physical columns with no logical name (dropped)
    * disappear. `extra` columns (e.g. `_change`) pass through last. */
  private def presentDf(df: DataFrame,
                        mapping: Option[Seq[(String, String)]],
                        extra: Seq[String] = Nil): DataFrame =
    mapping match {
      case None => df
      case Some(m) =>
        import org.apache.spark.sql.functions.col
        val have = df.columns.toSet
        df.select(m.collect { case (l, p) if have(p) => col(p).as(l) } ++
          extra.filter(have).map(col): _*)
    }

  /** The mapping a commit of (already-physical) `df` should publish:
    * the previous mapping extended with identity entries for columns
    * this batch introduces. None stays None (unmapped tables never
    * grow a colmap implicitly). */
  private def extendedMapping(prev: Option[Seq[(String, String)]],
                              df: DataFrame): Option[Seq[(String, String)]] =
    prev.map { m =>
      val known = m.map(_._2).toSet
      m ++ df.columns.toSeq.filterNot(known).map(c => (c, c))
    }

  /** RENAME a column — a METADATA-ONLY commit (Delta's column
    * mapping): the new version carries the live manifest and stats
    * byte-for-byte (physical names in files never change — zero data
    * rewritten at any scale) and re-points the logical name. Keyed
    * [[readChanges]] across the rename classifies via the stable
    * physical ids, so a pure rename yields an EMPTY changelog; reads
    * of PRE-rename versions still present the old name (each version
    * owns its mapping). */
  def renameColumn(spark: SparkSession, path: String,
                   from: String, to: String): Long = withLock(path) {
    val v = latestVersion(path)
    require(v > 0, s"no committed snapshot under $path")
    val m = mappingOrIdentity(spark, path, v)
    require(m.exists(_._1 == from), s"renameColumn: no column '$from'")
    require(!m.exists(_._1 == to), s"renameColumn: '$to' already exists")
    requireUnconstrained(path, from, "renameColumn")
    metadataCommit(path, v,
      m.map { case (l, p) => (if (l == from) to else l, p) })
  }

  /** CHECK constraints are logical-name SQL expressions: renaming or
    * dropping a referenced column would leave them unresolvable and
    * fail every later commit (Delta rejects the same way). Word-level
    * text match — conservative: a false positive costs one
    * drop+re-add, a false negative would brick the table's commits. */
  private def requireUnconstrained(path: String, colName: String,
                                   op: String): Unit = {
    val hit = tableConstraints(path).filter { case (_, e) =>
      ("""\b""" + java.util.regex.Pattern.quote(colName) + """\b""").r
        .findFirstIn(e).nonEmpty
    }
    require(hit.isEmpty,
      s"$op: column '$colName' is referenced by constraint(s) " +
        s"${hit.map(_._1).mkString(", ")} — drop them first, re-add " +
        "against the new name")
  }

  /** DROP a column — metadata-only, like [[renameColumn]]: the
    * physical data stays in the files (time travel to earlier
    * versions still shows it; vacuum's retention applies as usual),
    * but the live version no longer presents it, appends no longer
    * need it, and keyed CDC no longer diffs it. */
  def dropColumn(spark: SparkSession, path: String, name: String): Long =
    withLock(path) {
      val v = latestVersion(path)
      require(v > 0, s"no committed snapshot under $path")
      val m = mappingOrIdentity(spark, path, v)
      require(m.exists(_._1 == name), s"dropColumn: no column '$name'")
      require(m.size > 1, s"dropColumn: cannot drop the last column")
      requireUnconstrained(path, name, "dropColumn")
      metadataCommit(path, v, m.filterNot(_._1 == name))
    }

  /** The live mapping, or the identity mapping synthesized from the
    * version's (merged) physical schema on first rename/drop. */
  private def mappingOrIdentity(spark: SparkSession, path: String,
                                v: Long): Seq[(String, String)] =
    columnMapping(path, v).getOrElse(
      tableSchema(spark, path, v).fieldNames.toSeq.map(c => (c, c)))

  /** Publish version v+1 with the SAME files and stats as v and a new
    * column mapping — an O(1) DELTA manifest with zero changes (r17);
    * the stats chain resolves through it (rows for a dropped physical
    * column linger inert — consumers look up live columns only). A
    * crash before the pointer swap rolls back exactly like a data
    * commit (heal drops the manifest + sidecar artifacts). */
  private def metadataCommit(path: String, v: Long,
                             mapping: Seq[(String, String)]): Long = {
    dropDvDir(path, v + 1) // stale crashed tombstones (commitLocked rule)
    // the stats header names PHYSICAL columns; a dropColumn must not
    // carry a dropped column forward as the tracked key — the next
    // mergeCommit/deleteCommit would aggregate min/max over a column
    // absent from its fresh files and fail. Keep only columns the
    // new mapping still presents; promote the first survivor to
    // #key= if the key itself was dropped; no survivors → no header.
    val live = mapping.map(_._2).toSet
    val kept = statsColumns(path, v).filter(live)
    // partition columns persist through rename/drop commits too —
    // minus any physical column the new mapping no longer presents
    if (kept.nonEmpty)
      writeStatsHeader(path, v + 1, kept, partsOf(path, v).filter(live))
    publishSameFiles(path, v, Some(mapping))
  }

  /** The tail every metadata-only commit shares: version v+1 lists v's
    * files unchanged, carries v's schema sidecar, and records
    * `colmap`; it publishes as a zero-change DELTA manifest, or — at
    * the checkpoint interval — consolidates the stats chain and
    * publishes a FULL one. The caller has already written v+1's stats
    * header and any mask sidecar. Returns v+1. */
  private def publishSameFiles(path: String, v: Long,
                               colmap: Option[Seq[(String, String)]]): Long = {
    val nv = v + 1
    writeColmap(path, nv, colmap)
    carrySidecar(path, schemaFile(path, v), schemaFile(path, nv))
    val depth = manifestDepth(path, v) + 1
    if (depth < manifestCheckpointInterval)
      publishDelta(path, nv, adds = Nil, drops = Nil,
        n = nFiles(path, v), depth = depth, batchId = None)
    else {
      consolidateStatsByCopy(path, v, nv)
      publishFull(path, nv, manifest(path, v), None)
    }
    nv
  }

  /** The constant-size stats header sidecar: WHICH physical columns a
    * version tracks (`#key=` primary = `cols.head`, `#cols=` the full
    * list, `#parts=` partition columns, r18). */
  private def writeStatsHeader(path: String, v: Long, cols: Seq[String],
                               parts: Seq[String]): Unit =
    atomicWrite(statsFile(path, v),
      s"#key=${cols.head}\n" +
        (if (cols.size > 1) s"#cols=${cols.mkString(",")}\n" else "") +
        (if (parts.nonEmpty) s"#parts=${parts.mkString(",")}\n" else ""))

  private def writeColmap(path: String, v: Long,
                          mapping: Option[Seq[(String, String)]]): Unit =
    mapping match {
      case Some(m) => atomicWrite(colmapFile(path, v),
        m.map { case (l, p) => s"$l\t$p" }.mkString("\n") + "\n")
      case None =>
        store(path).delete(colmapFile(path, v)): Unit
    }

  // ——— deletion vectors (r17): row masks instead of file rewrites ———

  private def dvDir(path: String, v: Long) =
    store(path).child(snapDir(path), f"v$v%08d.dvpq")

  /** Deletion-vector RESET marker (r18, written by [[restore]]): the
    * masks visible at version v are the sidecars in [base, v] where
    * base is the newest marker ≤ v — a restore consolidates the
    * restored version's masks into ITS OWN sidecar and plants a
    * marker, so the rolled-back versions' masks stop applying from
    * the restore forward while time travel BEFORE it still unions
    * from the previous base. */
  private def dvBaseFile(path: String, v: Long) =
    store(path).child(snapDir(path), f"v$v%08d.dvbase")

  /** Deletion-vector visibility at version `v`, from ONE directory
    * listing: the newest reset marker ≤ v (0 when none), and the
    * versions whose tombstone sidecars are VISIBLE at v — those in
    * [marker, v], ascending. */
  private def dvVisible(path: String, v: Long): (Long, Seq[Long]) = {
    val names = store(path).list(snapDir(path)).map(_.name)
    def numbered(ext: String) =
      names.filter(_.matches(s"v\\d{8}\\.$ext")).map(_.substring(1, 9).toLong)
    val base = numbered("dvbase").filter(_ <= v).foldLeft(0L)(math.max)
    (base, numbered("dvpq").filter(w => w <= v && w >= base).sorted)
  }

  /** All tombstones visible at version `v`: (file, row_index) rows,
    * keyed by the scan-reported `_metadata.file_path` string. Rows for
    * files a later rewrite dropped are INERT — every application is an
    * anti-join against rows actually read from live files. */
  private def dvFrame(spark: SparkSession, path: String, v: Long)
      : Option[DataFrame] = {
    val dirs = dvVisible(path, v)._2.map(dvDir(path, _))
      .filter(store(path).exists)
    if (dirs.isEmpty) None
    else Some(spark.read.schema(DvSchema).parquet(dirs: _*))
  }

  /** Apply version `v`'s deletion vectors to a frame scanned from this
    * table's parquet files: anti-join on the hidden (_metadata
    * .file_path, _metadata.row_index) identity — position-stable,
    * distributed, and a no-op plan when the table has no tombstones.
    * The tombstone side is small (masked rows, not table rows), so the
    * anti-join broadcasts. */
  private def maskDeleted(spark: SparkSession, path: String, v: Long,
                          df: DataFrame): DataFrame =
    dvFrame(spark, path, v).fold(df)(joinMask(df, _, "left_anti"))

  /** Join a frame scanned from this table's files to tombstone rows on
    * the hidden (_metadata.file_path, _metadata.row_index) identity:
    * `left_anti` drops the masked rows, `left_semi` keeps only them. */
  private def joinMask(df: DataFrame, mask: DataFrame, how: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("_dv_file", col("_metadata.file_path"))
      .withColumn("_dv_row", col("_metadata.row_index"))
      .join(mask.select(col("file").as("_dv_file"),
        col("row_index").as("_dv_row")),
        Seq("_dv_file", "_dv_row"), how)
      .drop("_dv_file", "_dv_row")
  }

  /** Tombstone rows minus those already in `masks` (the same
    * (file, row_index) identity, on the tombstone frames themselves). */
  private def minusMasks(rows: DataFrame, masks: Option[DataFrame]): DataFrame =
    masks.fold(rows)(m =>
      rows.join(m.select("file", "row_index"), Seq("file", "row_index"), "left_anti"))

  /** Row-level DELETE as a DELETION-VECTOR commit (r17) — the
    * Delta/Iceberg answer to "a 1-row GDPR takedown in a 1 GB file
    * costs a 1 GB rewrite" that [[deleteCommit]] pays: matching rows
    * are MARKED in a per-version (file, row_index) parquet sidecar and
    * every read path anti-joins the mask; the commit writes ZERO data
    * files (an O(1) zero-change delta manifest + the tombstone rows).
    * Stats pruning bounds the position scan to key-overlapping files.
    * Pinned readers keep their snapshot (masks are versioned — time
    * travel to a pre-delete version still shows the rows); keyed
    * [[readChanges]] across the commit emits the masked rows as
    * `_change='delete'`. Tombstones MATERIALIZE at the next rewrite of
    * their file ([[compact]], merge/delete rewrites) and ride
    * [[vacuum]]'s boundary consolidation until then. Masked rows stay
    * inside per-file min/max stats until materialization — pruning
    * overcounts, never misses. Keys absent (or already masked) are a
    * no-op. Returns the new version (== old if nothing matched). */
  def deleteVectorCommit(spark: SparkSession, path: String, keys: DataFrame,
                         key: String): Long =
    withLock(path) {
      import org.apache.spark.sql.functions.col
      val v = latestVersion(path)
      require(v > 0, s"no committed snapshot under $path")
      val pk = physicalOf(path, v, key)
      val ks = toPhysicalDf(path, v, keys).select(col(pk)).distinct()
      val (bLo, bHi) =
        batchBounds(ks, pk, s"deleteVectorCommit: empty key set for $path")
      val touched = prunedFiles(spark, path, v, pk, outside(bLo, bHi))
      if (touched.isEmpty) v
      else {
        // positions of matching LIVE rows; rows already masked are
        // excluded so (file, row) stays unique across all sidecars.
        // Tombstones carry BOTH path forms: `file` verbatim from
        // _metadata.file_path (the masking join key) and `path` in
        // manifest form (what CDC compares against manifest diffs).
        // `_metadata` must be projected BEFORE any join (it is a
        // hidden per-relation column), so the already-masked anti-join
        // runs on the projected columns rather than via maskDeleted.
        import spark.implicits._
        val scanned = readVersionFiles(spark, path, v, touched)
          .select(col(pk),
            col("_metadata.file_path").as("file"),
            col("_metadata.row_index").as("row_index"))
        // r18: persisted — the empty-set probe and the sidecar write
        // otherwise each re-run the table scan + mask + key semi-join
        val positions = minusMasks(scanned, dvFrame(spark, path, v))
          .join(ks, Seq(pk), "left_semi")
          .select("file", "row_index").as[(String, Long)]
          .map { case (f, r) => (f, normalizePathSafe(f), r) }
          .toDF("file", "path", "row_index").persist()
        try {
          if (positions.isEmpty) v // keys absent or already masked
          else {
            positions.coalesce(1).write.mode(SaveMode.Overwrite)
              .parquet(dvDir(path, v + 1))
            // carry the stats header + column mapping like any other
            // carry commit — the table's tracking must survive
            carrySidecar(path, statsFile(path, v), statsFile(path, v + 1))
            publishSameFiles(path, v, columnMapping(path, v))
          }
        } finally positions.unpersist(false)
      }
    }

  /** Rewrite `c` (of type `dt`) into a form whose to_json serialization
    * is canonical: every MapType at ANY nesting depth becomes its entry
    * array sorted by key (sort_array over array<struct<key,value>>
    * orders by the first field), so two equal maps built in different
    * insertion orders hash identically. Null maps/structs stay null — a
    * null map must not collide with an empty one. Types that carry no
    * map anywhere return `c` unchanged: the common scalar/struct/array
    * table pays zero plan cost. */
  private def canonicalize(c: org.apache.spark.sql.Column,
                           dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case ArrayType(et, _) => hasMap(et)
      case StructType(fs) => fs.exists(f => hasMap(f.dataType))
      case _ => false
    }
    def go(c0: org.apache.spark.sql.Column, t: DataType)
        : org.apache.spark.sql.Column = t match {
      case MapType(kt, vt, _) =>
        sort_array(transform(map_entries(c0), e =>
          struct(go(e.getField("key"), kt).as("key"),
            go(e.getField("value"), vt).as("value"))))
      case ArrayType(et, _) if hasMap(et) =>
        transform(c0, x => go(x, et))
      case st: StructType if hasMap(st) =>
        when(c0.isNull, lit(null)).otherwise(struct(st.fields.map(f =>
          go(c0.getField(f.name), f.dataType).as(f.name)).toSeq: _*))
      case _ => c0
    }
    if (hasMap(dt)) go(c, dt) else c
  }

  /** Changelog (CDC) read: the row-level DELTA between two committed
    * versions, read in O(changed files) — never O(table). Data files
    * are immutable, so the manifest SET DIFFERENCE is exact file-level
    * change pruning: files carried between the versions cannot hold
    * changed rows and are never opened (the same sidecar discipline
    * that makes [[mergeCommit]] O(touched data) makes this read
    * O(touched data) — a point-key merge at 100 TB yields a CDC read
    * of one removed + one added file).
    *
    * Keyless: every row of an added file is an `insert`, every row of
    * a removed file a `delete` — exact for any table, but a compaction
    * (same rows, new files) shows up as delete+insert pairs.
    * With `key` (the [[mergeCommit]] key-unique contract): removed and
    * added rows are full-outer-joined on the key and classified
    * insert / update / delete, with payload-identical rewrites — a
    * compaction, or a merge's carried survivors — SUPPRESSED, so a
    * pure compaction produces an EMPTY changelog. Output: the table's
    * columns (new-side payload for insert/update, old-side for
    * delete) plus `_change`. */
  def readChanges(spark: SparkSession, path: String, fromV: Long, toV: Long,
                  key: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromV >= 1 && toV >= fromV,
      s"readChanges: need 1 <= fromV <= toV, got $fromV..$toV")
    val (added, removed) = fileDiff(path, fromV, toV)
    // Deletion-vector masks are VERSIONED (r17): the removed side masks
    // at fromV (rows already dead then were reported in an earlier
    // delta), the added side at toV (rows added-then-masked inside the
    // range were never visible at either endpoint).
    val ins = readDiffSide(spark, path, fromV, toV, added, toV)
    // rows TOMBSTONED inside the range in files still carried at toV:
    // deletes with no file-level change (a deleteVectorCommit's whole
    // delta). Files the range itself added/removed are handled by the
    // file diff above; (file,row) uniqueness across sidecars means no
    // tombstoned row can also be masked at fromV.
    // a RESTORE inside the range (r18) resets the mask base: sidecars
    // after the reset may RE-CARRY masks already active at fromV (the
    // restore's consolidated copy) — anti-join them away; and masks
    // active at fromV but gone at toV (rolled back by the restore)
    // RESURRECT their rows as inserts.
    val (base, dvs) = dvVisible(path, toV)
    val resetInRange = base > fromV
    // the rows of `masks` in files CARRIED through the range, read from
    // toV's files
    def carriedRows(masks: DataFrame): Option[DataFrame] = {
      import spark.implicits._
      val carried = masks.select("path").distinct().as[String].collect()
        .toSeq.filterNot(added.toSet).filterNot(removed.toSet).sorted
      if (carried.isEmpty) None
      else Some(joinMask(readVersionFiles(spark, path, toV, carried),
        masks, "left_semi"))
    }
    val dvNewDirs = dvs.filter(_ > fromV)
      .map(dvDir(path, _)).filter(store(path).exists)
    val dvDel: Option[DataFrame] =
      if (dvNewDirs.isEmpty) None
      else carriedRows(minusMasks(
        spark.read.schema(DvSchema).parquet(dvNewDirs: _*),
        if (resetInRange) dvFrame(spark, path, fromV) else None))
    // resurrection arm: only a restore can UNMASK rows in place (files
    // the range itself added/removed ride the file diff)
    val dvRes: Option[DataFrame] =
      if (!resetInRange) None
      else dvFrame(spark, path, fromV).flatMap(old =>
        carriedRows(minusMasks(old, dvFrame(spark, path, toV))))
    val ins1 = dvRes.foldLeft(ins)(
      _.unionByName(_, allowMissingColumns = true))
    val del = dvDel.foldLeft(readDiffSide(spark, path, fromV, toV, removed, fromV))(
      _.unionByName(_, allowMissingColumns = true))
    require(!ins1.columns.contains("_change") &&
      !del.columns.contains("_change"),
      "readChanges: the table already has a _change column (reserved)")
    // column mapping (r16): classification runs on the STABLE physical
    // names (a rename between fromV and toV is a metadata-only commit —
    // identical manifests, empty delta; rows that DID change join on
    // the same physical id on both sides), and the output presents
    // toV's logical names. The caller's key is logical as of toV.
    val delta = key.map(physicalOf(path, toV, _)) match {
      case None =>
        // allowMissingColumns: versions may differ in schema (columns
        // added between commits) — the missing side null-fills, the
        // Delta CDF convention.
        ins1.withColumn("_change", lit("insert"))
          .unionByName(del.withColumn("_change", lit("delete")),
            allowMissingColumns = true)
      case Some(k) =>
        // Schema evolution (r15): the keyed variant hashes only the
        // COMMON payload columns — a column present on one side only
        // cannot distinguish an update from an identical rewrite, so
        // it is excluded from change detection and NULL-filled on the
        // side that lacks it (Delta CDF's union semantics). A rewrite
        // that differs ONLY in a fresh column's values is therefore
        // suppressed — by design: the old rows never carried the
        // column, there is nothing to diff against.
        // Payload equality is sha2(to_json(...)) over a CANONICALIZED
        // struct: map columns serialize in insertion order (two equal
        // maps built in different orders produce different JSON), so
        // [[canonicalize]] rewrites every MapType — at any nesting
        // depth — to its entry array sorted by key before hashing.
        // Scalars/structs/arrays pass through (parquet order is the
        // row's order, already deterministic).
        val insCols = ins1.columns.toSeq
        val delCols = del.columns.toSeq
        val cols = insCols ++ delCols.filterNot(insCols.contains)
        require(insCols.contains(k) && delCols.contains(k),
          s"readChanges: key $k missing on one side " +
            s"(new: ${insCols.mkString(",")}; old: ${delCols.mkString(",")})")
        val common = insCols.filter(delCols.contains).filterNot(_ == k)
        def side(df: DataFrame, tag: String) = {
          val have = df.columns.toSet
          val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
          df.select(
            col(k).as("_k"),
            struct(cols.map(c =>
              (if (have(c)) col(c) else lit(null)).as(c)): _*).as(s"_row_$tag"),
            sha2(to_json(struct(common.map(c =>
              canonicalize(col(c), byName(c)).as(c)): _*)), 256).as(s"_h_$tag"))
        }
        side(del, "o").join(side(ins1, "n"), Seq("_k"), "full")
          .withColumn("_change",
            when(col("_row_o").isNull, "insert")
              .when(col("_row_n").isNull, "delete")
              .when(col("_h_o") =!= col("_h_n"), "update"))
          .filter(col("_change").isNotNull) // identical rewrite → no change
          // whole-struct nullness picks the side (a field-level
          // coalesce would leak old values into null NEW fields)
          .select(cols.map(c =>
            when(col("_row_n").isNotNull, col(s"_row_n.$c"))
              .otherwise(col(s"_row_o.$c")).as(c)) :+
            col("_change"): _*)
    }
    presentDf(delta, columnMapping(path, toV), extra = Seq("_change"))
  }

  /** VERSION-ATTRIBUTED changelog (r17 — Delta CDF's `_commit_version`
    * / `_commit_timestamp` columns): per-commit deltas for every
    * version in (fromV, toV], each row stamped with the version and
    * commit wall-clock that produced it. Semantics are Delta's: every
    * COMMIT's changes appear (a row updated at v2 and reverted at v3
    * shows both updates, where the coalesced [[readChanges]] range
    * suppresses the round trip). Each step is the O(delta) chain fast
    * path when available; the plan unions (toV − fromV) step diffs —
    * bounded by retention, the window this read exists for. */
  def readChangesVersioned(spark: SparkSession, path: String,
                           fromV: Long, toV: Long,
                           key: Option[String] = None): DataFrame = {
    require(fromV >= 1 && toV > fromV,
      s"readChangesVersioned: need 1 <= fromV < toV, got $fromV..$toV")
    ((fromV + 1) to toV).map { w =>
      stampCommit(path)(readChanges(spark, path, w - 1, w, key), w)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Delta CDF's `_commit_version` / `_commit_timestamp` columns for
    * rows that version `w` produced. */
  private def stampCommit(path: String)(df: DataFrame, w: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    df.withColumn("_commit_version", lit(w))
      .withColumn("_commit_timestamp",
        lit(new java.sql.Timestamp(commitTime(path, w))))
  }

  /** [[changeFeed]] with version attribution: the bootstrap (when the
    * baseline predates retention) stamps the anchor version, the rest
    * is [[readChangesVersioned]]. */
  def changeFeedVersioned(spark: SparkSession, path: String,
                          fromV: Long, toV: Long,
                          key: Option[String] = None): DataFrame =
    feed(spark, path, fromV, toV, stampCommit(path))(
      readChangesVersioned(spark, path, _, _, key))

  /** The CHANGE FEED for the inclusive version range [fromV, toV] —
    * the shared semantics behind the registered source's
    * `readChangeFeed` relation AND the streaming source's micro-batches
    * (r17). `fromV` is INCLUSIVE (Delta's startingVersion): the diff
    * baseline is `fromV − 1`, and a feed whose baseline predates
    * retention (baseline 0, or vacuumed) BOOTSTRAPS with the oldest
    * retained version's rows as inserts, unioned with the changes from
    * that anchor forward. */
  def changeFeed(spark: SparkSession, path: String, fromV: Long, toV: Long,
                 key: Option[String] = None): DataFrame =
    feed(spark, path, fromV, toV, (df, _) => df)(
      readChanges(spark, path, _, _, key))

  /** The one body behind [[changeFeed]] and [[changeFeedVersioned]]:
    * `diff(baseline, toV)` when the baseline fromV − 1 is retained,
    * else the anchor version's rows as inserts (passed through `stamp`
    * with the anchor) unioned with `diff(anchor, toV)`. */
  private def feed(spark: SparkSession, path: String, fromV: Long, toV: Long,
                   stamp: (DataFrame, Long) => DataFrame)
                  (diff: (Long, Long) => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val baseline = fromV - 1
    val retained = versions(path)
    require(retained.nonEmpty && toV >= 1,
      s"changeFeed: no committed snapshot under $path")
    val oldest = retained.min
    require(toV >= oldest,
      s"changeFeed: endingVersion $toV predates retention " +
        s"(oldest retained version is $oldest)")
    if (baseline >= oldest) diff(baseline, toV)
    else {
      val anchor = math.min(math.max(oldest, 1L), toV)
      val boot = stamp(read(spark, path, Some(anchor))
        .withColumn("_change", lit("insert")), anchor)
      if (toV <= anchor) boot
      else boot.unionByName(diff(anchor, toV), allowMissingColumns = true)
    }
  }

  /** Rows APPENDED in (fromV, toV] — the streaming-tail read for
    * append-mostly tables (Delta's plain `readStream` semantics): the
    * rows of files the range ADDED, read directly (no diff join).
    * A range that also REMOVED files saw an update/delete/compaction;
    * its added files then re-carry old rows, so delivering them as
    * appends would duplicate — rejected with guidance (Delta's "data
    * update detected" rule) unless `ignoreChanges` opts into exactly
    * Delta's relaxation: added-file rows delivered as-is, re-delivery
    * of rewritten rows accepted by the caller's idempotent sink. */
  def readAppends(spark: SparkSession, path: String, fromV: Long, toV: Long,
                  ignoreChanges: Boolean = false): DataFrame = {
    require(fromV >= 1 && toV >= fromV,
      s"readAppends: need 1 <= fromV <= toV, got $fromV..$toV")
    val (added, removed) = fileDiff(path, fromV, toV)
    if (!ignoreChanges)
      require(removed.isEmpty,
        s"readAppends: $path v$fromV..v$toV removed ${removed.size} " +
          "file(s) (update/delete/compaction) - the appended-rows " +
          "stream would duplicate rewritten rows; use readChangeFeed " +
          "for exact deltas, or ignoreChanges to accept re-delivery")
    presentDf(readDiffSide(spark, path, fromV, toV, added, toV),
      columnMapping(path, toV))
  }

  /** Net (added, removed) files of the range (fromV, toV], sorted. The
    * O(delta) fast path (r17): when toV's manifest chain passes through
    * fromV, the sets are the chain's delta lines — a streaming
    * micro-batch or stepped consumer plans its read without
    * materializing either endpoint's file list. A FULL checkpoint
    * inside the range falls back to the exact endpoint
    * set-difference. */
  private def fileDiff(path: String, fromV: Long, toV: Long)
      : (Seq[String], Seq[String]) =
    changedFiles(path, fromV, toV) match {
      case Some((a, r)) => (a.sorted, r.sorted)
      case None =>
        val before = manifest(path, fromV)
        val after = manifest(path, toV)
        (after.filterNot(before.toSet).sorted,
          before.filterNot(after.toSet).sorted)
    }

  /** One side of a change read: `files` under version `maskV`'s schema
    * sidecar and masks. The sidecar schema matters — a range spanning
    * several commits reads schema-heterogeneous files, and one-footer
    * inference would nondeterministically drop an evolved column. An
    * empty side is an empty frame under toV's schema, anchored on any
    * file (resolved only on that no-change edge: a pure metadata
    * commit or identical manifests). */
  private def readDiffSide(spark: SparkSession, path: String, fromV: Long,
                           toV: Long, files: Seq[String], maskV: Long): DataFrame =
    if (files.nonEmpty)
      maskDeleted(spark, path, maskV, readVersionFiles(spark, path, maskV, files))
    else readVersionFiles(spark, path, toV,
      Seq(manifest(path, toV).headOption
        .getOrElse(manifest(path, fromV).head))).limit(0)

  // ——— incremental consumers: checkpointed changelog reads ———

  private def consumerFile(path: String, id: String) = {
    require(id.matches("[A-Za-z0-9_-]+"), s"consumer id '$id'")
    store(path).child(store(path).child(path, "_consumers"), id)
  }

  /** The last version consumer `id` acknowledged, or 0 (nothing). */
  def consumerVersion(path: String, id: String): Long = {
    val st = store(path)
    val f = consumerFile(path, id)
    if (st.exists(f)) st.readString(f).trim.toLong else 0L
  }

  /** Incremental-ETL read: everything that changed since consumer `id`
    * last acknowledged, as (changes, toVersion). First call returns
    * the WHOLE live table as inserts (from version 0 there is no
    * "before"). The consumer processes the frame, then calls
    * [[ackChanges]] with the returned version — ack-after-process
    * gives at-least-once delivery (a crash between the two re-delivers
    * the same delta; an idempotent downstream — e.g. a keyed upsert —
    * makes it effectively exactly-once, the streamSink batch-id
    * pattern at the consumer side). Returns changes=None when the
    * consumer is already at the live version.
    *
    * Retention contract: the delta needs BOTH endpoint manifests, so
    * [[vacuum]]'s `keepVersions` must exceed the slowest consumer's
    * lag — a consumer behind the retention window fails fast on the
    * missing manifest (Delta semantics) and must re-bootstrap. */
  def consumeChanges(spark: SparkSession, path: String, id: String,
                     key: Option[String] = None,
                     maxStep: Long = Long.MaxValue)
      : (Option[DataFrame], Long) = {
    val from = consumerVersion(path, id)
    // maxStep bounds how far one delivery advances. maxStep = 1 is the
    // EXACTLY-ONCE stepping for an ack-after-process consumer whose
    // sink dedupes on the delivered version (CdcTail): a crash between
    // sink and ack re-delivers the IDENTICAL single-version delta with
    // the identical id, so the sink's batch-id rule skips it — whereas
    // a head-coalesced redelivery would be a WIDER range under a LARGER
    // id and its already-landed prefix would duplicate. The default
    // keeps the batch consumers' one-coalesced-delta semantics.
    val head = latestVersion(path)
    val to = if (head - from > maxStep) from + maxStep else head
    if (to <= from) (None, from)
    else if (from == 0L) {
      // the bootstrap must anchor at a RETAINED version: a stepped
      // bootstrap (maxStep = 1 → v1) of a vacuumed table jumps forward
      // to the oldest manifest still on disk
      val bootV = math.max(versions(path).min, to)
      val boot = read(spark, path, Some(bootV))
      require(!boot.columns.contains("_change"),
        "consumeChanges: the table already has a _change column (reserved)")
      (Some(boot
        .withColumn("_change", org.apache.spark.sql.functions.lit("insert"))),
        bootV)
    } else (Some(readChanges(spark, path, from, to, key)), to)
  }

  /** Record consumer `id` as caught up through `version` (atomic
    * pointer write; monotone — an ack below the current pointer is
    * ignored, so replays can ack blindly). */
  def ackChanges(path: String, id: String, version: Long): Unit = {
    if (version > consumerVersion(path, id))
      atomicWrite(consumerFile(path, id), version.toString)
  }

  /** Delta-style MERGE as a snapshot commit (upsert-by-key): rows of
    * `df` replace same-key rows of the live version. File-level stats
    * pruning makes this O(touched data), not O(table): only files
    * whose recorded [min, max] key range overlaps the batch's key
    * range are read and rewritten (minus replaced keys); every
    * disjoint file is CARRIED by reference — at 100 TB with
    * range-partitioned commits a point-key batch rewrites one file.
    * Files without stats (or a table without sidecars) degrade to
    * "touched", never to wrong results. Returns the new version. */
  def mergeCommit(spark: SparkSession, path: String, df: DataFrame,
                  key: String): Long =
    withLock(path) {
      val v = latestVersion(path)
      val (pdf, pk) = (toPhysicalDf(path, v, df), physicalOf(path, v, key))
      mergeLocked(spark, path, pdf, pk,
        batchBounds(pdf, pk, s"mergeCommit: empty batch for $path"))
    }

  /** Optimistic MERGE (r16) — [[mergeCommit]] for a writer that
    * prepared its batch against `expectedVersion` WITHOUT holding the
    * lock (the long-prepare pattern: read a snapshot, spend minutes
    * computing the upsert batch, come back to commit). Under the lock
    * the live version is re-read:
    *
    *   - unchanged → commits normally;
    *   - advanced → the commit REBASES iff every intervening commit is
    *     PROVABLY key-disjoint from this batch: each file an
    *     intervening version added or removed must carry a recorded
    *     stats range for `key` (checkpoint frame) disjoint from the
    *     batch's [min, max]. Then no intervening commit read or wrote
    *     any key this batch touches, replaying the merge against the
    *     live version is serially equivalent, and BOTH writers'
    *     changes land.
    *   - any overlap — or any changed file with no provable range for
    *     `key` (stats-less commit, compaction's full rewrite) →
    *     [[VersionConflictException]]: the prepared rows may depend on
    *     rows the winner changed; auto-merge would be a lost update.
    *
    * The proof is the pruning paths' own [[statsPrune]] over each
    * intervening version's changed-file set — no job on a small table,
    * one small job per version above that size. */
  def mergeCommitIf(spark: SparkSession, path: String, df: DataFrame,
                    key: String, expectedVersion: Long): Long =
    withLock(path) {
      val cur = latestVersion(path)
      val pdf = toPhysicalDf(path, cur, df)
      val pk = physicalOf(path, cur, key)
      val bounds = batchBounds(pdf, pk, s"mergeCommitIf: empty batch for $path")
      // rebase proof first: a non-rebasable commit must not pay the
      // constraint aggregate while holding the table lock
      if (cur != expectedVersion)
        requireDisjointSince(spark, path, expectedVersion, cur, pk, bounds)
      mergeLocked(spark, path, pdf, pk, bounds)
    }

  private def mergeLocked(spark: SparkSession, path: String, df: DataFrame,
                          key: String, bounds: (Long, Long)): Long = {
    import org.apache.spark.sql.functions.col
    val v = latestVersion(path)
    require(v > 0, s"no committed snapshot under $path")
    val (bLo, bHi) = bounds
    // distributed per-KEY prune (shared with readWhere): the sidecar's
    // primary column may differ from the merge key — pruning with the
    // wrong column's ranges would classify files as untouched whose
    // matching-key rows then survive the rewrite (a silent lost
    // update). Files with no range for THIS key degrade to "touched";
    // only the touched paths (small by construction for a point-key
    // batch) are collected — the untouched set is never materialized
    // (the commit is a manifest DELTA, r17).
    val touched = prunedFiles(spark, path, v, key, outside(bLo, bHi))
    // mergeSchema: touched files may span commits with different
    // schemas (appends add columns); plain parquet inference samples
    // ONE footer and could drop an evolved column from the rewrite.
    val survivors =
      if (touched.isEmpty) df
      else maskDeleted(spark, path, v, // DV-masked rows must not resurrect
        readVersionFiles(spark, path, v, touched))
        .join(df.select(col(key)).distinct(), Seq(key), "left_anti")
        .unionByName(df, allowMissingColumns = true)
    // preserve the pruning layer under whatever column the table
    // already tracks (the merge key may be a different column — same
    // discipline as deleteCommit); a fresh table starts tracking `key`
    commitLocked(survivors, path, CarryAllExcept(touched), None,
      statsKeyOf(path, v).orElse(Some(key)),
      colmap = extendedMapping(columnMapping(path, v), survivors))
  }

  // ——— MERGE INTO with conditional clauses (r17) ———

  /** A `WHEN MATCHED` clause: applied to target rows whose key matched
    * a source row, in declaration order — first clause whose condition
    * holds wins (Delta's rule). Conditions and assignment expressions
    * are SQL over `t.<col>` (target) and `s.<col>` (source). */
  sealed trait MatchedAction { def condition: Option[String] }
  /** WHEN MATCHED [AND cond] THEN UPDATE SET col → expr (unassigned
    * columns keep the target value). */
  final case class MergeUpdate(set: Map[String, String],
                               condition: Option[String] = None)
    extends MatchedAction
  /** WHEN MATCHED [AND cond] THEN DELETE. */
  final case class MergeDelete(condition: Option[String] = None)
    extends MatchedAction
  /** WHEN NOT MATCHED [AND cond] THEN INSERT * — source columns land
    * by name, target columns the source lacks null-fill. */
  final case class MergeInsert(condition: Option[String] = None)

  /** SQL `MERGE INTO` semantics as a snapshot commit (r17) — the full
    * conditional form [[mergeCommit]]'s newest-wins upsert cannot
    * express:
    *
    * {{{
    *   MERGE INTO table t USING source s ON t.key = s.key
    *   WHEN MATCHED AND <cond₁> THEN UPDATE SET c = <expr>, ...
    *   WHEN MATCHED AND <cond₂> THEN DELETE
    *   WHEN NOT MATCHED AND <cond₃> THEN INSERT *
    * }}}
    *
    * Same storage discipline as mergeCommit: stats pruning bounds the
    * rewrite to key-overlapping files (carried files ride the O(delta)
    * manifest), deletion-vector masks apply before matching, CHECK
    * constraints gate the result rows, and keyed CDC classifies the
    * commit exactly. Matched rows take the FIRST clause whose
    * condition holds (none → row kept); duplicate source keys are
    * rejected (a target row matching two source rows has no
    * deterministic outcome — Delta throws the same error). One target
    * key may match many target rows; each is acted on independently.
    * Returns the new version. */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
                key: String, matched: Seq[MatchedAction],
                notMatched: Option[MergeInsert] = None,
                schemaEvolution: Boolean = false): Long =
    withLock(path) {
      import org.apache.spark.sql.functions._
      val v = latestVersion(path)
      require(v > 0, s"no committed snapshot under $path")
      require(matched.nonEmpty || notMatched.nonEmpty,
        "mergeInto: need at least one WHEN clause")
      val pk = physicalOf(path, v, key)
      // one aggregate for the duplicate check and the key bounds: rows
      // beyond the distinct non-null keys plus one for any null key are
      // duplicates (two null keys collide like two equal ones)
      val b = source.agg(count(lit(1)), countDistinct(col(key)),
        coalesce(max(col(key).isNull.cast("long")), lit(0L)),
        min(col(key)).cast("long"), max(col(key)).cast("long")).head()
      require(b.getLong(0) == b.getLong(1) + b.getLong(2),
        s"mergeInto: source has duplicate values of '$key' - a target " +
          "row matching several source rows is nondeterministic")
      require(!b.isNullAt(3), s"mergeInto: empty source for $path")
      val (bLo, bHi) = (b.getLong(3), b.getLong(4))
      val touched = prunedFiles(spark, path, v, pk, outside(bLo, bHi))
      val mapping = columnMapping(path, v)
      // all clause expressions run over LOGICAL names; the commit
      // translates back at the end
      val target: DataFrame =
        if (touched.nonEmpty)
          presentDf(maskDeleted(spark, path, v,
            readVersionFiles(spark, path, v, touched)),
            mapping)
        else read(spark, path, Some(v)).limit(0)
      val tCols0 = target.columns.toSeq
      require(tCols0.contains(key), s"mergeInto: target has no '$key'")
      val extra = source.columns.toSeq.filterNot(tCols0.contains)
      require(schemaEvolution || extra.isEmpty,
        s"mergeInto: source column(s) ${extra.mkString(", ")} not in " +
          "target - pass schemaEvolution = true to let the merge extend " +
          "the table schema (Delta's autoMerge)")
      // schema EVOLUTION (Delta's autoMerge): source-only columns
      // extend the target — existing rows null-fill them, the commit's
      // schema sidecar records the union
      val sTypes = source.schema.fields.map(f => f.name -> f.dataType).toMap
      val target0 = target
      val targetE =
        if (extra.isEmpty) target0
        else target0.select((tCols0.map(col) ++ extra.map(c =>
          lit(null).cast(sTypes(c)).as(c))): _*)
      val tCols = tCols0 ++ extra
      matched.foreach {
        case MergeUpdate(set, _) =>
          val bad = set.keys.filterNot(tCols.contains)
          require(bad.isEmpty,
            s"mergeInto: UPDATE SET of unknown column(s) ${bad.mkString(", ")}")
        case _ => ()
      }
      val tTypes = targetE.schema.fields.map(f => f.name -> f.dataType).toMap
      val sHave = source.columns.toSet

      val tSide = targetE.select(col(key).as("_k"),
        struct(tCols.map(col): _*).as("t"))
      val sSide = source.select(col(key).as("_k"),
        struct(source.columns.toSeq.map(col): _*).as("s"))
      val j = tSide.join(sSide, Seq("_k"), "full")

      def tRow = struct(tCols.map(c => col(s"t.$c").as(c)): _*)
      def updRow(set: Map[String, String]) = struct(tCols.map { c =>
        set.get(c) match {
          case Some(e) => expr(e).cast(tTypes(c)).as(c)
          case None    => col(s"t.$c").as(c)
        }
      }: _*)
      def insRow = struct(tCols.map { c =>
        (if (sHave(c)) col(s"s.$c") else lit(null)).cast(tTypes(c)).as(c)
      }: _*)
      val nullRow = lit(null).cast(targetE.schema)

      // first-match-wins: foldRight puts clause 1 outermost
      val matchedOut = matched.foldRight(tRow: org.apache.spark.sql.Column) {
        (cl, acc) =>
          val cond = cl.condition.map(expr).getOrElse(lit(true))
          val action = cl match {
            case MergeUpdate(set, _) => updRow(set)
            case MergeDelete(_)      => nullRow
          }
          when(cond, action).otherwise(acc)
      }
      val insOut = notMatched.map { ins =>
        when(ins.condition.map(expr).getOrElse(lit(true)), insRow)
          .otherwise(nullRow)
      }.getOrElse(nullRow)

      val outRow = when(col("t").isNotNull && col("s").isNotNull, matchedOut)
        .when(col("t").isNotNull, tRow)
        .otherwise(insOut)
      val result = j.select(outRow.as("_r")).filter(col("_r").isNotNull)
        .select(tCols.map(c => col(s"_r.$c").as(c)): _*)

      val pResult = toPhysicalDf(path, v, result)
      commitLocked(pResult, path, CarryAllExcept(touched), None,
        statsKeyOf(path, v).orElse(Some(pk)),
        colmap = extendedMapping(mapping, pResult))
    }

  /** Row-level DELETE as a snapshot commit (r15) — the retention /
    * takedown (GDPR) operation every corpus store hits. Same stats
    * pruning as [[mergeCommit]]: only files whose recorded [min, max]
    * key range overlaps the delete-key range are read and rewritten
    * (minus the deleted keys); every disjoint file is CARRIED by
    * reference, so a point-key takedown at 100 TB rewrites one file.
    * Files without stats degrade to "touched" (full rewrite), never to
    * wrong results. Pinned readers keep their snapshot (the deleted
    * rows' files are immutable until [[vacuum]] reclaims them); a
    * keyed [[readChanges]] across the commit emits the deletions as
    * `_change='delete'` rows and suppresses the carried survivors.
    * Keys absent from the table are a no-op. Deleting EVERY row of
    * the table is rejected (drop the table instead). Returns the new
    * version (== the old one if no file was touched). */
  def deleteCommit(spark: SparkSession, path: String, keys: DataFrame,
                   key: String): Long =
    withLock(path) {
      val v = latestVersion(path)
      val (pks, pk) = (toPhysicalDf(path, v, keys), physicalOf(path, v, key))
      deleteLocked(spark, path, pks, pk,
        batchBounds(pks, pk, s"deleteCommit: empty key set for $path"))
    }

  /** Optimistic DELETE (r16): [[deleteCommit]] with the same
    * prepared-against-`expectedVersion` rebase rule as
    * [[mergeCommitIf]] — a concurrent commit provably key-disjoint
    * from the delete-key range (stats-checkpoint proof) rebases and
    * both land; overlap or an unprovable file aborts with
    * [[VersionConflictException]]. */
  def deleteCommitIf(spark: SparkSession, path: String, keys: DataFrame,
                     key: String, expectedVersion: Long): Long =
    withLock(path) {
      val cur = latestVersion(path)
      val pks = toPhysicalDf(path, cur, keys)
      val pk = physicalOf(path, cur, key)
      val bounds = batchBounds(pks, pk, s"deleteCommitIf: empty key set for $path")
      if (cur != expectedVersion)
        requireDisjointSince(spark, path, expectedVersion, cur, pk, bounds)
      deleteLocked(spark, path, pks, pk, bounds)
    }

  /** The batch's [min, max] over `key`, as longs. */
  private def batchBounds(df: DataFrame, key: String,
                          emptyMsg: String): (Long, Long) = {
    val b = df.agg(
      org.apache.spark.sql.functions.min(key).cast("long"),
      org.apache.spark.sql.functions.max(key).cast("long")).head()
    require(!b.isNullAt(0), emptyMsg)
    (b.getLong(0), b.getLong(1))
  }

  /** Disjointness PROOF for the optimistic rebase: every file that any
    * version in (fromV, toV] added or removed (vs its predecessor)
    * must have a recorded stats range for `key` disjoint from
    * [bLo, bHi]. Per version, the changed-file set is the small
    * manifest diff (paths only on the driver — commits add/rewrite few
    * files by construction); their ranges are looked up through
    * [[statsPrune]], the pruning paths' own join.
    * Any overlapping or range-less changed file throws
    * [[VersionConflictException]] — unprovable means abort, never a
    * silent lost update. */
  private def requireDisjointSince(spark: SparkSession, path: String,
                                   fromV: Long, toV: Long, key: String,
                                   bounds: (Long, Long)): Unit = {
    require(fromV >= 1 && fromV < toV,
      s"snapshot commit: $path at v$toV, prepared against v$fromV")
    val (bLo, bHi) = bounds
    def conflicts(files: Seq[String], statsV: Long): Long =
      if (files.isEmpty) 0L
      else statsPrune(spark, path, statsV, key, outside(bLo, bHi), Some(files))
        .fold(files.size)(_.size).toLong // no stats → unprovable
    ((fromV + 1) to toV).foreach { w =>
      // a vacuumed intervening version makes disjointness UNPROVABLE,
      // not an internal error: surface it as the retryable conflict
      // (the caller's contract) instead of manifest()'s require
      val (prevM, curM) =
        try (manifest(path, w - 1).toSet, manifest(path, w).toSet)
        catch { case _: IllegalArgumentException =>
          throw new VersionConflictException(
            s"snapshot commit: $path advanced to v$toV (prepared against " +
              s"v$fromV) and an intervening manifest was vacuumed - " +
              "disjointness unprovable; re-read and retry")
        }
      val added = (curM -- prevM).toSeq
      val removed = (prevM -- curM).toSeq
      val bad = conflicts(added, w) + conflicts(removed, w - 1)
      if (bad > 0)
        throw new VersionConflictException(
          s"snapshot commit: $path advanced to v$toV (prepared against " +
            s"v$fromV) and v$w touched $bad file(s) overlapping — or " +
            s"without a provable stats range for — $key∈[$bLo,$bHi]; " +
            "re-read and retry")
    }
  }

  private def deleteLocked(spark: SparkSession, path: String,
                           keys: DataFrame, key: String,
                           bounds: (Long, Long)): Long = {
    import org.apache.spark.sql.functions.col
    val v = latestVersion(path)
    require(v > 0, s"no committed snapshot under $path")
    val ks = keys.select(col(key)).distinct()
    val (bLo, bHi) = bounds
    // distributed per-KEY prune (not the sidecar's primary column) — a
    // takedown by `id` on a table stats-tracked on `ts` must not skip
    // files whose ts-range happens to be disjoint from the id-bounds;
    // files with no range for THIS key degrade to "touched".
    val touched = prunedFiles(spark, path, v, key, outside(bLo, bHi))
    if (touched.isEmpty) v // every file disjoint from the key range
    else {
      // mergeSchema for the same reason as mergeCommit: touched files
      // may carry an evolved column a one-footer sample would drop.
      val survivors = maskDeleted(spark, path, v, // no DV resurrection
        readVersionFiles(spark, path, v, touched))
        .join(ks, Seq(key), "left_anti")
      // preserve the pruning layer under whatever key the table
      // already tracks (deletes may use a different column)
      commitLocked(survivors, path, CarryAllExcept(touched), None,
        statsKeyOf(path, v).orElse(Some(key)),
        colmap = columnMapping(path, v),
        validate = false) // rewrite-only: no new rows enter (OPTIMIZE rule)
    }
  }

  // ——— predicate row-level verbs (r18): Delta's DELETE/UPDATE WHERE ———

  /** FILE paths holding ≥ 1 live row matching `cond` (a boolean SQL
    * expression over LOGICAL column names), plus the matching-row
    * predicate rebuilt for reuse. ONE skinny scan: Catalyst prunes the
    * read to `_metadata.file_path` + the predicate's columns; only the
    * touched PATHS reach the driver (the minimum a rewrite plan
    * needs). Arbitrary predicates cannot stats-prune in general — this
    * is Delta's own DELETE-WHERE shape: scan to find touched files,
    * rewrite only them. */
  private def touchedByPredicate(spark: SparkSession, path: String, v: Long,
                                 cond: String): Seq[String] = {
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    val scanned = readVersionFiles(spark, path, v, manifest(path, v))
      .withColumn("_t_file", col("_metadata.file_path"))
    val masked = dvFrame(spark, path, v) match {
      case None => scanned
      case Some(dv) => scanned
        .withColumn("_t_row", col("_metadata.row_index"))
        .join(dv.select(col("file").as("_t_file"),
          col("row_index").as("_t_row")), Seq("_t_file", "_t_row"),
          "left_anti")
        .drop("_t_row")
    }
    presentDf(masked, columnMapping(path, v), extra = Seq("_t_file"))
      .filter(expr(cond))
      .select("_t_file").distinct().as[String].collect().toSeq
      .map(normalizePathSafe).sorted
  }

  /** Row-level DELETE by PREDICATE (r18 — Delta's
    * `DELETE FROM t WHERE cond`): rows where `cond` is TRUE leave the
    * table (NULL keeps the row, SQL semantics); only files holding a
    * matching row are rewritten, every disjoint file is carried by
    * reference in the O(delta) manifest. `cond` is SQL over LOGICAL
    * column names. Keyed CDC classifies the deletions; carried-file
    * rows never appear in the delta. No matching row → no new
    * version. Returns the (possibly unchanged) version. */
  def deleteWhere(spark: SparkSession, path: String, cond: String): Long =
    withLock(path) {
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      val v = latestVersion(path)
      require(v > 0, s"no committed snapshot under $path")
      val touched = touchedByPredicate(spark, path, v, cond)
      if (touched.isEmpty) v
      else {
        val mapping = columnMapping(path, v)
        val survivors = presentDf(
          maskDeleted(spark, path, v,
            readVersionFiles(spark, path, v, touched)), mapping)
          .filter(not(coalesce(expr(cond), lit(false))))
        commitLocked(toPhysicalDf(path, v, survivors), path,
          CarryAllExcept(touched), None, statsKeyOf(path, v),
          colmap = mapping,
          validate = false) // rewrite-only: no new rows (OPTIMIZE rule)
      }
    }

  /** Row-level UPDATE by PREDICATE (r18 — Delta's
    * `UPDATE t SET c = expr WHERE cond`): rows where `cond` is TRUE
    * get `set`'s assignments applied (expressions are SQL over the
    * table's logical columns, cast back to each column's type);
    * everything else — including the untouched files, carried by
    * reference — is unchanged. CHECK constraints validate the
    * materialized result (an update CAN introduce violating values,
    * unlike a pure rewrite). Keyed CDC classifies the updates with
    * identical-value assignments suppressed. Returns the version. */
  def updateWhere(spark: SparkSession, path: String,
                  set: Map[String, String], cond: String): Long =
    withLock(path) {
      import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
      require(set.nonEmpty, "updateWhere: empty SET")
      val v = latestVersion(path)
      require(v > 0, s"no committed snapshot under $path")
      val touched = touchedByPredicate(spark, path, v, cond)
      if (touched.isEmpty) v
      else {
        val mapping = columnMapping(path, v)
        val current = presentDf(
          maskDeleted(spark, path, v,
            readVersionFiles(spark, path, v, touched)), mapping)
        val bad = set.keys.filterNot(current.columns.contains)
        require(bad.isEmpty,
          s"updateWhere: SET of unknown column(s) ${bad.mkString(", ")}")
        val types = current.schema.fields.map(f => f.name -> f.dataType).toMap
        val hit = coalesce(expr(cond), lit(false))
        val rewritten = current.select(current.columns.toSeq.map { c =>
          set.get(c) match {
            case Some(e) =>
              when(hit, expr(e).cast(types(c))).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*)
        commitLocked(toPhysicalDf(path, v, rewritten), path,
          CarryAllExcept(touched), None, statsKeyOf(path, v),
          colmap = mapping) // validate: updates can violate constraints
      }
    }

  // ——— streaming integration: exactly-once foreachBatch commits ———

  private def batchFile(path: String, v: Long) =
    store(path).child(snapDir(path), f"v$v%08d.batch")

  /** Complete or roll back a crashed publish. The publish sequence is
    * data → manifest → batch sidecar → pointer (each file landing via
    * atomic rename), so a crash leaves at most version latest+1
    * artifacts, and the SIDECAR decides the direction:
    *   - sidecar present: replay detection is already observable, so
    *     the data MUST become visible — roll FORWARD (finish the
    *     pointer swap);
    *   - sidecar absent: nothing about this commit is observable —
    *     roll BACK (drop the manifest; the orphaned data dir is
    *     garbage for vacuum, and the caller/stream simply redoes the
    *     commit).
    * Either way the exactly-once invariant holds: a batch id is
    * recorded iff its rows are (or will be, after this heal) visible.
    * Idempotent; takes the writer lock. */
  def recoverCommit(path: String): Unit = {
    if (!store(path).exists(snapDir(path))) return
    withLock(path)(()) // withLock heals before the (empty) body
  }

  /** Resolve a crashed DV-GC swap (r18). The swap protocol is
    * write `.gc` → rename live aside to `.old` → promote `.gc` →
    * delete `.old`, so the leftovers identify the crash point exactly:
    *   - `.old` + live present: crashed after the promote — drop `.old`;
    *   - `.old` + `.gc`, live missing: crashed mid-swap — promote
    *     `.gc` (it is the complete GC'd rewrite), then drop `.old`;
    *   - `.old` alone, live missing: unreachable under the protocol,
    *     healed defensively by restoring `.old` (pre-GC tombstones —
    *     a superset, conservative: masks more never less);
    *   - `.gc` alone with live present: crashed before the swap —
    *     the rewrite is garbage, drop it.
    * The dv-sidecar name filter (`v\\d{8}\\.dvpq` exact-match) never
    * sees `.gc`/`.old` dirs, so readers are correct at every point.
    * On a store without a rename primitive the swap itself never runs
    * (vacuum keeps the sidecar whole — see the GC site), so only
    * rename-capable stores can leave these states. */
  private def healDvGc(path: String): Unit = {
    val st = store(path)
    val sd = snapDir(path)
    st.list(sd).foreach { e =>
      val n = e.name
      if (n.matches("v\\d{8}\\.dvpq\\.old")) {
        val live = st.child(sd, n.stripSuffix(".old"))
        val gc = st.child(sd, n.stripSuffix(".old") + ".gc")
        if (st.exists(live)) st.deleteRecursively(e.path)
        else if (st.exists(gc)) {
          require(st.rename(gc, live), s"dv gc heal: promote failed for $gc")
          st.deleteRecursively(e.path)
        } else require(st.rename(e.path, live),
          s"dv gc heal: restore failed for ${e.path}")
      }
    }
    st.list(sd).foreach { e =>
      val n = e.name
      if (n.matches("v\\d{8}\\.dvpq\\.gc") &&
          st.exists(st.child(sd, n.stripSuffix(".gc"))))
        st.deleteRecursively(e.path)
    }
  }

  private def healLocked(path: String): Unit = {
    healDvGc(path)
    val st = store(path)
    val v = latestVersion(path) + 1
    val mf = manifestFile(path, v)
    if (st.exists(mf)) {
      if (st.exists(batchFile(path, v))) publishPointer(path, v) // roll forward
      else {
        // roll back: the stats artifacts written before the manifest
        // must go too, or the NEXT commit at this version number would
        // inherit stale pruning ranges
        st.delete(mf)
        dropStatsArtifacts(path, v)
      }
    }
  }

  /** Highest micro-batch id ever committed into this table, or −1.
    * Batch ids are recorded in per-version sidecar files; together
    * with [[recoverCommit]]'s heal rule, a batch id is observable here
    * iff its rows are visible — the replay-detection invariant. */
  def lastStreamBatch(path: String): Long = {
    val st = store(path)
    st.list(snapDir(path))
      .filter(_.name.endsWith(".batch"))
      .map(e => st.readString(e.path).trim.toLong)
      .foldLeft(-1L)(math.max)
  }

  /** An exactly-once streaming sink: use as
    * `stream.writeStream.foreachBatch(SnapshotStore.streamSink(path) _)`.
    * Each micro-batch becomes an APPEND snapshot commit; on checkpoint
    * recovery Structured Streaming re-delivers the last possibly-
    * uncommitted batch, and the recorded batch id makes the replay a
    * no-op — the table sees every micro-batch exactly once even
    * though the delivery contract is at-least-once.
    *
    * Lock contention (r15): a compaction or merge holding the writer
    * lock past `lockWaitMs` must DELAY the stream, not kill it — a
    * lock-timeout here retries up to `lockRetries` more waits (total
    * patience (1+lockRetries)·lockWaitMs) before surfacing the error
    * and failing the streaming query. */
  def streamSink(path: String, lockRetries: Int = 4)
                (df: DataFrame, batchId: Long): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try {
        recoverCommit(path) // a crashed publish must heal BEFORE the skip check
        if (batchId > lastStreamBatch(path)) {
          commit(df, path, SaveMode.Append, batchId = Some(batchId)): Unit
        }
        done = true
      } catch {
        case e: java.io.IOException
            if attempt < lockRetries &&
              e.getMessage != null && e.getMessage.contains("held for over") =>
          attempt += 1 // long maintenance window: park another round
      }
    }
  }

  /** Every publication file lands via the store's atomic-publish
    * contract (write-tmp + rename on POSIX/HDFS; all-or-nothing PUT on
    * object stores), so existence implies completeness (the heal rule
    * depends on it). */
  private def atomicWrite(target: String, content: String): Unit =
    LogStore.forPath(target).writeAtomic(target, content)

  private def publishPointer(path: String, v: Long): Unit =
    atomicWrite(latestFile(path), v.toString)

  /** Manifest (+ batch sidecar) + atomic pointer swap — the pointer
    * rename is the single publication instant. The manifest's `#ts=`
    * header records the commit wall-clock (epoch millis) INSIDE the
    * atomically-written manifest itself — the timestamp time travel
    * ([[readAsOf]]) and [[history]] anchor; a sidecar would add a
    * second crash window, a comment line cannot. */
  private def publishFull(path: String, v: Long, files: Seq[String],
                          batchId: Option[Long]): Unit = {
    store(path).mkdirs(snapDir(path))
    writeFullManifest(path, v, System.currentTimeMillis(), files)
    batchId.foreach(b => atomicWrite(batchFile(path, v), b.toString))
    publishPointer(path, v)
  }

  private def writeFullManifest(path: String, v: Long, ts: Long,
                                files: Seq[String]): Unit =
    atomicWrite(manifestFile(path, v),
      s"#ts=$ts\n#n=${files.size}\n" + files.mkString("\n") + "\n")

  /** DELTA publication (r17): the manifest records only what changed —
    * the O(delta) commit path. Same crash discipline as a FULL
    * publish. */
  private def publishDelta(path: String, v: Long, adds: Seq[String],
                           drops: Seq[String], n: Long, depth: Int,
                           batchId: Option[Long]): Unit = {
    store(path).mkdirs(snapDir(path))
    atomicWrite(manifestFile(path, v),
      s"#ts=${System.currentTimeMillis()}\n#base=${v - 1}\n" +
        s"#depth=$depth\n#n=$n\n" +
        (drops.map("-" + _) ++ adds.map("+" + _))
          .map(_ + "\n").mkString)
    batchId.foreach(b => atomicWrite(batchFile(path, v), b.toString))
    publishPointer(path, v)
  }

  /** Compaction as a COMMIT: read the latest snapshot, rewrite into
    * ~targetBytes files (sorted within files when `sortCols` given, so
    * min/max stats stay selective), publish as the next version. The
    * previous version's files are untouched — a reader that pinned
    * version N mid-scan finishes against N while N+1 serves new
    * plans; TableWriter.compact's crash window and reader race do not
    * exist here. The whole read→rewrite→publish runs INSIDE the writer
    * lock: resolving the source manifest outside it would let a commit
    * (e.g. a streamSink append) land between the read and the publish
    * and be silently overwritten by the stale snapshot — a lost update
    * whose batch-id sidecar would still claim the rows were ingested.
    * Holding the lock for the rewrite is the single-writer contract,
    * not a new cost. Returns the new version. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L << 20,
              sortCols: Seq[String] = Nil,
              statsKey: Option[String] = None): Long = withLock(path) {
    val v = latestVersion(path)
    require(v > 0, s"no committed snapshot under $path")
    val files = manifest(path, v)
    val bytes = files.map(store(path).length).sum
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // mergeSchema is load-bearing here: compaction REPLACES the table
    // (carried=Nil), so a one-footer schema sample of an evolved table
    // would rewrite it without the later-added column and vacuum would
    // then destroy the only files that still had it.
    // deletion vectors MATERIALIZE here: the rewrite reads masked rows
    // out of existence, and every tombstone becomes inert (r17)
    val df = maskDeleted(spark, path, v,
      readVersionFiles(spark, path, v, files))
    // caller-facing names are LOGICAL; the physical frame + stats use
    // the mapped names (identity on an unmapped table)
    val pSort = sortCols.map(physicalOf(path, v, _))
    // RANGE partition under sortCols: the rewritten files get DISJOINT
    // key ranges, which is what makes the re-recorded stats sidecar
    // selective (round-robin + local sort would leave every file
    // spanning the whole key range — stats present but useless)
    val out = if (pSort.nonEmpty)
      df.repartitionByRange(nFiles,
          pSort.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(
          pSort.map(org.apache.spark.sql.functions.col): _*)
    else df.coalesce(nFiles)
    // re-record stats for the rewritten files: compaction would
    // otherwise DROP the sidecar and silently degrade every later
    // mergeCommit to a full-table rewrite. Default to the sidecar key
    // the table already tracks: sortCols.head under a sorted compact
    // (sorting by the merge key is also what keeps the ranges
    // selective), else the previous sidecar's recorded #key= column —
    // a coalesce compact then keeps stats PRESENT and CORRECT (each
    // file may span the key range: unpruned, never wrong).
    val key = statsKey.map(physicalOf(path, v, _)).orElse(
      if (hasStats(path, v))
        pSort.headOption.orElse(statsKeyOf(path, v))
      else None)
    require(!hasStats(path, v) || key.nonEmpty,
      s"compact: $path tracks pruning stats but no stats key is " +
        "resolvable — pass statsKey (or sortCols) so compaction does " +
        "not silently drop the pruning layer")
    commitLocked(out, path, Replace, None, key,
      colmap = columnMapping(path, v),
      validate = false, // rewrite-only: no new rows enter (OPTIMIZE rule)
      partitionCols = partsOf(path, v)) // marker survives compaction
  }

  /** Z-ORDER compaction (Delta's OPTIMIZE ZORDER BY as a snapshot
    * commit): rewrite the live version clustered by the Morton code of
    * `dims`, so every output file covers a compact hyper-rectangle and
    * min/max footer stats prune range filters on ANY of the dims —
    * where [[compact]]'s single-key range sort prunes only its leading
    * key. Same commit discipline: readers pinned at the old version
    * are untouched, the rewrite is just the next version, the stats
    * sidecar is re-recorded on `statsKey` (default: the first dim) so
    * mergeCommit keeps pruning. One skinny quantile pass (ZOrder's
    * per-dim buckets) + one range shuffle on `_z`. */
  def compactZOrdered(spark: SparkSession, path: String,
                      dims: Seq[String],
                      targetBytes: Long = 128L << 20,
                      statsKey: Option[String] = None): Long =
    compactClustered(spark, path, dims, targetBytes, statsKey) { (df, pDims) =>
      graft.functions.ZOrder.withZ(df, pDims)
        .withColumnRenamed("_z", "_ck")
    }

  /** Shared scaffold for curve-clustered compactions: lock, size the
    * output file count, mergeSchema-read the live manifest (same
    * full-replacement hazard as [[compact]] — a one-footer read would
    * silently drop evolved columns from the rewrite), map logical →
    * physical dims, range-partition + sort by the `_ck` cluster key
    * the callback attaches, and commit with per-file ranges recorded
    * for EVERY dim (clustered files cover compact hyper-rectangles,
    * so the multi-column sidecar makes readWhere file-prune on ANY
    * dim, not just the primary). Keeping this in ONE place means a
    * sizing-rule or schema-hazard fix can never miss one curve. */
  private def compactClustered(spark: SparkSession, path: String,
                               dims: Seq[String], targetBytes: Long,
                               statsKey: Option[String])
                              (withKey: (DataFrame, Seq[String]) => DataFrame): Long =
    withLock(path) {
      import org.apache.spark.sql.functions.col
      require(dims.nonEmpty, "compactClustered: need at least one dim")
      val v = latestVersion(path)
      require(v > 0, s"no committed snapshot under $path")
      val files = manifest(path, v)
      val bytes = files.map(store(path).length).sum
      val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val df = maskDeleted(spark, path, v, // DV materialization, as compact
        readVersionFiles(spark, path, v, files))
      val pDims = dims.map(physicalOf(path, v, _)) // logical → physical
      val out = withKey(df, pDims)
        .repartitionByRange(nFiles, col("_ck"))
        .sortWithinPartitions("_ck")
        .drop("_ck")
      val key = statsKey.map(physicalOf(path, v, _)).orElse(pDims.headOption)
      commitLocked(out, path, Replace, None, key,
        extraStatsCols = pDims.filterNot(key.contains),
        colmap = columnMapping(path, v),
        validate = false, // rewrite-only (OPTIMIZE rule)
        partitionCols = partsOf(path, v))
    }

  /** Hilbert-clustered compaction — [[compactZOrdered]]'s 2-D sibling
    * (Delta OPTIMIZE offers both curves for the same reason): bucketize
    * the two dims on their global min/max (one skinny aggregate,
    * broadcast back), order by the Hilbert position, range-partition
    * into size-targeted files. Hilbert's unit-step property (no Morton
    * quadrant jumps) gives each file a tighter 2-D bounding box for
    * the SAME file count, so the multi-column stats sidecar prunes
    * more files for box predicates — measured by the q_hilbert
    * locality audit; the commit/stats path is identical to z-order. */
  def compactHilbert(spark: SparkSession, path: String,
                     dimX: String, dimY: String,
                     targetBytes: Long = 128L << 20,
                     statsKey: Option[String] = None): Long =
    compactClustered(spark, path, Seq(dimX, dimY), targetBytes, statsKey) {
      (df, pDims) =>
        import org.apache.spark.sql.functions._
        val Seq(px, py) = pDims
        val bits = 16
        val stats = df.agg(
          min(col(px)).as("_mnx"), max(col(px)).as("_mxx"),
          min(col(py)).as("_mny"), max(col(py)).as("_mxy"))
        val prepped = df.crossJoin(broadcast(stats))
          .withColumn("_bx",
            graft.functions.ZOrder.bucketize(col(px), col("_mnx"), col("_mxx"), bits))
          .withColumn("_by",
            graft.functions.ZOrder.bucketize(col(py), col("_mny"), col("_mxy"), bits))
        graft.functions.ZOrder.withHilbert(prepped, "_bx", "_by", bits, "_ck")
          .drop("_bx", "_by", "_mnx", "_mxx", "_mny", "_mxy")
    }

  /** Drop data files referenced by NO manifest in the retained window
    * (the newest `keepVersions` manifests). Old manifests outside the
    * window are deleted too: time travel is bounded by retention,
    * exactly like Delta's VACUUM. Never touches the live version.
    * Runs under the writer lock: an in-flight commit's fresh data dir
    * is referenced by no manifest until its pointer publishes, so an
    * unlocked vacuum could destroy it mid-commit and leave the new
    * manifest pointing at deleted files. Inside the lock (which heals
    * any crashed publish first) every data dir above latestVersion is
    * definitively rolled-back garbage and safe to drop. */
  def vacuum(path: String, keepVersions: Int = 2): Long = withLock(path) {
    val v = latestVersion(path)
    if (v == 0) 0L else vacuumLocked(path, v, keepVersions)
  }

  /** [[vacuum]] + deletion-vector GC (r17): after the retention sweep,
    * tombstone rows whose FILE appears in no retained manifest are
    * dropped (they became inert when a rewrite replaced their file and
    * would otherwise ride the boundary consolidation forever); a
    * retained dv sidecar that empties out is deleted. Needs a session
    * for the parquet rewrites — the driverless overload above keeps
    * the copy-forward behavior. Tombstones are only ever FILTERED per
    * sidecar, never moved across versions (moving a later version's
    * mask earlier would corrupt time travel). Returns dropped data
    * files, like vacuum. */
  def vacuum(spark: SparkSession, path: String,
             keepVersions: Int): Long = withLock(path) {
    val v = latestVersion(path)
    if (v == 0) 0L
    else {
      val dropped = vacuumLocked(path, v, keepVersions)
      val keepFrom = math.max(1L, v - keepVersions + 1)
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, count, lit}
      val st = store(path)
      val live = (keepFrom to v).flatMap(manifest(path, _)).distinct
      dvVisible(path, v)._2.foreach { w =>
        val d = dvDir(path, w)
        if (st.exists(d)) {
          val rows = spark.read.schema(DvSchema).parquet(d)
          val liveDf = live.toDF("path")
          val kept = rows.join(liveDf, Seq("path"), "left_semi")
          // both counts in one aggregate: all rows, and those whose
          // file is live (live paths are distinct, so the left join
          // keeps each row once)
          val c = rows.join(liveDf.withColumn("_live", lit(1)), Seq("path"), "left")
            .agg(count(lit(1)), count(col("_live"))).head()
          val (n0, n1) = (c.getLong(0), c.getLong(1))
          if (n1 == 0L) dropDvDir(path, w)
          else if (n1 < n0 && st.renameSupported) {
            // CRASH-SAFE swap (r18): write the GC'd rows to a sibling
            // `.gc` dir (a parquet read cannot overwrite its own
            // input), move the LIVE dir aside to `.old`, promote `.gc`,
            // then drop `.old`. Every intermediate state is healable
            // ([[healDvGc]], run at each lock acquisition): the live
            // tombstones are never in a deleted-but-not-yet-replaced
            // window — the previous delete-then-rename ordering could
            // permanently lose live deletion vectors on a crash and
            // resurrect masked (e.g. GDPR-deleted) rows. On a store
            // WITHOUT a rename primitive (object stores) the partial
            // shrink is SKIPPED: a multi-object delete+copy swap cannot
            // be made reader-atomic there, and the inert rows it would
            // remove are harmless (masked-row-sized; every consumer
            // anti-joins against live files) — only the fully-inert
            // whole-sidecar drop above runs.
            val tmp = d + ".gc"
            val old = d + ".old"
            st.deleteRecursively(tmp); st.deleteRecursively(old)
            kept.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
            require(st.rename(d, old), s"dv gc: rename-aside failed for $d")
            require(st.rename(tmp, d), s"dv gc: promote failed for $d")
            st.deleteRecursively(old)
          }
        }
      }
      dropped
    }
  }

  private def vacuumLocked(path: String, v: Long, keepVersions: Int): Long = {
    val keepFrom = math.max(1L, v - keepVersions + 1)
    // a retained DELTA whose chain crosses the retention boundary must
    // be materialized before its ancestors die (r17): consolidate the
    // chain's stats into keepFrom (driver file-copy), then rewrite
    // keepFrom's manifest as a FULL checkpoint preserving its commit
    // timestamp — every later retained delta's chain now stops there.
    if (keepFrom > 1 && manifestDepth(path, keepFrom) > 0) {
      consolidateStatsByCopy(path, keepFrom, keepFrom)
      writeFullManifest(path, keepFrom, commitTime(path, keepFrom),
        manifest(path, keepFrom))
    }
    // deletion vectors from expiring versions still mask rows in
    // retained files — consolidate their parts into the boundary
    // version before the loop below deletes them (r17). Tombstones for
    // long-dropped files ride along inert until a rewrite+vacuum cycle
    // retires them.
    val st = store(path)
    // reset-aware (r18): only masks still VISIBLE at keepFrom cross
    // the boundary — dirs behind a restore's reset marker at keepFrom
    // are dead there and must not resurrect via consolidation; an
    // expiring marker migrates to keepFrom so the visibility cut
    // survives retention.
    val (baseAtKeep, visibleAtKeep) = dvVisible(path, keepFrom)
    copyParts(path, visibleAtKeep.filter(_ < keepFrom).map(dvDir(path, _)),
      dvDir(path, keepFrom))
    if (baseAtKeep > 0 && baseAtKeep < keepFrom)
      atomicWrite(dvBaseFile(path, keepFrom), "")
    val live: Set[String] =
      (keepFrom to v).flatMap(ver => manifest(path, ver)).toSet
    var dropped = 0L
    // delete expired manifests + their stats sidecars
    (1L until keepFrom).foreach { ver =>
      st.delete(manifestFile(path, ver)): Unit
      dropStatsArtifacts(path, ver) // header + parquet checkpoint
      // keep .batch sidecars even when expired: replay detection must
      // survive retention, or a vacuumed table re-ingests an old batch
    }
    // delete unreferenced data files, then empty version dirs —
    // comparisons run on NORMALIZED paths (manifests hold that form;
    // a Hadoop store lists qualified file:/ URIs)
    val dataRoot = st.child(path, "data")
    st.list(dataRoot).filter(_.isDir)
      .foreach { d =>
        st.list(d.path)
          .filter(e => !e.isDir && !live.contains(normalizePathSafe(e.path)))
          .foreach { e => if (st.delete(e.path)) dropped += 1 }
        val left = st.list(d.path)
        if (left.forall(e => !e.name.endsWith(".parquet"))) {
          left.foreach(e => st.delete(e.path)); st.deleteRecursively(d.path)
        }
      }
    dropped
  }
}
