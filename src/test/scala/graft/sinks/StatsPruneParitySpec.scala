package graft.sinks

import java.io.File
import java.nio.file.Files

import graft.{JobCount, SparkSpec}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.plans.logical.GlobalLimit
import org.apache.spark.sql.functions._

/** The stats prune has two branches — the driver-side prune a small
  * table takes and the distributed join above the size cut — and both
  * must rule out exactly the same files. Every case runs once in each
  * branch (the distributed one forced through
  * [[SnapshotStore.distributedPrune]]) on seeded tables that hold
  * every kind of stats the chain can carry: files with no range for
  * the key, drops inside the delta chain, a checkpoint written before
  * the string ranges, a legacy text sidecar, and a version number
  * rewritten after a crashed commit. */
class StatsPruneParitySpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(20261020L)

  private def fresh(): String =
    Files.createTempDirectory("graft-parity").toString + "/t"

  /** (id, day, code, v): `code` is a numeric-looking string. */
  private def batch(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, f"2024-01-0${i % 4 + 1}", (i * 7 % 100).toString, i * 3))
      .toDF("id", "day", "code", "v")

  /** `n` distinct seeded ids in [lo, lo + 1000). */
  private def ids(lo: Long, n: Int): Seq[Long] =
    rng.shuffle((lo until lo + 1000).toList).take(n).sorted

  /** The files a pruned read opens. A read whose prune kept nothing
    * plans its empty frame as a zero-row limit over every file, so
    * that plan counts as no file. */
  private def files(df: DataFrame): Seq[String] =
    if (df.queryExecution.analyzed.exists(_.isInstanceOf[GlobalLimit])) Nil
    else df.inputFiles.toSeq.sorted

  /** `f` in the driver branch and in the forced-distributed one; the
    * two results must be equal. */
  private def same[A](what: String)(f: => A): A = {
    val local = f
    val distributed = SnapshotStore.distributedPrune.withValue(true)(f)
    assert(local == distributed, s"$what: driver $local, distributed $distributed")
    local
  }

  private def snap(path: String) = new File(path, "_snapshots")

  /** Every pruned read at version `v`, in both branches. Returns how
    * many of them opened fewer files than a full read. */
  private def readsAgree(path: String, v: Long, cols: Set[String]): Int = {
    val all = files(SnapshotStore.read(spark, path, Some(v))).size
    val lists = (0 until 4).map { _ =>
      val lo = rng.nextInt(8000).toLong
      same(s"v$v readWhere id [$lo, ${lo + 40}]")(files(
        SnapshotStore.readWhere(spark, path, "id", lo, lo + 40, Some(v))))
    } ++ Seq(
      same(s"v$v readWhereEq day")(files(
        SnapshotStore.readWhereEq(spark, path, "day", "2024-01-03", Some(v)))),
      same(s"v$v readWhereEq code (numeric-looking string)")(files(
        SnapshotStore.readWhereEq(spark, path, "code", "17", Some(v)))),
      same(s"v$v readWhereEq id (numeric)")(files(
        SnapshotStore.readWhereEq(spark, path, "id", "3005", Some(v)))),
      same(s"v$v readWhereBetween day")(files(SnapshotStore.readWhereBetween(
        spark, path, "day", "2024-01-02", "2024-01-03", Some(v)))),
      same(s"v$v readWhereBetween code")(files(SnapshotStore.readWhereBetween(
        spark, path, "code", "1", "3", Some(v))))
    ) ++ (if (!cols("extra")) Nil else Seq(
      same(s"v$v readWhere extra")(files(
        SnapshotStore.readWhere(spark, path, "extra", 0L, 10L, Some(v))))))
    lists.count(_.size < all)
  }

  /** Rewrite version `v`'s checkpoint without `slo`/`shi` — the layout
    * written before string ranges existed. */
  private def dropStringRanges(path: String, v: Long): Unit = {
    val ck = new File(snap(path), f"v$v%08d.statspq")
    val tmp = new File(snap(path), "pre-r18.tmp")
    spark.read.parquet(ck.getPath).select("file", "column", "lo", "hi")
      .coalesce(1).write.parquet(tmp.getPath)
    org.apache.commons.io.FileUtils.deleteDirectory(ck)
    Files.move(tmp.toPath, ck.toPath)
  }

  /** Replace version `v`'s checkpoint by a legacy text sidecar: its
    * numeric ranges as `file \t column \t lo \t hi` lines under the
    * header. */
  private def toLegacySidecar(path: String, v: Long): Unit = {
    val ck = new File(snap(path), f"v$v%08d.statspq")
    val lines = spark.read.parquet(ck.getPath)
      .filter(col("lo").isNotNull)
      .select(concat_ws("\t", col("file"), col("column"),
        col("lo").cast("string"), col("hi").cast("string")))
      .as[String].collect()
    org.apache.commons.io.FileUtils.deleteDirectory(ck)
    val sidecar = new File(snap(path), f"v$v%08d.stats").toPath
    Files.write(sidecar, (new String(Files.readAllBytes(sidecar), "UTF-8") +
      lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
  }

  test("pruned reads and rewrites rule out the same files on the driver and distributed") {
    val path = fresh()
    // v1: day-clustered files, ranges for every column; its checkpoint
    // then loses the string ranges (pre-r18 layout)
    SnapshotStore.commit(batch(ids(0, 200)), path, statsKey = Some("id"),
      partitionBy = Seq("day"))
    dropStringRanges(path, 1)
    // v2, v3: appends over disjoint id ranges; v3's `code` is all null,
    // so its files have no range for `code`
    SnapshotStore.commit(batch(ids(3000, 200)), path, SaveMode.Append)
    SnapshotStore.commit(batch(ids(5000, 200))
      .withColumn("code", lit(null).cast("string")), path, SaveMode.Append)
    // v4: a new column — no earlier file has a range for `extra`
    SnapshotStore.commit(batch(ids(7000, 200)).withColumn("extra", col("id") % 20),
      path, SaveMode.Append)
    assert(readsAgree(path, 4, Set("extra")) > 0)
    // the driver branch builds a pruned read with no job at all
    def build() = SnapshotStore.readWhere(spark, path, "id", 3000, 3040)
    assert(JobCount(spark)(build())._2 == 0)
    assert(SnapshotStore.distributedPrune.withValue(true)(JobCount(spark)(build())._2) > 0)
    // v5, v6: rewrites drop files inside the delta chain
    SnapshotStore.mergeCommit(spark, path,
      batch(ids(3000, 200).take(5)).withColumn("v", lit(-1L)), "id")
    SnapshotStore.deleteCommit(spark, path, ids(5000, 200).take(3).toDF("id"), "id")
    val head = SnapshotStore.latestVersion(path)
    assert(Files.readAllLines(new File(snap(path), f"v$head%08d.manifest").toPath)
      .toArray.exists(_.toString.startsWith("-")))
    assert(readsAgree(path, head, Set("extra")) > 0)
    readsAgree(path, 1, Set.empty): Unit

    // MERGE INTO and the deletion-vector delete prune by the batch's key
    // bounds: the same files in both branches (mergeInto drops exactly
    // the files it touched), the same table afterwards
    def rows(v: Long) = SnapshotStore.read(spark, path, Some(v))
      .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
    def outcome(verb: => Long): (Set[String], Seq[(Long, Long)]) = {
      val base = SnapshotStore.latestVersion(path)
      val before = SnapshotStore.read(spark, path).inputFiles.toSet
      val nv = verb
      val got = (before -- SnapshotStore.read(spark, path, Some(nv)).inputFiles, rows(nv))
      SnapshotStore.restore(spark, path, base) // the other branch starts here too
      got
    }
    val live = SnapshotStore.read(spark, path).select("id").as[Long].collect().sorted
    val Seq(k3, k7, k7b) = Seq(3000L, 7000L, 7500L).map(k => live.find(_ >= k).get)
    val source = batch(Seq(k3, k7, 9999L)).withColumn("extra", lit(1L))
    val (mergeDrops, _) = same("mergeInto")(outcome(SnapshotStore.mergeInto(
      spark, path, source, "id",
      Seq(SnapshotStore.MergeUpdate(Map("v" -> "s.v"))),
      Some(SnapshotStore.MergeInsert()))))
    assert(mergeDrops.nonEmpty)
    same("mergeInto's prune")(files(SnapshotStore.readWhere(spark, path, "id", k3, 9999)))
    val (_, masked) = same("deleteVectorCommit")(outcome(SnapshotStore.deleteVectorCommit(
      spark, path, Seq(k7, k7b).toDF("id"), "id")))
    assert(!masked.exists(r => r._1 == k7 || r._1 == k7b))
    same("deleteVectorCommit's prune")(files(
      SnapshotStore.readWhere(spark, path, "id", k7, k7b)))
  }

  test("a legacy text sidecar prunes the same in both branches") {
    val path = fresh()
    SnapshotStore.commit(batch(ids(0, 200)).repartitionByRange(4, col("id")),
      path, statsKey = Some("id"))
    toLegacySidecar(path, 1)
    SnapshotStore.commit(batch(ids(3000, 100)), path, SaveMode.Append)
    val v = SnapshotStore.latestVersion(path)
    assert(readsAgree(path, v, Set.empty) > 0)
    // the legacy ranges still prune: a window inside v1's ids skips
    // the appended files and most of v1's
    val w = same("legacy window")(files(SnapshotStore.readWhere(spark, path, "id", 10, 12)))
    assert(w.size < files(SnapshotStore.read(spark, path)).size)
  }

  test("a version number rewritten after a crashed commit serves only its own stats") {
    val path = fresh()
    SnapshotStore.commit(spark.range(0, 1200).toDF("id")
      .repartitionByRange(8, col("id")), path, statsKey = Some("id"))
    // v2 commits ids [1000, 1100) and is pruned against, then "crashes"
    // before its pointer publish: the pointer goes back to v1 and the
    // next lock heals (rolls v2 back)
    SnapshotStore.commit(spark.range(1000, 1100).toDF("id").coalesce(1), path,
      SaveMode.Append)
    same("crashed v2")(files(SnapshotStore.readWhere(spark, path, "id", 1000, 1010)))
    Files.write(new File(snap(path), "_latest").toPath, "1".getBytes("UTF-8"))
    SnapshotStore.recoverCommit(path)
    assert(SnapshotStore.latestVersion(path) == 1)
    // v2 again, now ids [2000, 2100): a stale range row for the crashed
    // file would leave the new file unmatched and kept
    SnapshotStore.commit(spark.range(2000, 2100).toDF("id").coalesce(1), path,
      SaveMode.Append)
    val fresh2 = SnapshotStore.read(spark, path).inputFiles.toSet --
      SnapshotStore.read(spark, path, Some(1)).inputFiles
    val w = same("rewritten v2")(files(
      SnapshotStore.readWhere(spark, path, "id", 1000, 1010)))
    assert(w.size == 1 && !w.exists(fresh2))
    assert(same("rewritten v2, its own range")(files(
      SnapshotStore.readWhere(spark, path, "id", 2000, 2010))).toSet == fresh2)
  }

  test("the optimistic rebase proof decides the same in both branches") {
    /** v1: four id-range files; `prepared` = v1; then a key-disjoint
      * append (v2). */
    def table(): String = {
      val path = fresh()
      SnapshotStore.commit(spark.range(0, 400).toDF("id").withColumn("v", col("id"))
        .repartitionByRange(4, col("id")), path, statsKey = Some("id"))
      SnapshotStore.commit(spark.range(1000, 1010).toDF("id").withColumn("v", col("id")),
        path, SaveMode.Append)
      path
    }
    def merge(path: String, lo: Long, expected: Long): Either[String, Seq[Long]] =
      try {
        SnapshotStore.mergeCommitIf(spark, path, spark.range(lo, lo + 5).toDF("id")
          .withColumn("v", lit(-1L)), "id", expected)
        Right(SnapshotStore.read(spark, path).filter(col("v") === -1L)
          .select("id").as[Long].collect().sorted.toSeq)
      } catch {
        case e: SnapshotStore.VersionConflictException =>
          Left(e.getMessage.replace(path, "<table>"))
      }
    // disjoint: both branches prove it and rebase (one table each)
    val (a, b) = (table(), table())
    val ok = merge(a, 100, 1)
    assert(ok.isRight && ok ==
      SnapshotStore.distributedPrune.withValue(true)(merge(b, 100, 1)))
    // overlapping, and a changed file with no range: both conflict,
    // with the same count of offending files (nothing commits)
    val path = table()
    val prepared = SnapshotStore.latestVersion(path)
    SnapshotStore.deleteCommit(spark, path, Seq(50L).toDF("id"), "id")
    assert(same("overlap")(merge(path, 40, prepared)).isLeft)
    SnapshotStore.commitIf(spark.range(5000, 5010).toDF("id").withColumn("v", col("id")),
      path, SnapshotStore.latestVersion(path))
    assert(same("range-less")(merge(path, 300, prepared + 1)).isLeft)
    assert(same("disjoint after range-less")(merge(path, 300, prepared)).isLeft)
  }
}
