package graft.sinks

import graft.{JobCount, SparkSpec}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Job counts of the table verbs, build plus action, on a small
  * stats-tracked `partitionBy` table. Scheduler counters repeat exactly
  * from run to run, so a moved count is a changed plan: the pins guard
  * refactors of the table layer, and a change that cuts jobs on purpose
  * lowers its pin here. */
class SnapshotJobsSpec extends SparkSpec {
  import spark.implicits._

  /** (id, day, v): four `day` partitions, ids interleaved across them. */
  private def rows(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id"),
      concat(lit("2024-01-0"), (col("id") % 4 + 1).cast("string")).as("day"),
      (col("id") * 7).as("v"))

  /** The table is small, so every stats prune runs on the driver: a
    * pruned read runs only its action, like `read`. */
  private val Expected = Seq(
    "read" -> 1, "readWhere" -> 1, "readWhereEq" -> 1,
    "readWhereBetween" -> 1, "readAsOf" -> 1, "commit Append" -> 4,
    "mergeInto" -> 6, "mergeCommitIf rebase" -> 5, "deleteWhere" -> 4,
    "deleteVectorCommit" -> 6, "readChanges keyed" -> 6,
    "changeFeed" -> 4, "compact" -> 3, "vacuum" -> 3,
    "deleteCommitIf rebase" -> 6)

  test("each table verb submits its pinned number of jobs") {
    val path = java.nio.file.Files.createTempDirectory("graft-jobs").toString + "/t"
    def jobs(body: => Any): Int = JobCount(spark)(body)._2
    def consumed(df: => DataFrame): Int = jobs(df.collect())
    SnapshotStore.commit(rows(0, 400), path, statsKey = Some("id"),
      partitionBy = Seq("day"))
    val got = Seq.newBuilder[(String, Int)]
    got += "read" -> consumed(SnapshotStore.read(spark, path))
    got += "readWhere" -> consumed(SnapshotStore.readWhere(spark, path, "id", 10L, 20L))
    got += "readWhereEq" -> consumed(
      SnapshotStore.readWhereEq(spark, path, "day", "2024-01-02"))
    got += "readWhereBetween" -> consumed(
      SnapshotStore.readWhereBetween(spark, path, "day", "2024-01-02", "2024-01-03"))
    got += "readAsOf" -> consumed(
      SnapshotStore.readAsOf(spark, path, System.currentTimeMillis()))
    got += "commit Append" -> jobs(
      SnapshotStore.commit(rows(400, 500), path, SaveMode.Append))
    got += "mergeInto" -> jobs(SnapshotStore.mergeInto(spark, path,
      rows(395, 405).withColumn("v", lit(-1L)), "id",
      Seq(SnapshotStore.MergeUpdate(Map("v" -> "s.v"))),
      Some(SnapshotStore.MergeInsert())))
    // a writer prepares against `prepared`; a key-disjoint append lands
    // first, so the merge must prove disjointness and rebase
    val prepared = SnapshotStore.latestVersion(path)
    SnapshotStore.commit(rows(1000, 1010), path, SaveMode.Append)
    got += "mergeCommitIf rebase" -> jobs(SnapshotStore.mergeCommitIf(spark, path,
      rows(100, 105).withColumn("v", lit(-2L)), "id", prepared))
    got += "deleteWhere" -> jobs(SnapshotStore.deleteWhere(spark, path, "id = 200"))
    got += "deleteVectorCommit" -> jobs(
      SnapshotStore.deleteVectorCommit(spark, path, Seq(300L).toDF("id"), "id"))
    val head = SnapshotStore.latestVersion(path)
    got += "readChanges keyed" -> consumed(
      SnapshotStore.readChanges(spark, path, 1L, head, Some("id")))
    got += "changeFeed" -> consumed(SnapshotStore.changeFeed(spark, path, 1L, head))
    got += "compact" -> jobs(SnapshotStore.compact(spark, path))
    got += "vacuum" -> jobs(SnapshotStore.vacuum(spark, path, 2))
    // the delete's rebase, last so that no earlier pin moves
    val preparedDelete = SnapshotStore.latestVersion(path)
    SnapshotStore.commit(rows(2000, 2010), path, SaveMode.Append)
    got += "deleteCommitIf rebase" -> jobs(SnapshotStore.deleteCommitIf(spark, path,
      Seq(101L).toDF("id"), "id", preparedDelete))
    val counts = got.result()
    assert(counts == Expected, counts.map { case (k, n) => s"$k=$n" }.mkString(", "))
  }
}
