package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r17 conditional MERGE INTO: clause ordering, filtered inserts,
  * null-fill, duplicate-source rejection, constraint and
  * deletion-vector interplay. */
class MergeIntoSpec extends SparkSpec {
  import spark.implicits._
  import SnapshotStore.{MergeDelete, MergeInsert, MergeUpdate}

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft-mi").toString + "/t"

  private def rows(path: String): Set[(Long, String, Long)] =
    SnapshotStore.read(spark, path).select("id", "st", "v")
      .as[(Long, String, Long)].collect().toSet

  test("first-match-wins clause ladder; untouched rows carried; filtered insert; null-fill") {
    val path = fresh()
    SnapshotStore.commit(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L), (4L, "c", 40L))
        .toDF("id", "st", "v"),
      path, statsKey = Some("id"))
    // source matches 2,3,4; 5 and 6 are candidate inserts (6 filtered
    // out); the source has no `st` column → inserts null-fill it
    SnapshotStore.mergeInto(spark, path,
      Seq((2L, 200L), (3L, 300L), (4L, 400L), (5L, 500L), (6L, 601L))
        .toDF("id", "v"),
      "id",
      matched = Seq(
        // both clauses are TRUE for id=3 (st='a' AND v<35) — the first
        // declared clause must win (update, not delete)
        MergeUpdate(Map("v" -> "s.v"), Some("t.v < 35")),
        MergeDelete(Some("t.st = 'a'"))),
      notMatched = Some(MergeInsert(Some("s.v % 2 = 0"))))
    val got = SnapshotStore.read(spark, path)
      .select("id", "st", "v").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
        r.getLong(2))).toSet
    assert(got == Set(
      (1L, "a", 10L),   // unmatched target: kept (carried file)
      (2L, "b", 200L),  // matched, v<35 → update
      (3L, "a", 300L),  // BOTH clauses true → first wins (update)
      (4L, "c", 40L),   // matched, no clause holds → kept
      (5L, null, 500L)  // not matched, v even → insert, st null-fills
      // 6: insert condition false → dropped
    ))
  }

  test("conditional delete fires when earlier clauses miss; keyed CDC classifies the merge") {
    val path = fresh()
    SnapshotStore.commit(
      Seq((1L, "a", 100L), (2L, "F", 100L)).toDF("id", "st", "v"), path)
    SnapshotStore.mergeInto(spark, path,
      Seq((1L, 0L), (2L, 0L)).toDF("id", "v"), "id",
      matched = Seq(
        MergeUpdate(Map("v" -> "t.v + s.v"), Some("t.st = 'zzz'")),
        MergeDelete(Some("t.st = 'F'"))))
    assert(rows(path) == Set((1L, "a", 100L)))
    val cdc = SnapshotStore.readChanges(spark, path, 1, 2, Some("id"))
      .select("id", "_change").as[(Long, String)].collect().toSet
    assert(cdc == Set((2L, "delete")))
  }

  test("duplicate source keys are rejected; empty clause set is rejected") {
    val path = fresh()
    SnapshotStore.commit(Seq((1L, "a", 1L)).toDF("id", "st", "v"), path)
    intercept[IllegalArgumentException] {
      SnapshotStore.mergeInto(spark, path,
        Seq((1L, 1L), (1L, 2L)).toDF("id", "v"), "id",
        matched = Seq(MergeUpdate(Map("v" -> "s.v"))))
    }
    intercept[IllegalArgumentException] {
      SnapshotStore.mergeInto(spark, path,
        Seq((1L, 1L)).toDF("id", "v"), "id", matched = Nil)
    }
  }

  test("a repeated null source key is a duplicate, reported before an empty source") {
    val path = fresh()
    SnapshotStore.commit(Seq((1L, "a", 1L)).toDF("id", "st", "v"), path)
    def merge(src: org.apache.spark.sql.DataFrame) = SnapshotStore.mergeInto(
      spark, path, src, "id", matched = Seq(MergeUpdate(Map("v" -> "s.v"))))
    def error(src: org.apache.spark.sql.DataFrame) =
      intercept[IllegalArgumentException](merge(src)).getMessage
    val nulls = Seq[(Option[Long], Long)]((None, 1L), (None, 2L)).toDF("id", "v")
    // two null keys and no non-null one: the duplicate error wins
    assert(error(nulls).contains("duplicate values of 'id'"))
    // one null key: no duplicate, but no key to bound the merge by
    assert(error(nulls.limit(1)).contains("empty source"))
    // one null key beside a distinct non-null key: neither error, and
    // the null key matches nothing
    merge(Seq[(Option[Long], Long)]((None, 5L), (Some(1L), 9L)).toDF("id", "v"))
    assert(rows(path) == Set((1L, "a", 9L)))
  }

  test("SQL-text MERGE INTO parses the full clause ladder and commits (r17)") {
    val path = fresh()
    SnapshotStore.commit(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "F", 30L))
        .toDF("id", "st", "v"), path)
    Seq((2L, 200L), (3L, 0L), (4L, 400L), (5L, 401L)).toDF("id", "v")
      .createOrReplaceTempView("merge_src")
    val v = graft.GraftSql.merge(spark,
      s"""MERGE INTO '$path' AS t USING merge_src AS s
         |ON t.id = s.id
         |WHEN MATCHED AND t.v < 25 THEN UPDATE SET v = s.v + 1, st = 'U'
         |WHEN MATCHED AND t.st = 'F' THEN DELETE
         |WHEN NOT MATCHED AND s.v % 2 = 0 THEN INSERT *;""".stripMargin)
    assert(v == 2)
    val got = SnapshotStore.read(spark, path)
      .select("id", "st", "v").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
        r.getLong(2))).toSet
    assert(got == Set(
      (1L, "a", 10L),    // unmatched target kept
      (2L, "U", 201L),   // first clause: UPDATE SET with expression
      // 3: second clause fired (st = 'F') -> deleted
      (4L, null, 400L))) // filtered insert; 5 filtered out (odd)

    // subquery source + parse errors
    val v2 = graft.GraftSql.merge(spark,
      s"""MERGE INTO '$path' t
         |USING (SELECT 9 AS id, 99 AS v) s
         |ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(v2 == 3)
    assert(SnapshotStore.read(spark, path).filter(col("id") === 9).count() == 1)
    intercept[IllegalArgumentException] {
      graft.GraftSql.merge(spark, s"MERGE INTO '$path' t USING merge_src s " +
        "ON t.id = s.other WHEN MATCHED THEN DELETE")
    }
    intercept[IllegalArgumentException] {
      graft.GraftSql.merge(spark, "UPSERT INTO nope")
    }
  }

  test("SQL-text MERGE: CASE WHEN in conditions/SET and ' AS s ' inside a subquery parse intact (r18)") {
    val path = fresh()
    SnapshotStore.commit(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "st", "v"), path)
    // the USING subquery contains ' AS s ' internally (the r17 flat
    // regex could cut the source at an internal alias); the UPDATE SET
    // and the clause condition both contain CASE WHEN … THEN (the r17
    // clause regex stopped at the inner THEN)
    val v = graft.GraftSql.merge(spark,
      s"""MERGE INTO '$path' t
         |USING (SELECT s.id, s.v FROM (SELECT 1 AS id, 100 AS v
         |       UNION ALL SELECT 2 AS id, 7 AS v) AS s WHERE s.id > 0) s
         |ON t.id = s.id
         |WHEN MATCHED AND CASE WHEN t.v < 15 THEN true ELSE s.v > 50 END
         |  THEN UPDATE SET v = CASE WHEN s.v > 50 THEN s.v ELSE t.v + s.v END,
         |       st = 'X'
         |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(v == 2)
    val got = SnapshotStore.read(spark, path)
      .select("id", "st", "v").as[(Long, String, Long)].collect().toSet
    assert(got == Set(
      (1L, "X", 100L),  // matched, cond true via t.v < 15, CASE picks s.s
      // 2: first clause cond false (v=20, s=7) -> second clause DELETE
      (3L, "c", 30L)))  // untouched
  }

  test("schema evolution: source-only columns extend the table; old rows null-fill (r17)") {
    val path = fresh()
    SnapshotStore.commit(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("id", "st", "v"), path)
    // without the flag: rejected with guidance
    val ex = intercept[IllegalArgumentException] {
      SnapshotStore.mergeInto(spark, path,
        Seq((2L, 99L, "x")).toDF("id", "v", "tag"), "id",
        matched = Seq(SnapshotStore.MergeUpdate(Map("v" -> "s.v"))))
    }
    assert(ex.getMessage.contains("schemaEvolution"))
    // with it: the new column lands on updated + inserted rows, nulls
    // elsewhere; the schema sidecar records the union
    SnapshotStore.mergeInto(spark, path,
      Seq((2L, 99L, "x"), (3L, 30L, "y")).toDF("id", "v", "tag"), "id",
      matched = Seq(SnapshotStore.MergeUpdate(
        Map("v" -> "s.v", "tag" -> "s.tag"))),
      notMatched = Some(SnapshotStore.MergeInsert(None)),
      schemaEvolution = true)
    val got = SnapshotStore.read(spark, path)
      .select("id", "v", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(got == Set((1L, 10L, null), (2L, 99L, "x"), (3L, 30L, "y")))
    assert(SnapshotStore.read(spark, path).columns.toSeq ==
      Seq("id", "st", "v", "tag"))
    // and plain appends keep working under the evolved schema
    SnapshotStore.commit(Seq((4L, "c", 40L)).toDF("id", "st", "v"), path,
      org.apache.spark.sql.SaveMode.Append)
    assert(SnapshotStore.read(spark, path).count() == 4)
  }

  test("CHECK constraints gate merged rows; DV-masked rows are not matchable") {
    val path = fresh()
    SnapshotStore.commit(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("id", "st", "v"), path, statsKey = Some("id"))
    SnapshotStore.addConstraint(spark, path, "v-pos", "v > 0")
    intercept[SnapshotStore.ConstraintViolationException] {
      SnapshotStore.mergeInto(spark, path,
        Seq((1L, -5L)).toDF("id", "v"), "id",
        matched = Seq(MergeUpdate(Map("v" -> "s.v"))))
    }
    assert(rows(path) == Set((1L, "a", 10L), (2L, "b", 20L)),
      "a rejected merge must leave the table untouched")
    // a DV-masked row no longer matches: the merge's matched clause
    // misses it and an insert clause treats the key as NOT matched
    SnapshotStore.deleteVectorCommit(spark, path, Seq(2L).toDF("id"), "id")
    SnapshotStore.mergeInto(spark, path,
      Seq((2L, 99L)).toDF("id", "v"), "id",
      matched = Seq(MergeDelete(None)),
      notMatched = Some(MergeInsert(None)))
    assert(rows(path) == Set((1L, "a", 10L), (2L, null, 99L)))
  }
}
