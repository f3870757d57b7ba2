package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"

  test("all-column stats: readWhere prunes on a column the writer never declared (r18)") {
    val path = freshTable()
    // clustered by v, stats-DECLARED on id only — the r18 all-column
    // checkpoint must record v's ranges anyway
    SnapshotStore.commit(
      spark.range(0, 1000).select(col("id"), (col("id") * 3).as("v"))
        .repartitionByRange(8, col("v")).sortWithinPartitions("v"),
      path, statsKey = Some("id"))
    val full = SnapshotStore.read(spark, path)
    val narrow = SnapshotStore.readWhere(spark, path, "v", 30L, 90L)
    assert(narrow.inputFiles.length < full.inputFiles.length,
      s"${narrow.inputFiles.length} vs ${full.inputFiles.length}: " +
        "the undeclared column's stats must file-prune")
    assert(narrow.select("id").as[Long].collect().toSet ==
      (10L to 30L).toSet)
    // numeric EQUALITY through the same prune: the value parses, so the
    // files' disjoint numeric (lo, hi) ranges of v exclude all but one
    val eqV = SnapshotStore.readWhereEq(spark, path, "v", "33")
    assert(eqV.select("id").as[Long].collect().toSeq == Seq(11L))
    assert(eqV.inputFiles.length == 1,
      s"${eqV.inputFiles.length} of ${full.inputFiles.length}")

    // conservative cast rules: a fractional column widens (floor/ceil)
    // and an overflowing value poisons its file's range — the file
    // degrades to unpruned instead of losing the row
    val path2 = freshTable()
    SnapshotStore.commit(
      Seq((1L, 1.5), (2L, 2.5)).toDF("id", "d").repartition(1), path2,
      statsKey = Some("id"))
    // a long-overflowing value must stay SOUND whichever cast
    // semantics the session runs: legacy try_cast saturates the range
    // end to ±Long.MaxValue (covers everything), ANSI try_cast nulls
    // it and the bad-row flag drops the file's range (kept unpruned).
    // Either way the file's in-window rows are always found.
    SnapshotStore.commit(
      Seq((3L, 5.0), (4L, 1e300)).toDF("id", "d").repartition(1), path2,
      SaveMode.Append, statsKey = Some("id"))
    val mid = SnapshotStore.readWhere(spark, path2, "d", 4L, 6L)
    assert(mid.select("id").as[Long].collect().toSet == Set(3L))
    assert(mid.inputFiles.length == 1,
      s"${mid.inputFiles.length}: the [1,3]-range file must prune out")
    // the fractional file's widened range (floor 1.5 = 1, ceil 2.5 = 3)
    // admits the low query; the overflow file prunes out (saturated
    // lo = 5 > 2) or rides along rangeless — both sound
    val low = SnapshotStore.readWhere(spark, path2, "d", 1L, 2L)
    assert(low.select("id").as[Long].collect().toSet == Set(1L))
    assert(low.inputFiles.length <= 2, s"${low.inputFiles.length}")
  }

  test("partitionBy: equality opens only that partition's files at 10x partitions (r18)") {
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "40")
    // AQE would coalesce this toy table into one file (the 64 MB
    // advisory dwarfs it); at real scale partitions stay separate
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val path = freshTable()
      def slice(a: Long, b: Long) = spark.range(a, b)
        .select(col("id"),
          format_string("p%03d", col("id") % 40).as("p"))
      SnapshotStore.commit(slice(0, 10000), path,
        statsKey = Some("id"), partitionBy = Seq("p"))
      assert(SnapshotStore.partitionColumns(path) == Seq("p"))
      val full = SnapshotStore.read(spark, path).inputFiles.length
      assert(full >= 10, s"$full files: need real partition spread")
      val one = SnapshotStore.readWhereEq(spark, path, "p", "p007")
      assert(one.count() == 250)
      assert(one.inputFiles.length * 10 <= full,
        s"${one.inputFiles.length} of $full: equality must open ~one " +
          "partition's files")
      // appends RE-CLUSTER by the declared partition columns: the new
      // slice's files prune too
      SnapshotStore.commit(slice(10000, 12000), path, SaveMode.Append)
      val two = SnapshotStore.readWhereEq(spark, path, "p", "p007")
      assert(two.count() == 300)
      val fullTwo = SnapshotStore.read(spark, path).inputFiles.length
      assert(two.inputFiles.length * 10 <= fullTwo,
        s"${two.inputFiles.length} of $fullTwo after append")
      // numeric equality through the same surface (value parses):
      // answers exactly (id ranges span the p-clustering here, so the
      // win is correctness + degrade, not pruning)
      val byId = SnapshotStore.readWhereEq(spark, path, "id", "7")
      assert(byId.count() == 1)
      // string-RANGE prune (r18): the date-BETWEEN shape — a
      // lexicographic window over the partition column opens only the
      // window's files
      val win = SnapshotStore
        .readWhereBetween(spark, path, "p", "p005", "p008")
      assert(win.count() == 4 * 300)
      assert(win.inputFiles.length * 5 <= fullTwo,
        s"${win.inputFiles.length} of $fullTwo: the window must prune")

      // a rename keeps the partition declaration (logical name moves)
      SnapshotStore.renameColumn(spark, path, "p", "part")
      assert(SnapshotStore.partitionColumns(path) == Seq("part"))
      assert(SnapshotStore.readWhereEq(spark, path, "part", "p007")
        .count() == 300)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        prevCoalesce)
    }
  }

  test("commit / append / time-travel read") {
    val path = freshTable()
    val v1 = SnapshotStore.commit(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path)
    assert(v1 == 1 && SnapshotStore.latestVersion(path) == 1)
    val v2 = SnapshotStore.commit(
      Seq((3L, "c")).toDF("id", "s"), path, SaveMode.Append)
    assert(v2 == 2)
    // latest sees the union; v1 still sees exactly the first commit
    assert(SnapshotStore.read(spark, path).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(SnapshotStore.read(spark, path, Some(1)).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("a reader pinned at version N survives a concurrent compaction") {
    val path = freshTable()
    // many tiny files: one per row
    val df = spark.range(100).repartition(20)
      .select(col("id"), (col("id") * 7).as("v"))
    SnapshotStore.commit(df, path)
    val before = SnapshotStore.read(spark, path) // pins v1's files NOW
    val filesBefore = before.inputFiles.length
    assert(filesBefore > 1)

    val v2 = SnapshotStore.compact(spark, path, targetBytes = 1L << 30,
      sortCols = Seq("id"))
    assert(v2 == 2)

    // the pinned reader still scans v1's immutable files, consistently
    assert(before.select(sum(col("v"))).head.getLong(0) == (0 until 100).map(_ * 7L).sum)
    assert(before.inputFiles.length == filesBefore)

    // the new version serves the SAME rows from fewer files
    val after = SnapshotStore.read(spark, path)
    assert(after.inputFiles.length < filesBefore)
    assert(after.select("id", "v").as[(Long, Long)].collect().sorted.toSeq ==
      before.select("id", "v").as[(Long, Long)].collect().sorted.toSeq)

    // probe parity post-commit: the same point query answers identically
    def probe(d: org.apache.spark.sql.DataFrame) =
      d.filter(col("id") === 42).select("v").as[Long].collect().toSeq
    assert(probe(after) == Seq(294L) && probe(before) == Seq(294L))
    // and time travel to v1 remains available after the commit
    assert(SnapshotStore.read(spark, path, Some(1)).count() == 100)
  }

  test("vacuum drops only out-of-retention files; live version intact") {
    val path = freshTable()
    SnapshotStore.commit(spark.range(50).toDF("id"), path,
      statsKey = Some("id"))                                         // v1
    SnapshotStore.compact(spark, path, targetBytes = 1L << 30)       // v2
    SnapshotStore.commit(spark.range(50, 60).toDF("id"), path,
      SaveMode.Append)                                               // v3
    // a crashed commit's orphan: data dir written, never published
    val orphan = new java.io.File(new java.io.File(path, "data"),
      "v00000099-deadbeef")
    orphan.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(orphan, "part-0.parquet").toPath, "junk".getBytes)
    val dropped = SnapshotStore.vacuum(path, keepVersions = 2)
    assert(dropped > 0) // v1's files are referenced by no retained manifest
    // live version still complete
    assert(SnapshotStore.read(spark, path).count() == 60)
    // retained time travel works; expired version is gone
    assert(SnapshotStore.read(spark, path, Some(2)).count() == 50)
    intercept[IllegalArgumentException] {
      SnapshotStore.read(spark, path, Some(1))
    }
    // orphan data dir collected; expired stats sidecar gone too
    assert(!orphan.exists())
    assert(!new java.io.File(new java.io.File(path, "_snapshots"),
      "v00000001.stats").exists())
  }

  test("streaming foreachBatch sink: exactly-once across batch replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val path = freshTable()
    val input = MemoryStream[Long](spark)
    val q = input.toDF().toDF("id").writeStream
      .foreachBatch(SnapshotStore.streamSink(path) _)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-snap-ck").toString)
      .start()
    try {
      input.addData(1L, 2L, 3L); q.processAllAvailable()
      input.addData(4L, 5L); q.processAllAvailable()
      assert(SnapshotStore.read(spark, path).select("id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      val v = SnapshotStore.latestVersion(path)
      val lastBatch = SnapshotStore.lastStreamBatch(path)
      assert(lastBatch >= 1)
      // at-least-once redelivery: replaying the last batch is a no-op
      SnapshotStore.streamSink(path)(Seq(4L, 5L).toDF("id"), lastBatch)
      assert(SnapshotStore.latestVersion(path) == v)
      assert(SnapshotStore.read(spark, path).count() == 5)
      // a genuinely new batch commits
      SnapshotStore.streamSink(path)(Seq(6L).toDF("id"), lastBatch + 1)
      assert(SnapshotStore.read(spark, path).count() == 6)
    } finally q.stop()
  }

  test("crashed publish heals: sidecar decides forward vs back") {
    val path = freshTable()
    SnapshotStore.commit(spark.range(3).toDF("id"), path) // v1
    val snap = new java.io.File(path, "_snapshots")

    // crash AFTER manifest, BEFORE sidecar/pointer → roll BACK
    val m2 = new java.io.File(snap, "v00000002.manifest")
    java.nio.file.Files.write(m2.toPath, "/nonexistent.parquet\n".getBytes)
    SnapshotStore.recoverCommit(path)
    assert(!m2.exists() && SnapshotStore.latestVersion(path) == 1)

    // crash AFTER sidecar, BEFORE pointer → roll FORWARD (the batch id
    // is observable, so its rows must become visible)
    val v1Files = SnapshotStore.read(spark, path).inputFiles.toSeq
    java.nio.file.Files.write(m2.toPath,
      (v1Files.mkString("\n") + "\n").getBytes)
    java.nio.file.Files.write(
      new java.io.File(snap, "v00000002.batch").toPath, "7".getBytes)
    SnapshotStore.recoverCommit(path)
    assert(SnapshotStore.latestVersion(path) == 2)
    assert(SnapshotStore.lastStreamBatch(path) == 7)
    assert(SnapshotStore.read(spark, path).count() == 3)
    // and the replay of batch 7 is now correctly a no-op
    SnapshotStore.streamSink(path)(spark.range(99).toDF("id"), 7L)
    assert(SnapshotStore.latestVersion(path) == 2)
  }

  test("mergeCommit: stats pruning rewrites only overlapping files") {
    val path = freshTable()
    // 4 range-partitioned files with disjoint id ranges + stats sidecar
    val base = spark.range(100)
      .select(col("id"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("id"))
    SnapshotStore.commit(base, path, statsKey = Some("id"))
    val v1Files = SnapshotStore.read(spark, path).inputFiles.toSet
    assert(v1Files.size == 4)

    // upsert a narrow key range: only the file(s) covering 10..15 move
    val batch = spark.range(10, 16)
      .select(col("id"), (col("id") * 1000).as("v"))
    val v2 = SnapshotStore.mergeCommit(spark, path, batch, "id")
    assert(v2 == 2)
    val v2Files = SnapshotStore.read(spark, path).inputFiles.toSet
    val carried = v1Files.intersect(v2Files)
    assert(carried.nonEmpty && carried.size < v1Files.size,
      s"expected partial carry, got ${carried.size}/${v1Files.size}")

    // upsert semantics: batch rows replaced, everything else intact
    val after = SnapshotStore.read(spark, path)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(after.size == 100)
    (0L until 100L).foreach { id =>
      assert(after(id) == (if (id >= 10 && id <= 15) id * 1000 else id * 10))
    }
    // time travel still sees the pre-merge values
    val before = SnapshotStore.read(spark, path, Some(1))
      .filter(col("id") === 12).select("v").as[Long].head()
    assert(before == 120)

    // a second merge against the merged table also prunes (stats were
    // carried + recomputed for the rewritten files)
    val v3 = SnapshotStore.mergeCommit(spark, path,
      spark.range(90, 92).select(col("id"), lit(7L).as("v")), "id")
    assert(v3 == 3)
    assert(SnapshotStore.read(spark, path).filter(col("v") === 7).count() == 2)
  }

  test("readWhere: sidecar file pruning plans a subset scan, answers match full read") {
    val path = freshTable()
    SnapshotStore.commit(
      spark.range(100).select(col("id"), (col("id") * 3).as("v"))
        .repartitionByRange(4, col("id")),
      path, statsKey = Some("id"))
    val all = SnapshotStore.read(spark, path)
    assert(all.inputFiles.length == 4)

    // narrow range: only overlapping files enter the plan
    val narrow = SnapshotStore.readWhere(spark, path, "id", 10, 15)
    assert(narrow.inputFiles.length < 4 && narrow.inputFiles.nonEmpty)
    assert(narrow.select("id", "v").as[(Long, Long)].collect().sorted.toSeq ==
      (10L to 15L).map(i => (i, i * 3)))

    // empty range below the table: zero files, empty frame, right schema
    val none = SnapshotStore.readWhere(spark, path, "id", -10, -1)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "v"))

    // a version with no sidecar degrades to full read + filter
    val path2 = freshTable()
    SnapshotStore.commit(
      spark.range(50).select(col("id"), col("id").as("v")), path2)
    val deg = SnapshotStore.readWhere(spark, path2, "id", 5, 7)
    assert(deg.select("id").as[Long].collect().sorted.toSeq == Seq(5L, 6L, 7L))

    // files with NO stats row are conservatively kept: path2's v1 files
    // predate stats tracking; a stats-tracked append leaves them out of
    // the sidecar, yet a range over their keys still finds the rows
    SnapshotStore.commit(
      spark.range(200, 203).select(col("id"), col("id").as("v")),
      path2, SaveMode.Append, statsKey = Some("id"))
    val sp = SnapshotStore.readWhere(spark, path2, "id", 5, 7)
    assert(sp.select("id").as[Long].collect().sorted.toSeq ==
      Seq(5L, 6L, 7L))
    // while a range over ONLY the tracked append prunes the known files
    val tracked = SnapshotStore.readWhere(spark, path2, "id", 200, 300)
    assert(tracked.select("id").as[Long].collect().sorted.toSeq ==
      Seq(200L, 201L, 202L))
  }

  test("string statsKey degrades to no-range (unpruned), never a failed commit") {
    val path = freshTable()
    // the pruning layer is integral-only; a string key must not abort
    // the write — its files simply record no range and stay unpruned
    SnapshotStore.commit(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "x"), path, statsKey = Some("k"))
    assert(SnapshotStore.latestVersion(path) == 1)
    assert(SnapshotStore.read(spark, path).count() == 2)
    // a later numeric-key read path still works end to end
    SnapshotStore.commit(
      Seq(("c", 3L)).toDF("k", "x"), path, SaveMode.Append,
      statsKey = Some("x"))
    assert(SnapshotStore.readWhere(spark, path, "x", 3, 9)
      .count() == 1)

    // NUMERIC-looking strings are the trap: lexicographic extremes
    // ("30" < "5") cast after the aggregate would record a wrong
    // range [30, 5] and silently prune the matching file — the cast
    // must happen BEFORE min/max so the range is numeric [5, 30]
    val path2 = freshTable()
    SnapshotStore.commit(
      Seq(("5", 1L), ("30", 2L)).toDF("k", "x"), path2,
      statsKey = Some("k"))
    assert(SnapshotStore.readWhere(spark, path2, "k", 5, 5)
      .count() == 1, "numeric-string range must not mis-prune")

    // the lexicographic window prune keeps a file with NO recorded
    // string range (v1 is untracked) and skips one whose range misses
    val path3 = freshTable()
    SnapshotStore.commit(Seq(("a", 1L)).toDF("k", "x").coalesce(1), path3)
    val v1Files = SnapshotStore.read(spark, path3).inputFiles.toSet
    SnapshotStore.commit(Seq(("c", 3L)).toDF("k", "x").coalesce(1), path3,
      SaveMode.Append, statsKey = Some("x"))
    val miss = SnapshotStore.readWhereBetween(spark, path3, "k", "m", "z")
    assert(miss.count() == 0)
    assert(miss.inputFiles.toSet == v1Files,
      s"${miss.inputFiles.toSeq}: only the rangeless v1 file survives")
    val both = SnapshotStore.readWhereBetween(spark, path3, "k", "a", "c")
    assert(both.select("k").as[String].collect().toSet == Set("a", "c"))
    assert(both.inputFiles.length == 2)
  }

  test("compactHilbert: 2-D clustering commit — both dims prune, boxes at least as tight as z-order") {
    val pathH = freshTable(); val pathZ = freshTable()
    val grid = spark.range(128L * 128L)
      .select((col("id") % 128).as("x"), (col("id") / 128).cast("long").as("y"))
    Seq(pathH, pathZ).foreach { p =>
      SnapshotStore.commit(grid.repartitionByRange(16, col("x"))
        .sortWithinPartitions("x"), p, statsKey = Some("x"))
    }
    assert(SnapshotStore.compactHilbert(spark, pathH, "x", "y",
      targetBytes = 2L << 10) == 2)
    assert(SnapshotStore.compactZOrdered(spark, pathZ, Seq("x", "y"),
      targetBytes = 2L << 10) == 2)
    // rows preserved; pinned v1 reader unaffected
    assert(SnapshotStore.read(spark, pathH).count() == 128L * 128L)
    assert(SnapshotStore.read(spark, pathH, Some(1)).count() == 128L * 128L)
    // multi-column sidecar: BOTH dims file-prune after the hilbert commit
    val hFiles = SnapshotStore.read(spark, pathH).inputFiles.length
    assert(SnapshotStore.readWhere(spark, pathH, "x", 0, 10)
      .inputFiles.length < hFiles)
    val yN = SnapshotStore.readWhere(spark, pathH, "y", 16, 23)
    assert(yN.inputFiles.length < hFiles,
      s"y-range readWhere did not prune: ${yN.inputFiles.length}/$hFiles")
    assert(yN.count() == 8L * 128L)
    // the differentiator: per-file 2-D bounding-box AREA (what min/max
    // skipping sees) — hilbert's unit-step curve is at least as tight
    def area(p: String): Long = SnapshotStore.read(spark, p)
      .groupBy(input_file_name())
      .agg(((max(col("x")) - min(col("x")) + 1) *
        (max(col("y")) - min(col("y")) + 1)).as("a"))
      .agg(sum(col("a"))).as[Long].head()
    val (ah, az) = (area(pathH), area(pathZ))
    info(s"total per-file bounding-box area: hilbert $ah vs z-order $az")
    assert(ah <= az, s"hilbert boxes ($ah) looser than z-order ($az)")
  }

  test("compactZOrdered: multi-dim pruning survives as a snapshot commit") {
    val path = freshTable()
    val grid = spark.range(128L * 128L)
      .select((col("id") % 128).as("x"), (col("id") / 128).cast("long").as("y"))
    // many small files, linear by x — y filters prune nothing
    SnapshotStore.commit(grid.repartitionByRange(16, col("x"))
      .sortWithinPartitions("x"), path, statsKey = Some("x"))
    val v2 = SnapshotStore.compactZOrdered(spark, path, Seq("x", "y"),
      targetBytes = 2L << 10)
    assert(v2 == 2)
    def touched(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy(input_file_name().as("f"))
        .agg(min(col("y")).as("ymin"), max(col("y")).as("ymax"))
        .filter(col("ymax") >= 16 && col("ymin") <= 23).count()
    val zFiles = SnapshotStore.read(spark, path).inputFiles.length
    // a SECOND-dim band touches a minority of the z-ordered files,
    // while the linear v1 layout spans y fully in every file
    assert(touched(SnapshotStore.read(spark, path)) <= zFiles / 2,
      s"z-order did not localize y: ${touched(SnapshotStore.read(spark, path))}/$zFiles")
    assert(touched(SnapshotStore.read(spark, path, Some(1))) >= 15L)
    // rows preserved; pinned v1 reader unaffected; stats sidecar kept
    assert(SnapshotStore.read(spark, path).count() == 128L * 128L)
    assert(SnapshotStore.read(spark, path, Some(1)).count() == 128L * 128L)
    assert(SnapshotStore.readWhere(spark, path, "x", 0, 10)
      .inputFiles.length < zFiles) // x-stats re-recorded and selective
    // multi-column sidecar (r15): readWhere file-prunes on the SECOND
    // dim too — z-files cover compact hyper-rectangles and every dim's
    // per-file range is recorded
    val yNarrow = SnapshotStore.readWhere(spark, path, "y", 16, 23)
    assert(yNarrow.inputFiles.length < zFiles,
      s"y-range readWhere did not prune: ${yNarrow.inputFiles.length}/$zFiles")
    assert(yNarrow.count() == 8L * 128L)

    // a later SINGLE-key append keeps the primary's carried stats but
    // drops the extra column (documented: re-run compactZOrdered to
    // refresh multi-dim pruning) — y reads DEGRADE to full + filter,
    // never to a wrong answer
    SnapshotStore.commit(
      spark.range(200).select(lit(200L).as("x"), col("id").as("y")),
      path, SaveMode.Append, statsKey = Some("x"))
    val afterFiles = SnapshotStore.read(spark, path).inputFiles.length
    assert(SnapshotStore.readWhere(spark, path, "x", 0, 10)
      .inputFiles.length < afterFiles) // primary still prunes
    val yAfter = SnapshotStore.readWhere(spark, path, "y", 16, 23)
    assert(yAfter.count() == 8L * 128L + 8L) // correct through degrade
  }

  test("timestamp time travel + history: #ts manifest header anchors readAsOf") {
    val path = freshTable()
    SnapshotStore.commit(spark.range(3).toDF("id"), path)           // v1
    val t1 = SnapshotStore.commitTime(path, 1)
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    SnapshotStore.commit(spark.range(3, 5).toDF("id"), path,
      SaveMode.Append, batchId = Some(9L))                           // v2
    val t2 = SnapshotStore.commitTime(path, 2)
    assert(t1 <= mid && mid < t2)

    assert(SnapshotStore.readAsOf(spark, path, mid).count() == 3)   // pins v1
    assert(SnapshotStore.readAsOf(spark, path,
      System.currentTimeMillis()).count() == 5)                      // live
    intercept[IllegalArgumentException] {
      SnapshotStore.readAsOf(spark, path, t1 - 1000)                 // pre-table
    }

    val h = SnapshotStore.history(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(h.map(_._1).toSeq == Seq(1L, 2L))
    assert(h(0)._2 == t1 && h(1)._2 == t2)
    assert(h(1)._3 > h(0)._3) // append carries v1's files + its own
    assert(h(0)._4 == -1L && h(1)._4 == 9L)

    // vacuumed versions leave history
    SnapshotStore.commit(spark.range(9).toDF("id"), path)            // v3
    SnapshotStore.vacuum(path, keepVersions = 2)
    assert(SnapshotStore.history(spark, path).select("version")
      .as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("mergeCommit without stats degrades to full rewrite, stays correct") {
    val path = freshTable()
    SnapshotStore.commit(
      spark.range(20).select(col("id"), col("id").as("v")), path) // no stats
    SnapshotStore.mergeCommit(spark, path,
      spark.range(5, 8).select(col("id"), lit(0L).as("v")), "id")
    val m = SnapshotStore.read(spark, path)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(m.size == 20 && m(5) == 0 && m(6) == 0 && m(7) == 0 && m(4) == 4)
  }

  test("snapshot reads keep parquet filter pushdown and column pruning") {
    val path = freshTable()
    SnapshotStore.commit(spark.range(1000)
      .select(col("id"), (col("id") * 2).as("v"), lit("pad").as("s")), path)
    val plan = SnapshotStore.read(spark, path)
      .filter(col("id") === 42).select("v")
      .queryExecution.executedPlan.toString
    // the manifest layer must not break the parquet source's planning:
    // the predicate reaches the scan and only (id, v) are read
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,42)]"), plan)
    assert(plan.contains("ReadSchema: struct<id:bigint,v:bigint>"), plan)
  }

  test("stream-static join: a stream enriches against a snapshot table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val path = freshTable()
    SnapshotStore.commit(
      Seq((1L, "gold"), (2L, "silver")).toDF("id", "tier"), path)
    val input = MemoryStream[Long](spark)
    val joined = input.toDF().toDF("id")
      .join(SnapshotStore.read(spark, path), Seq("id"), "left")
    val q = joined.writeStream.format("memory").queryName("snapjoin")
      .outputMode("append").start()
    try {
      input.addData(1L, 2L, 3L); q.processAllAvailable()
      val rows = spark.table("snapjoin")
        .select("id", "tier").as[(Long, Option[String])].collect().toMap
      assert(rows == Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None))
    } finally q.stop()
  }

  test("readChanges: keyed CDC classifies I/U/D, prunes carried files, compaction is silent") {
    val path = freshTable()
    val base = spark.range(100)
      .select(col("id"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("id"))
    SnapshotStore.commit(base, path, statsKey = Some("id"))          // v1
    val v1Files = SnapshotStore.read(spark, path).inputFiles.toSet
    val pinned = SnapshotStore.read(spark, path) // pinned at v1

    // v2: merge updates 90..95 and inserts 100..102 — a NARROW key
    // range [90, 102], so the stats sidecar carries the low files
    val batch = spark.range(90, 96)
      .select(col("id"), (col("id") * 1000).as("v"))
      .unionByName(spark.range(100, 103).select(col("id"), lit(-1L).as("v")))
    SnapshotStore.mergeCommit(spark, path, batch, "id")              // v2

    val cdc = SnapshotStore.readChanges(spark, path, 1, 2, Some("id"))
    val rows = cdc.select("id", "v", "_change")
      .as[(Long, Long, String)].collect().toSet
    // exactly the merged keys appear; carried survivors are silent
    assert(rows == ((90L to 95L).map(i => (i, i * 1000, "update")) ++
      (100L to 102L).map(i => (i, -1L, "insert"))).toSet)
    // file-level pruning: the CDC scan never opens carried files
    val carried = v1Files.intersect(SnapshotStore.read(spark, path).inputFiles.toSet)
    assert(carried.nonEmpty)
    assert(cdc.inputFiles.toSet.intersect(carried).isEmpty,
      "CDC read opened a carried (unchanged) file")

    // diff parity vs the full-outer-join twin over complete snapshots
    val o = SnapshotStore.read(spark, path, Some(1))
      .select(col("id"), col("v").as("v_o"))
    val n = SnapshotStore.read(spark, path, Some(2))
      .select(col("id"), col("v").as("v_n"))
    val fullDiff = o.join(n, Seq("id"), "full")
      .select(col("id"),
        when(col("v_o").isNull, "insert")
          .when(col("v_n").isNull, "delete")
          .when(!(col("v_o") <=> col("v_n")), "update").as("_change"))
      .filter(col("_change").isNotNull)
      .as[(Long, String)].collect().toSet
    assert(rows.map(r => (r._1, r._3)) == fullDiff)

    // v3: overwrite to the first half → second half becomes deletes,
    // identical first-half rewrites stay silent
    SnapshotStore.commit(SnapshotStore.read(spark, path, Some(2))
      .filter(col("id") < 50), path)                                 // v3
    val del = SnapshotStore.readChanges(spark, path, 2, 3, Some("id"))
    assert(del.select("_change").distinct().as[String].collect().toSeq == Seq("delete"))
    assert(del.count() == 53) // 50..99 + the 3 inserts

    // v4: compaction — same rows, new files → EMPTY keyed changelog,
    // while the keyless exact variant sees the rewrite as churn
    SnapshotStore.compact(spark, path, targetBytes = 1L << 30)       // v4
    assert(SnapshotStore.readChanges(spark, path, 3, 4, Some("id")).count() == 0)
    assert(SnapshotStore.readChanges(spark, path, 3, 4, None)
      .filter(col("_change") === "insert").count() == 50)

    // the v1-pinned reader is untouched by any of the commits above
    assert(pinned.count() == 100)
    assert(pinned.filter(col("id") === 12).select("v").as[Long].head() == 120)
  }

  test("incremental consumer: consume → ack → consume sees only the new delta") {
    val path = freshTable()
    SnapshotStore.commit(spark.range(10)
      .select(col("id"), col("id").as("v")), path, statsKey = Some("id"))
    // bootstrap: the whole live table arrives as inserts
    val (c1, v1) = SnapshotStore.consumeChanges(spark, path, "etl", Some("id"))
    assert(v1 == 1 && c1.get.count() == 10)
    assert(c1.get.select("_change").distinct().as[String].collect().toSeq == Seq("insert"))
    SnapshotStore.ackChanges(path, "etl", v1)
    assert(SnapshotStore.consumeChanges(spark, path, "etl", Some("id"))._1.isEmpty)
    // a merge lands; the consumer sees exactly its delta
    SnapshotStore.mergeCommit(spark, path,
      spark.range(5, 7).select(col("id"), lit(99L).as("v")), "id")
    val (c2, v2) = SnapshotStore.consumeChanges(spark, path, "etl", Some("id"))
    assert(v2 == 2)
    assert(c2.get.select("id", "v", "_change").as[(Long, Long, String)]
      .collect().toSet == Set((5L, 99L, "update"), (6L, 99L, "update")))
    // un-acked ⇒ redelivered (at-least-once); stale acks are ignored
    assert(SnapshotStore.consumeChanges(spark, path, "etl", Some("id"))._1.get.count() == 2)
    SnapshotStore.ackChanges(path, "etl", v2)
    SnapshotStore.ackChanges(path, "etl", 1L)
    assert(SnapshotStore.consumerVersion(path, "etl") == 2)
    // an independent consumer has its own pointer
    assert(SnapshotStore.consumeChanges(spark, path, "audit")._1.get.count() == 10)
  }

  test("compaction re-records the stats sidecar: a post-compact merge still prunes") {
    val path = freshTable()
    SnapshotStore.commit(spark.range(2000)
      .select(col("id"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("id")), path, statsKey = Some("id"))
    // compact into several RANGE-disjoint files, sidecar re-recorded
    val v2 = SnapshotStore.compact(spark, path, targetBytes = 4096,
      sortCols = Seq("id"))
    val v2Files = SnapshotStore.read(spark, path).inputFiles.toSet
    assert(v2Files.size > 1, s"need >1 post-compact file, got ${v2Files.size}")
    // a narrow merge touches only the overlapping file(s)
    val v3 = SnapshotStore.mergeCommit(spark, path,
      spark.range(10, 16).select(col("id"), lit(0L).as("v")), "id")
    assert(v3 == v2 + 1)
    val carried = v2Files.intersect(SnapshotStore.read(spark, path).inputFiles.toSet)
    assert(carried.nonEmpty && carried.size < v2Files.size,
      s"expected partial carry post-compact, got ${carried.size}/${v2Files.size}")
    // and the data is right
    val m = SnapshotStore.read(spark, path)
      .filter(col("id").isin(9, 10, 15, 16)).select("id", "v")
      .as[(Long, Long)].collect().toMap
    assert(m == Map(9L -> 90L, 10L -> 0L, 15L -> 0L, 16L -> 160L))
  }

  test("single-writer lock rejects a concurrent commit — and compact/vacuum take it too") {
    val path = freshTable()
    SnapshotStore.commit(spark.range(5).toDF("id"), path)
    val lock = new java.io.File(path.stripSuffix("/") + ".snapshot-lock")
    assert(lock.createNewFile())
    val prevWait = SnapshotStore.lockWaitMs
    SnapshotStore.lockWaitMs = 200 // keep the abandoned-lock waits short here
    try {
      intercept[java.io.IOException] {
        SnapshotStore.commit(spark.range(5).toDF("id"), path)
      }
      // ADVICE r13: compact and vacuum must respect the writer lock —
      // an unlocked compact can overwrite an interleaved commit, an
      // unlocked vacuum can delete an in-flight commit's data files
      intercept[java.io.IOException] {
        SnapshotStore.compact(spark, path)
      }
      intercept[java.io.IOException] {
        SnapshotStore.vacuum(path)
      }
    } finally { SnapshotStore.lockWaitMs = prevWait; lock.delete(): Unit }
    // and the table is untouched by the rejected operations
    assert(SnapshotStore.latestVersion(path) == 1)
    assert(SnapshotStore.read(spark, path).count() == 5)

    // a BRIEFLY held lock parks the writer instead of failing it — the
    // stream-batch-during-compaction pairing
    assert(lock.createNewFile())
    new Thread(() => { Thread.sleep(400); lock.delete(): Unit }).start()
    SnapshotStore.commit(spark.range(5, 8).toDF("id"), path, SaveMode.Append)
    assert(SnapshotStore.read(spark, path).count() == 8)
  }

  test("keyed CDC under schema evolution: column added between versions, common-payload hashing") {
    val path = freshTable()
    SnapshotStore.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), path)
    // v2 gains a column: key 2 updated in the COMMON payload, key 3
    // dropped, key 4 inserted, key 1 identical in common columns (its
    // fresh `extra` value alone must NOT surface as an update — the
    // old rows never carried the column, there is nothing to diff)
    SnapshotStore.commit(
      Seq((1L, "a", "x1"), (2L, "B", "x2"), (4L, "d", "x4"))
        .toDF("id", "s", "extra"), path)
    val ch = SnapshotStore.readChanges(spark, path, 1, 2, key = Some("id"))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[String]("_change"), r.getAs[String]("s"), r.getAs[String]("extra")))
      .toMap
    assert(ch.keySet == Set(2L, 3L, 4L)) // key 1 suppressed
    assert(ch(2L) == (("update", "B", "x2")))
    assert(ch(4L) == (("insert", "d", "x4")))
    // delete carries the OLD payload with the added column null-filled
    assert(ch(3L) == (("delete", "c", null)))
  }

  test("keyed CDC canonical map hashing: insertion order never surfaces as an update") {
    val path = freshTable()
    // v1: maps built a→b order; a nested map inside a struct too
    SnapshotStore.commit(
      spark.range(1, 4).select(col("id"),
        map(lit("a"), col("id"), lit("b"), col("id") * 2).as("tags"),
        struct(map(lit("x"), lit(1), lit("y"), lit(2)).as("inner"))
          .as("meta")), path)
    // v2: SAME logical rows for keys 1,2 but maps built in REVERSE
    // insertion order (different to_json without canonicalization);
    // key 3 genuinely changes one map VALUE
    SnapshotStore.commit(
      spark.range(1, 4).select(col("id"),
        map(lit("b"), col("id") * 2, lit("a"), col("id")).as("tags"),
        struct(map(lit("y"), lit(2), lit("x"), lit(1)).as("inner"))
          .as("meta"))
        .withColumn("tags", when(col("id") === 3,
          map(lit("b"), lit(99L), lit("a"), col("id")))
          .otherwise(col("tags"))), path)
    val ch = SnapshotStore.readChanges(spark, path, 1, 2, key = Some("id"))
      .select("id", "_change").as[(Long, String)].collect().toMap
    assert(ch == Map(3L -> "update")) // 1 and 2 suppressed — equal maps
  }

  test("deleteCommit: stats-pruned row deletes, pinned reader survives, CDC emits the deletes") {
    val path = freshTable()
    // range-partitioned commit with stats: 4 files with disjoint id ranges
    val df = spark.range(0, 400).select(col("id"), (col("id") * 3).as("v"))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    SnapshotStore.commit(df, path, statsKey = Some("id"))
    val pinned = SnapshotStore.read(spark, path)
    val filesBefore = pinned.inputFiles.toSet
    assert(filesBefore.size == 4)

    // takedown: delete three point keys inside one file's range
    val v2 = SnapshotStore.deleteCommit(spark, path,
      Seq(10L, 11L, 12L).toDF("id"), "id")
    assert(v2 == 2)
    val after = SnapshotStore.read(spark, path)
    assert(after.count() == 397)
    assert(after.filter(col("id").isin(10L, 11L, 12L)).count() == 0)
    // stats pruning: only the ONE overlapping file was rewritten —
    // three of the four v1 files are carried by reference
    assert(after.inputFiles.toSet.intersect(filesBefore).size == 3)
    // the pinned reader still sees the deleted rows (immutable files)
    assert(pinned.count() == 400)
    // keyed CDC across the delete: exactly the three deletes, carried
    // survivors suppressed
    val ch = SnapshotStore.readChanges(spark, path, 1, 2, key = Some("id"))
      .collect().map(r => (r.getLong(0), r.getAs[String]("_change")))
    assert(ch.sortBy(_._1).toSeq ==
      Seq((10L, "delete"), (11L, "delete"), (12L, "delete")))
    // deleting keys disjoint from every file is a no-op commit
    assert(SnapshotStore.deleteCommit(spark, path,
      Seq(9999L).toDF("id"), "id") == 2)
    // vacuum reclaims the rewritten file once v1 leaves retention
    assert(SnapshotStore.vacuum(path, keepVersions = 1) >= 1)
    assert(SnapshotStore.read(spark, path).count() == 397)
    // post-delete merge still prunes: the sidecar survived the delete
    val v3 = SnapshotStore.mergeCommit(spark, path,
      Seq((200L, 999L)).toDF("id", "v"), "id")
    val merged = SnapshotStore.read(spark, path, Some(v3))
    assert(merged.filter(col("id") === 200).select("v").as[Long].head() == 999L)
    assert(merged.count() == 397)
  }

  test("optimistic multi-writer: append rebases, non-append aborts, crashed publish heals") {
    val path = freshTable()
    SnapshotStore.commit(Seq((1L, "base")).toDF("id", "s"), path)
    val seen = SnapshotStore.latestVersion(path) // both writers read v1

    // writer A wins the race
    val vA = SnapshotStore.commitIf(Seq((2L, "a")).toDF("id", "s"), path, seen)
    assert(vA == 2)
    // writer B prepared against v1, but appends are file-disjoint by
    // construction: the rebase carries A's manifest and both rows land
    val vB = SnapshotStore.commitIf(Seq((3L, "b")).toDF("id", "s"), path, seen)
    assert(vB == 3)
    assert(SnapshotStore.read(spark, path).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))

    // a non-append prepared against a stale snapshot must ABORT — an
    // auto-merge would silently drop the winner's rows
    intercept[SnapshotStore.VersionConflictException] {
      SnapshotStore.commitIf(Seq((9L, "z")).toDF("id", "s"), path, seen,
        SaveMode.Overwrite)
    }
    assert(SnapshotStore.latestVersion(path) == 3)
    // ...and at the CURRENT version it publishes normally
    val v4 = SnapshotStore.commitIf(Seq((9L, "z")).toDF("id", "s"), path, 3,
      SaveMode.Overwrite)
    assert(v4 == 4 && SnapshotStore.read(spark, path).count() == 1)

    // crash between manifest write and pointer publish: the next
    // commitIf heals (no batch sidecar → roll back) and proceeds
    val snapDir = new java.io.File(path, "_snapshots")
    val orphan = new java.io.File(snapDir, f"v${5L}%08d.manifest")
    java.nio.file.Files.write(orphan.toPath,
      "/nonexistent/file.parquet\n".getBytes("UTF-8"))
    val v5 = SnapshotStore.commitIf(Seq((10L, "y")).toDF("id", "s"), path, 4)
    assert(v5 == 5)
    assert(SnapshotStore.read(spark, path).select("id")
      .as[Long].collect().sorted.toSeq == Seq(9L, 10L))
  }

  test("compact without sortCols keeps the stats sidecar via its recorded #key header") {
    val path = freshTable()
    val df = spark.range(0, 100).select(col("id"), (col("id") * 2).as("v"))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    SnapshotStore.commit(df, path, statsKey = Some("id"))
    // plain coalesce compaction: no sortCols, no statsKey — the r15
    // header keeps the pruning layer instead of silently dropping it
    val v2 = SnapshotStore.compact(spark, path, targetBytes = 1L << 30)
    val sidecar = new java.io.File(new java.io.File(path, "_snapshots"),
      f"v$v2%08d.stats")
    assert(sidecar.exists())
    val text = new String(java.nio.file.Files.readAllBytes(sidecar.toPath), "UTF-8")
    assert(text.startsWith("#key=id"))
    // and a post-compact merge still works against the kept stats
    val v3 = SnapshotStore.mergeCommit(spark, path,
      Seq((5L, 111L)).toDF("id", "v"), "id")
    assert(SnapshotStore.read(spark, path, Some(v3))
      .filter(col("id") === 5).select("v").as[Long].head() == 111L)
  }

  test("schema-evolving appends read back with the UNION schema, old rows null-filled") {
    val path = freshTable()
    SnapshotStore.commit(Seq((1L, "a")).toDF("id", "s"), path)
    SnapshotStore.commit(Seq((2L, "b", 42L)).toDF("id", "s", "extra"), path,
      SaveMode.Append)
    val live = SnapshotStore.read(spark, path)
    // without mergeSchema the inferred schema samples one footer and
    // could silently DROP `extra`; the union schema must surface it
    assert(live.columns.sorted.toSeq == Seq("extra", "id", "s"))
    val rows = live.select("id", "extra").as[(Long, Option[Long])]
      .collect().toMap
    assert(rows == Map(1L -> None, 2L -> Some(42L)))
    // and the keyed CDC across the evolving boundary still classifies
    val ch = SnapshotStore.readChanges(spark, path, 1, 2, Some("id"))
      .collect().map(r => (r.getLong(0), r.getAs[String]("_change")))
    assert(ch.toSeq == Seq((2L, "insert")))
  }

  test("delete/merge by a column the sidecar does NOT track degrades to touched, never loses rows") {
    val path = freshTable()
    // sidecar tracks `ts`; ids and timestamps are anti-correlated so
    // the file holding id=10 has a ts-range disjoint from id-bounds —
    // pruning by the WRONG column's ranges would classify it untouched
    // and the takedown would silently miss its rows
    val df = spark.range(0, 400)
      .select(col("id"), (lit(10000L) - col("id")).as("ts"), (col("id") * 3).as("v"))
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
    SnapshotStore.commit(df, path, statsKey = Some("ts"))
    val v2 = SnapshotStore.deleteCommit(spark, path,
      Seq(10L, 11L, 12L).toDF("id"), "id")
    assert(v2 == 2)
    val after = SnapshotStore.read(spark, path)
    assert(after.count() == 397)
    assert(after.filter(col("id").isin(10L, 11L, 12L)).count() == 0)
    // same hazard on merge: upsert by id on the ts-tracked table must
    // REPLACE the old row, not append a duplicate next to a skipped file
    SnapshotStore.mergeCommit(spark, path, Seq((20L, 7777L, 0L))
      .toDF("id", "ts", "v"), "id")
    val merged = SnapshotStore.read(spark, path)
    assert(merged.filter(col("id") === 20).count() == 1)
    assert(merged.filter(col("id") === 20).select("v").as[Long].head() == 0L)
    // both maintenance commits preserved the table's TRACKED column
    // (ts) instead of silently switching the sidecar to their own key
    val ranged = SnapshotStore.read(spark, path)
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
    SnapshotStore.commit(ranged, path, SaveMode.Overwrite,
      statsKey = Some("ts"))
    val before = SnapshotStore.read(spark, path).inputFiles.toSet
    SnapshotStore.deleteCommit(spark, path, Seq(9800L).toDF("ts"), "ts")
    val kept = SnapshotStore.read(spark, path).inputFiles.toSet
    assert(kept.intersect(before).size == 3) // disjoint files carried by reference
  }

  test("compaction of a schema-evolved table preserves the later-added column") {
    val path = freshTable()
    SnapshotStore.commit(
      spark.range(0, 50).select(col("id"), (col("id") * 2).as("s")), path,
      statsKey = Some("id"))
    SnapshotStore.commit(
      spark.range(50, 100).select(col("id"), (col("id") * 2).as("s"),
        lit("new").as("extra")), path, SaveMode.Append,
      statsKey = Some("id"))
    // compact fully REPLACES the table: a one-footer schema sample
    // here would permanently lose `extra` (and vacuum the evidence)
    val v3 = SnapshotStore.compact(spark, path, sortCols = Seq("id"))
    val c = SnapshotStore.read(spark, path, Some(v3))
    assert(c.columns.sorted.toSeq == Seq("extra", "id", "s"))
    assert(c.filter(col("extra") === "new").count() == 50)
    assert(c.filter(col("extra").isNull).count() == 50)
    // z-order compaction shares the rewrite path and the hazard
    val v4 = SnapshotStore.compactZOrdered(spark, path, Seq("id", "s"))
    val z = SnapshotStore.read(spark, path, Some(v4))
    assert(z.columns.sorted.toSeq == Seq("extra", "id", "s"))
    assert(z.filter(col("extra") === "new").count() == 50)
    // delete touching evolved+unevolved files keeps the union schema
    SnapshotStore.commit(
      spark.range(100, 110).select(col("id"), (col("id") * 2).as("s")),
      path, SaveMode.Append, statsKey = Some("id"))
    SnapshotStore.deleteCommit(spark, path, Seq(60L, 105L).toDF("id"), "id")
    val d = SnapshotStore.read(spark, path)
    assert(d.columns.sorted.toSeq == Seq("extra", "id", "s"))
    assert(d.count() == 108 && d.filter(col("extra") === "new").count() == 49)
  }

  test("keyed CDC across NON-adjacent versions with schema evolution") {
    val path = freshTable()
    SnapshotStore.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path)
    SnapshotStore.commit(Seq((3L, "c", "x3")).toDF("id", "s", "extra"),
      path, SaveMode.Append)
    SnapshotStore.commit(Seq((4L, "d", "x4")).toDF("id", "s", "extra"),
      path, SaveMode.Append)
    // fromV..toV spans two commits: the added-file set mixes schemas
    // only via evolution — `extra` must survive in the delta
    val ch = SnapshotStore.readChanges(spark, path, 1, 3, key = Some("id"))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[String]("_change"), r.getAs[String]("extra"))).toMap
    assert(ch.keySet == Set(3L, 4L))
    assert(ch(3L) == (("insert", "x3")) && ch(4L) == (("insert", "x4")))
    // keyless variant over the same span keeps the union schema too
    val kl = SnapshotStore.readChanges(spark, path, 1, 3)
    assert(kl.columns.contains("extra") && kl.count() == 2)
    // readWhere's everything-pruned branch presents the SAME union
    // schema as the kept branch (and col(key) resolves)
    SnapshotStore.commit(SnapshotStore.read(spark, path)
      .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      path, SaveMode.Overwrite, statsKey = Some("id"))
    val hit = SnapshotStore.readWhere(spark, path, "id", 1, 2)
    val miss = SnapshotStore.readWhere(spark, path, "id", 900, 999)
    assert(miss.columns.toSeq == hit.columns.toSeq)
    assert(miss.count() == 0 && hit.count() == 2)
  }

  test("stats checkpoint: 1024-file prune, driver and distributed branches") {
    // 2048 stats rows: small enough for the driver-side prune; the
    // forced-distributed run checks the Spark-job prune on the same
    // table shape, assertion for assertion
    def check(): Unit = {
      val path = freshTable()
      // a many-file table: 1024 range-disjoint files (the tools probe
      // runs the same shape at 10⁴ files — see StatsCheckpointProbe)
      SnapshotStore.commit(
        spark.range(0, 65536).select(col("id"), (col("id") * 3).as("v"))
          .repartitionByRange(1024, col("id")).sortWithinPartitions("id"),
        path, statsKey = Some("id"))
      val snap = new java.io.File(path, "_snapshots")
      // per-file ranges live in the parquet CHECKPOINT, not on the driver:
      // the text sidecar carries only the constant-size #key header
      val ck = new java.io.File(snap, "v00000001.statspq")
      assert(ck.exists() && ck.isDirectory)
      val headerOnly = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(snap, "v00000001.stats").toPath), "UTF-8")
      // no per-file body lines; the header records the declared key plus
      // the auto-extended all-column list (r18)
      assert(headerOnly.trim == "#key=id\n#cols=id,v")
      // the checkpoint holds one range row per (file × tracked column) —
      // two columns since the r18 all-column extension
      assert(spark.read.parquet(ck.getPath).count() == 2048)
      // readWhere: the stats prune → a point-range scan opens ~1 of
      // 1024 files and answers exactly
      val w = SnapshotStore.readWhere(spark, path, "id", 5000, 5003)
      assert(w.inputFiles.length <= 2)
      assert(w.select("v").as[Long].collect().sorted.toSeq ==
        Seq(15000L, 15003L, 15006L, 15009L))
      // an append's checkpoint holds ONLY its fresh files' rows (r17:
      // the O(delta) commit — the chain resolves the rest); pruning
      // still sees all 1026 ranges through the chain union
      SnapshotStore.commit(
        spark.range(65536, 65600).select(col("id"), (col("id") * 3).as("v"))
          .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
        path, SaveMode.Append, statsKey = Some("id"))
      assert(spark.read.parquet(
        new java.io.File(snap, "v00000002.statspq").getPath).count() == 4)
      // chain-resolved prune: a point read in the APPENDED range opens
      // ~1 of 1026 files, and one in the BASE range still prunes too
      val w2 = SnapshotStore.readWhere(spark, path, "id", 65590, 65591)
      assert(w2.inputFiles.length <= 2)
      assert(w2.count() == 2)
      // mergeCommit prunes from the checkpoint: a point merge touches
      // ONE of the 1026 files, every other file carried by reference
      val before = SnapshotStore.read(spark, path).inputFiles.toSet
      SnapshotStore.mergeCommit(spark, path,
        Seq((300L, -1L)).toDF("id", "v"), "id")
      val after = SnapshotStore.read(spark, path)
      assert(after.inputFiles.toSet.intersect(before).size == before.size - 1)
      assert(after.filter(col("id") === 300).select("v").as[Long].head() == -1L)
      assert(after.count() == 65600)
    }
    check()
    SnapshotStore.distributedPrune.withValue(true)(check())
  }

  test("optimistic merge/delete: provably disjoint concurrent commits both land, overlap aborts") {
    val path = freshTable()
    // range-partitioned, stats-tracked: 8 files with disjoint id ranges
    SnapshotStore.commit(
      spark.range(0, 8000).select(col("id"), (col("id") * 3).as("v"))
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      path, statsKey = Some("id"))
    val seen = SnapshotStore.latestVersion(path) // both writers read v1

    // writer A (delete of ids near 7000) lands FIRST — table advances
    val vA = SnapshotStore.deleteCommitIf(spark, path,
      Seq(7000L, 7001L).toDF("id"), "id", seen)
    assert(vA == 2)

    // writer B prepared a point merge at id=100 against v1: the stats
    // checkpoint proves A's touched files are disjoint → REBASE, lands
    val vB = SnapshotStore.mergeCommitIf(spark, path,
      Seq((100L, -1L)).toDF("id", "v"), "id", seen)
    assert(vB == 3)
    val after = SnapshotStore.read(spark, path)
    assert(after.count() == 8000 - 2) // A's 2 deletes, B's in-place update
    assert(after.filter(col("id") === 100).select("v").as[Long].head() == -1L)
    assert(after.filter(col("id") === 7000).count() == 0)

    // writer C prepared a delete OVERLAPPING B's merged key range
    // against v2 — unprovable serial equivalence → abort
    intercept[SnapshotStore.VersionConflictException] {
      SnapshotStore.deleteCommitIf(spark, path,
        Seq(100L).toDF("id"), "id", vA)
    }
    // ... and a provably disjoint delete prepared against the SAME
    // stale v2 still rebases through B's commit
    val vD = SnapshotStore.deleteCommitIf(spark, path,
      Seq(4000L).toDF("id"), "id", vA)
    assert(vD == 4)
    assert(SnapshotStore.read(spark, path).count() == 7997)

    // a stats-less intervening commit (no provable ranges) aborts even
    // when actually disjoint — unprovable must never silently rebase
    val p2 = freshTable()
    SnapshotStore.commit(Seq((1L, 1L), (2L, 2L)).toDF("id", "v"), p2)
    val s2 = SnapshotStore.latestVersion(p2)
    SnapshotStore.commit(Seq((10L, 10L)).toDF("id", "v"), p2, SaveMode.Append)
    intercept[SnapshotStore.VersionConflictException] {
      SnapshotStore.mergeCommitIf(spark, p2,
        Seq((2L, -2L)).toDF("id", "v"), "id", s2)
    }

    // on a stats-TRACKED table, an intervening file with no range for
    // the key (its ids are all null, so only v is recorded) is just as
    // unprovable, and the table stays as the winner left it
    val p3 = freshTable()
    SnapshotStore.commit(Seq((1L, 1L), (2L, 2L)).toDF("id", "v"), p3,
      statsKey = Some("id"))
    val s3 = SnapshotStore.latestVersion(p3)
    SnapshotStore.commit(Seq((Option.empty[Long], 10L)).toDF("id", "v"), p3,
      SaveMode.Append)
    val before3 = SnapshotStore.read(spark, p3)
    val (files3, rows3) = (before3.inputFiles.toSet, before3.collect().toSet)
    assert(rows3.size == 3)
    intercept[SnapshotStore.VersionConflictException] {
      SnapshotStore.mergeCommitIf(spark, p3,
        Seq((2L, -2L)).toDF("id", "v"), "id", s3)
    }
    val after3 = SnapshotStore.read(spark, p3)
    assert(after3.inputFiles.toSet == files3)
    assert(after3.collect().toSet == rows3)
  }

  test("column mapping: rename/drop are metadata-only commits, CDC classifies via physical ids") {
    val path = freshTable()
    SnapshotStore.commit(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "score"),
      path, statsKey = Some("id"))
    // v2: rename score -> quality — ZERO data rewritten
    val v2 = SnapshotStore.renameColumn(spark, path, "score", "quality")
    assert(v2 == 2)
    assert(SnapshotStore.read(spark, path).columns.toSeq ==
      Seq("id", "s", "quality"))
    assert(SnapshotStore.read(spark, path).inputFiles.toSet ==
      SnapshotStore.read(spark, path, Some(1)).inputFiles.toSet)
    // a pure rename yields an EMPTY keyed changelog (stable physical ids)
    assert(SnapshotStore.readChanges(spark, path, 1, 2, Some("id")).count() == 0)
    // time travel to v1 still presents the OLD name
    assert(SnapshotStore.read(spark, path, Some(1)).columns.toSeq ==
      Seq("id", "s", "score"))
    // appends speak the NEW logical name, landing under the stable
    // physical name; stats keep pruning
    SnapshotStore.commit(Seq((3L, "c", 30L)).toDF("id", "s", "quality"),
      path, SaveMode.Append, statsKey = Some("id"))
    // merge updates through the mapping
    SnapshotStore.mergeCommit(spark, path,
      Seq((1L, "a", 11L)).toDF("id", "s", "quality"), "id")
    // CDC spanning append + merge presents the logical name and
    // classifies via physical ids: id=3 insert, id=1 update
    val cdc = SnapshotStore.readChanges(spark, path, 2, 4, Some("id"))
    assert(cdc.columns.contains("quality") && !cdc.columns.contains("score"))
    assert(cdc.filter(col("_change") === "insert")
      .select("id").as[Long].collect().toSeq == Seq(3L))
    assert(cdc.filter(col("_change") === "update")
      .select("quality").as[Long].head() == 11L)
    // readWhere takes the logical key, prunes via the physical stats
    assert(SnapshotStore.readWhere(spark, path, "id", 3, 3)
      .select("quality").as[Long].head() == 30L)
    // drop: metadata-only — gone from live reads, past versions keep it
    SnapshotStore.dropColumn(spark, path, "s")
    assert(SnapshotStore.read(spark, path).columns.toSeq ==
      Seq("id", "quality"))
    assert(SnapshotStore.read(spark, path, Some(4)).columns.contains("s"))
    // appends no longer need the dropped column
    SnapshotStore.commit(Seq((4L, 40L)).toDF("id", "quality"),
      path, SaveMode.Append)
    val live = SnapshotStore.read(spark, path)
    assert(live.count() == 4)
    assert(live.filter(col("id") === 1).select("quality")
      .as[Long].head() == 11L)
  }

  test("streamSink retries through a long-held writer lock instead of failing the stream") {
    val path = freshTable()
    SnapshotStore.commit(Seq((1L, "x")).toDF("id", "s"), path)
    val lock = new java.io.File(path.stripSuffix("/") + ".snapshot-lock")
    val prevWait = SnapshotStore.lockWaitMs
    SnapshotStore.lockWaitMs = 300
    try {
      assert(lock.createNewFile()) // a "compaction" holds the lock...
      // ...for ~2.5 lock waits — longer than one timeout, shorter than
      // the sink's total patience
      new Thread(() => { Thread.sleep(750); lock.delete(): Unit }).start()
      SnapshotStore.streamSink(path)(Seq((2L, "y")).toDF("id", "s"), 0L)
      assert(SnapshotStore.read(spark, path).count() == 2)
    } finally { SnapshotStore.lockWaitMs = prevWait; lock.delete(): Unit }
  }
}
