package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.{JobCount, SparkSpec}
import graft.operators.Tuning
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampType}

/** The schema memo behind [[Tables.open]]: a reopen runs no job and reads
  * what a plain `spark.read.parquet` reads, and a changed table, a
  * changed inference conf or the bound each make it infer again. */
class TablesSpec extends SparkSpec {

  private def fingerprint(df: DataFrame): Row =
    df.select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()

  private def jobs(body: => DataFrame): Int = JobCount(spark)(body)._2

  private def scratch(): String = Files.createTempDirectory("tables-spec").toString

  /** The one data file of a table written with `coalesce(1)`. */
  private def partFile(table: String): java.nio.file.Path =
    new java.io.File(table).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head.toPath

  test("every table reopens with zero jobs, under the schema and rows of a plain read") {
    Tables.Names.foreach(tables.table)
    Tables.Names.foreach { n =>
      assert(jobs(tables.table(n)) == 0, s"$n: reopen ran a job")
      val path = s"$sfDir/$n.parquet"
      val (memo, memoJobs) = JobCount(spark)(Tables.open(spark, path))
      assert(memoJobs == 0, s"$n: reopen ran a job")
      val plain = spark.read.parquet(path)
      assert(memo.schema == plain.schema, n)
      assert(fingerprint(memo) == fingerprint(plain), n)
    }
    assert(tables.events.schema("ts").dataType == TimestampType)
  }

  test("a table rewritten at the same path is inferred again") {
    val path = s"${scratch()}/t.parquet"
    spark.range(3).coalesce(1).write.parquet(path)
    assert(Tables.open(spark, path).columns.toSeq == Seq("id"))
    assert(jobs(Tables.open(spark, path)) == 0)

    spark.range(10, 15).selectExpr("id", "id * 2 AS twice").coalesce(1)
      .write.mode("overwrite").parquet(path)
    val (df, inferred) = JobCount(spark)(Tables.open(spark, path))
    assert(inferred > 0, "a new file must miss the memo")
    assert(df.columns.toSeq == Seq("id", "twice"))
    assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (10L to 14L).map(i => (i, 2 * i)))

    // regenerated in place under the SAME file name: length/mtime miss
    val other = s"${scratch()}/other.parquet"
    spark.range(20, 22).selectExpr("id", "id * 2 AS twice", "CAST(id AS STRING) AS s")
      .coalesce(1).write.parquet(other)
    Thread.sleep(5) // a distinct modification time even if lengths agreed
    val target = partFile(path)
    Files.copy(partFile(other), target, StandardCopyOption.REPLACE_EXISTING)
    Files.delete(target.resolveSibling(s".${target.getFileName}.crc")) // now stale
    val (same, again) = JobCount(spark)(Tables.open(spark, path))
    assert(again > 0, "a file rewritten under its name must miss the memo")
    assert(same.columns.toSeq == Seq("id", "twice", "s"))
    assert(same.orderBy("id").collect().map(_.getString(2)).toSeq == Seq("20", "21"))
  }

  test("a scoped child with a different inference conf gets its own entry") {
    // a file without Spark's schema metadata, so binaryAsString decides b's type
    val path = s"${scratch()}/bin.parquet"
    val schema = MessageTypeParser.parseMessageType("message t { required int64 id; required binary b; }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 2).foreach(i => writer.write(rows.newGroup().append("id", i.toLong).append("b", i.toString)))
    finally writer.close()
    val child = Tuning.scoped(spark, "spark.sql.parquet.binaryAsString" -> "true")
    assert(Tables.open(spark, path).schema("b").dataType == BinaryType)
    assert(Tables.open(child, path).schema("b").dataType == StringType)
    assert(JobCount(child)(Tables.open(child, path))._2 == 0)
    assert(Tables.open(spark, path).schema("b").dataType == BinaryType)
    assert(Tables.open(child, path).orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("0", "1"))
  }

  test("the memo stays within its bound, least recently used out") {
    val dir = scratch()
    spark.range(1).coalesce(1).write.parquet(s"$dir/src.parquet")
    val file = partFile(s"$dir/src.parquet")
    val copies = (1 to Tables.MaxSchemas + 4).map { i =>
      val p = s"$dir/copy-$i.parquet"
      Files.copy(file, Paths.get(p))
      Tables.open(spark, p)
      assert(Tables.memoSize <= Tables.MaxSchemas)
      p
    }
    assert(Tables.memoSize == Tables.MaxSchemas)
    assert(jobs(Tables.open(spark, copies.last)) == 0, "the newest entry is held")
    assert(jobs(Tables.open(spark, copies.head)) > 0, "the oldest entry was evicted")
  }
}
