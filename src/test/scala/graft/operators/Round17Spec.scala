package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r17: PQ-compressed stored graph index — DiskANN's memory story:
  * traversal scores from 8 small ints per vector instead of 64
  * doubles, exact re-rank of the final beam restores accuracy. */
class PqGraphIndexSpec extends SparkSpec {

  private def relabel(df: org.apache.spark.sql.DataFrame, offset: Long) =
    df.select((col("vec_id") + offset).as("vec_id"), col("embedding"))

  test("PQ traversal + exact re-rank: recall within 0.05 of the uncompressed index; >=10x fewer traversal vector bytes") {
    val t = tables
    val corpus = t.embeddings.filter(col("vec_id") >= 100)
    GraphAnnIndex.writeIndex(corpus, "gpq")
    GraphAnnIndex.writePq(spark, "gpq")
    graft.CacheRegistry.drain()

    val queries = relabel(t.embeddings.filter(col("vec_id") < 10), 100000L)
    val truth = Similarity.bruteKnn(corpus,
        t.embeddings.filter(col("vec_id") < 10), 5)
      .collect().map(r => (r.getLong(0) + 100000L, r.getLong(2))).toSet
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
        .intersect(truth).size.toDouble / truth.size

    val plain = recallOf(GraphAnnIndex.search(spark, queries, "gpq").collect())
    graft.CacheRegistry.drain()
    val pq = recallOf(GraphAnnIndex.searchPq(spark, queries, "gpq").collect())
    graft.CacheRegistry.drain()
    info(s"recall@5 uncompressed=$plain pq+rerank=$pq")
    assert(pq >= plain - 0.05,
      s"PQ traversal lost more than 0.05 recall: $pq vs $plain")

    // traversal bytes: 8 int codes vs 64 double components per vector
    val codeRow = spark.table("gpq_gpqcodes")
    val vecRow = spark.table("gpq_gvectors")
    assert(codeRow.select(size(col("e"))).head().getInt(0) == 8)
    assert(vecRow.select(size(col("e"))).head().getInt(0) == 64)
    // logical bytes per vector: 8×4 vs 64×8 = 16× smaller
    assert(64 * 8 / (8 * 4) >= 10)
    // and the stored sidecar really is much smaller on disk
    def dirBytes(table: String): Long = {
      val loc = spark.sql(s"DESCRIBE EXTENDED $table").collect()
        .find(_.getString(0) == "Location").get.getString(1)
        .stripPrefix("file:")
      def walk(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else f.length()
      walk(new java.io.File(loc))
    }
    val ratio = dirBytes("gpq_gvectors").toDouble / dirBytes("gpq_gpqcodes")
    info(s"on-disk vectors/codes byte ratio: $ratio")
    assert(ratio > 4.0, s"PQ sidecar not materially smaller: $ratio")

    // codebook is broadcast-sized: ≤ subspaces × nCent rows (empty
    // Lloyd clusters drop out; the dense LUT grid fills them with ∞)
    val nCb = spark.table("gpq_gpqcent").count()
    assert(nCb > 0 && nCb <= 8L * 256L)
  }
}

/** r17 operator gates: the span-classed interval join. */
class SpanClassedIntervalSpec extends SparkSpec {
  import spark.implicits._

  /** Heavy-tailed synthetic intervals: most spans ≤ 10, a few huge. */
  private def intervals = spark.range(0, 400).select(
    (col("id") % 7).as("pk"),
    col("id").as("id"),
    (col("id") * 13 % 500).as("s"),
    when(col("id") % 50 === 0, lit(300L) + col("id") % 77)
      .otherwise(col("id") % 10 + 1).as("tr"))
    .withColumn("r", col("s") + col("tr"))
    .select("pk", "id", "s", "r")

  private def brute = {
    val a = intervals.select(col("pk"), col("id").as("id_a"),
      col("s").as("s_a"), col("r").as("r_a"))
    val b = intervals.select(col("pk"), col("id").as("id_b"),
      col("s").as("s_b"), col("r").as("r_b"))
    a.join(b, Seq("pk"))
      .filter(col("id_a") < col("id_b") &&
        col("s_a") <= col("r_b") && col("s_b") <= col("r_a"))
      .select(col("pk"),
        (least(col("r_a"), col("r_b")) -
          greatest(col("s_a"), col("s_b")) + 1).as("od"))
  }

  test("span-classed pairs == all-pairs definition on heavy-tailed spans") {
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("pk").agg(count(lit(1)).as("n"), sum("od").as("od_sum"),
        max("od").as("od_max"))
        .as[(Long, Long, Long, Long)].collect().toSet
    assert(agg(RangeJoin.spanClassedPairs(intervals, threshold = 10L)) ==
      agg(brute))
  }

  test("plan: long-class joins broadcast, no cartesian product anywhere") {
    val plan = RangeJoin.spanClassedPairs(intervals, threshold = 10L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "long-tail pairs must plan as broadcast hash joins")
    assert(!plan.contains("CartesianProduct"),
      "span-classed join must never plan a cartesian product")
  }

  test("broadcast premise is guarded: an oversized long tail aborts with guidance") {
    val ex = intercept[IllegalArgumentException] {
      RangeJoin.spanClassedPairs(intervals, threshold = 10L,
        maxLongRows = 2L).count()
    }
    assert(ex.getMessage.contains("raise the threshold"))
  }

  test("degenerate classes: all-short and all-long inputs are both total") {
    val allShort = intervals.filter(col("r") - col("s") <= 10)
    val allLong = intervals.filter(col("r") - col("s") > 10)
    // all-short: long side empty → grid only
    assert(RangeJoin.spanClassedPairs(allShort, 10L).count() > 0)
    // all-long: grid empty → broadcast self-pairing only
    assert(RangeJoin.spanClassedPairs(allLong, 10L).count() ==
      allLong.as("a").join(allLong.as("b"),
        col("a.pk") === col("b.pk") && col("a.id") < col("b.id") &&
          col("a.s") <= col("b.r") && col("b.s") <= col("a.r")).count())
  }
}
