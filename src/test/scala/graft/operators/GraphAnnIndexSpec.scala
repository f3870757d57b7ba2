package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** Stored graph-ANN index: build once, search from a fresh session at
  * probe-budget cost, HNSW-style insert without touching the stored
  * corpus, degree-restoring compaction — the GraphAnn serving story. */
class GraphAnnIndexSpec extends SparkSpec {

  private def probeSession() = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2
  }

  /** queries re-labeled away from indexed ids (search excludes only
    * dst == qid, so colliding labels would self-suppress). */
  private def relabel(df: org.apache.spark.sql.DataFrame, offset: Long) =
    df.select((col("vec_id") + offset).as("vec_id"), col("embedding"))

  test("stored graph searched from a fresh session: recall vs brute force held") {
    val t = tables
    val corpus = t.embeddings.filter(col("vec_id") >= 100)
    GraphAnnIndex.writeIndex(corpus, "gidx")
    graft.CacheRegistry.drain()

    val s2 = probeSession()
    val t2 = graft.sources.Tables(s2, sfDir)
    val queries = relabel(t2.embeddings.filter(col("vec_id") < 10), 100000L)
    val got = GraphAnnIndex.search(s2, queries, "gidx").collect()
    // well-formed: dense ranks, no self, neighbors come from the corpus
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length).toSeq)
    }
    assert(got.forall(r => r.getLong(2) >= 100 && r.getLong(2) < 100000L))
    val truth = Similarity.bruteKnn(corpus,
        t.embeddings.filter(col("vec_id") < 10), 5)
      .collect().map(r => (r.getLong(0) + 100000L, r.getLong(2))).toSet
    val pairs = got.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = pairs.intersect(truth).size.toDouble / truth.size
    info(s"stored-graph recall@5 vs brute: $recall")
    assert(recall >= 0.5, s"stored-graph recall collapsed: $recall")
  }

  test("searchWhere: metadata post-filter — only admitted labels, boosted budget holds recall") {
    val t = tables
    val corpus = t.embeddings.filter(col("vec_id") >= 100)
    GraphAnnIndex.writeIndex(corpus, "gidxf")
    graft.CacheRegistry.drain()

    val meta = t.embeddings.select(col("vec_id"), col("label"))
    val queries = relabel(t.embeddings.filter(col("vec_id") < 10), 100000L)
    val k = 5
    val got = GraphAnnIndex.searchWhere(spark, queries, "gidxf",
      meta, col("label") === 3, k, beam = 24, hops = 5).collect()
    assert(got.nonEmpty)
    // every admitted neighbor really has the label
    val lbl3 = t.embeddings.filter(col("label") === 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.forall(r => lbl3.contains(r.getLong(2))))
    // recall vs the filtered brute-force truth at the boosted budget
    val truth = Similarity.bruteKnn(
        corpus.join(t.embeddings.filter(col("label") === 3)
          .select("vec_id"), Seq("vec_id")),
        relabel(t.embeddings.filter(col("vec_id") < 10), 100000L), k)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pairs = got.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = pairs.intersect(truth).size.toDouble / truth.size
    info(s"filtered graph search recall@$k: $recall")
    assert(recall >= 0.4, s"filtered recall collapsed: $recall")
  }

  test("insert: new vectors become reachable without rewriting the stored graph") {
    val t = tables
    // index was built on vec_id >= 100 by the previous test order —
    // build a fresh one here to be order-independent
    GraphAnnIndex.writeIndex(t.embeddings.filter(col("vec_id") >= 100),
      "gins")
    val batch = t.embeddings.filter(col("vec_id") < 50)
    GraphAnnIndex.insert(spark, batch, "gins")
    graft.CacheRegistry.drain()

    // probing with an inserted vector's OWN embedding must surface it
    // as the top hit (cosine 1): reachable ⇒ reverse edges navigate
    val probes = relabel(t.embeddings.filter(col("vec_id") < 5), 100000L)
    val got = GraphAnnIndex.search(spark, probes, "gins", k = 1).collect()
    got.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) - 100000L,
        s"inserted vector not found as its own nearest neighbor: $r")
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)
    }
  }

  test("compactIndex restores the degree bound; search still green") {
    val t = tables
    GraphAnnIndex.writeIndex(t.embeddings.filter(col("vec_id") >= 100),
      "gcomp", degree = 10)
    GraphAnnIndex.insert(spark, t.embeddings.filter(col("vec_id") < 50),
      "gcomp", degree = 10)
    GraphAnnIndex.compactIndex(spark, "gcomp", degree = 10)
    graft.CacheRegistry.drain()
    val maxDeg = spark.table("gcomp_gedges")
      .groupBy("src").count().agg(max("count")).head().getLong(0)
    assert(maxDeg <= 10, s"compaction left degree $maxDeg > 10")
    // one file per bucket, counted as StoredIndexSpec.bucketFileNames does
    def bucketFiles(table: String): Int = new java.io.File(new java.net.URI(
      spark.sql(s"DESCRIBE TABLE EXTENDED $table")
        .filter(col("col_name") === "Location").head.getString(1)))
      .listFiles((_, n) => n.endsWith(".parquet")).length
    for ((table, most) <- Seq("gcomp_gedges" -> 8, "gcomp_gvectors" -> 8,
                              "gcomp_gentry" -> 1))
      assert(bucketFiles(table) <= most,
        s"compaction left ${bucketFiles(table)} files in $table, more than $most")
    val probes = relabel(t.embeddings.filter(col("vec_id") < 3), 100000L)
    val got = GraphAnnIndex.search(spark, probes, "gcomp", k = 1).collect()
    assert(got.forall(r => r.getLong(2) == r.getLong(0) - 100000L))
  }

  test("search hop joins read the stored edge table in place (no index-side Exchange)") {
    val s2 = probeSession()
    // the hop shape: a skinny frontier joining the bucketed edge table
    // on src — the stored side must come through its bucketed layout
    // with no Exchange below the join
    import s2.implicits._
    val frontier = Seq((100001L, 150L), (100001L, 151L)).toDF("qid", "cur")
    val probe = frontier
      .join(s2.table("gidx_gedges")
        .withColumnRenamed("src", "cur"), Seq("cur"))
    probe.count()
    def paths(p: SparkPlan, anc: List[SparkPlan]): Seq[List[SparkPlan]] = {
      val here = p match {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("gidx_")) =>
          Seq(p :: anc)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case _                        => p.children
      }
      here ++ kids.flatMap(paths(_, p :: anc))
    }
    val chains = paths(probe.queryExecution.executedPlan, Nil)
    assert(chains.nonEmpty, "edge-table scan not found in the hop plan")
    chains.foreach { case (scan: FileSourceScanExec) :: ancestors =>
      assert(scan.bucketedScan, s"edge table not read bucketed: $scan")
      val belowJoin = ancestors.takeWhile {
        case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
        case _                                                    => true
      }
      assert(belowJoin.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        "stored edge scan re-shuffled before its hop join")
    }
  }
}
