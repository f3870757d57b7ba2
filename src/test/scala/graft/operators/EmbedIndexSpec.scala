package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** VERDICT r13 item 5: the embedding-LSH family gets the same
  * stored-index treatment as MinHash (DedupIndex/StoredIndexSpec) —
  * bucketed hyperplane-bucket tables, zero-shuffle index-side probes,
  * append, and a foreachBatch streaming ingest. */
class EmbedIndexSpec extends SparkSpec {

  /** Same scale assertion as StoredIndexSpec: both index tables enter
    * their joins through the bucketed layout with no Exchange below. */
  private def assertIndexJoinsInPlace(probe: org.apache.spark.sql.DataFrame,
                                      prefix: String): Unit = {
    probe.count()
    def isIndexScan(p: SparkPlan): Boolean = p match {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.toString.contains(s"${prefix}_"))
      case _ => false
    }
    def paths(p: SparkPlan, anc: List[SparkPlan]): Seq[List[SparkPlan]] = {
      val here = if (isIndexScan(p)) Seq(p :: anc) else Nil
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case _                        => p.children
      }
      here ++ kids.flatMap(paths(_, p :: anc))
    }
    val chains = paths(probe.queryExecution.executedPlan, Nil)
    assert(chains.size == 2, "both index tables should be scanned")
    chains.foreach { case (scan: FileSourceScanExec) :: ancestors =>
      assert(scan.bucketedScan,
        s"index table must be read through its bucketed layout: $scan")
      val belowJoin = ancestors.takeWhile {
        case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
        case _                                                    => true
      }
      val shuffles = belowJoin.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty,
        s"stored-index scan re-shuffled before its join: $shuffles")
    }
  }

  private def probeSession() = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("stored embed index probed from a fresh session matches embedPairsMd5 exactly") {
    val t = tables
    EmbedIndex.writeIndex(t.embeddings.filter(col("vec_id") % 10 =!= 0), "eidx")
    graft.CacheRegistry.drain()

    val s2 = probeSession()
    val batch = graft.sources.Tables(s2, sfDir).embeddings
      .filter(col("vec_id") % 10 === 0)
    // multiProbe=false is the embedPairsMd5 candidate rule — parity is
    // exact, not statistical
    val stored = EmbedIndex.probe(s2, batch, "eidx", multiProbe = false)

    val all = Dedup.embedPairsMd5(t.embeddings).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = all.flatMap { case (a, b, c) =>
      if (a % 10 == 0 && b % 10 != 0) Some((a, b, c))
      else if (b % 10 == 0 && a % 10 != 0) Some((b, a, c))
      else None
    }.sortBy(r => (r._1, r._2)).toSeq
    assert(expected.nonEmpty, "parity check is vacuous without pairs")
    assert(rows(stored) == expected)
    assertIndexJoinsInPlace(stored, "eidx")

    // the default multi-probe path finds at least the exact-bucket set
    val mp = rows(EmbedIndex.probe(s2, batch, "eidx")).toSet
    assert(expected.toSet.subsetOf(mp),
      "multi-probe lost exact-bucket pairs")
    graft.CacheRegistry.drain()
  }

  test("append merges day-2 vectors; day-3 probe sees them without re-shuffling the index") {
    val t = tables
    val d10 = col("vec_id") % 10
    EmbedIndex.writeIndex(t.embeddings.filter(d10 =!= 0 && d10 =!= 5), "eidx2")
    EmbedIndex.appendIndex(t.embeddings.filter(d10 === 5), "eidx2")
    graft.CacheRegistry.drain()

    val s2 = probeSession()
    val batch = graft.sources.Tables(s2, sfDir).embeddings
      .filter(col("vec_id") % 10 === 0)
    val stored = EmbedIndex.probe(s2, batch, "eidx2", multiProbe = false)

    val all = Dedup.embedPairsMd5(t.embeddings).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = all.flatMap { case (a, b, c) =>
      if (a % 10 == 0 && b % 10 != 0) Some((a, b, c))
      else if (b % 10 == 0 && a % 10 != 0) Some((b, a, c))
      else None
    }.sortBy(r => (r._1, r._2)).toSeq
    val day2 = t.embeddings.filter(d10 === 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(expected.exists(p => day2(p._2)),
      "no expected pair involves a day-2 vector — split differently")
    assert(rows(stored) == expected)
    assertIndexJoinsInPlace(stored, "eidx2")
    graft.CacheRegistry.drain()

    // day 4: maintenance — the bucketed rewrite restores one file per
    // non-empty bucket without changing probe results or the in-place
    // plan (the DedupIndex compaction contract, embedding side)
    def bucketFiles(table: String): Seq[String] = {
      val loc = new java.io.File(new java.net.URI(
        spark.sql(s"DESCRIBE TABLE EXTENDED $table")
          .filter(col("col_name") === "Location").head.getString(1)))
      Option(loc.listFiles()).toSeq.flatten
        .map(_.getName).filter(_.endsWith(".parquet"))
    }
    assert(bucketFiles("eidx2_ebuckets").size > 8,
      "append should have left >1 file in some bucket")
    EmbedIndex.compactIndex(spark, "eidx2")
    graft.CacheRegistry.drain()
    assert(bucketFiles("eidx2_ebuckets").size <= 8)
    assert(bucketFiles("eidx2_evectors").size <= 8)
    // a FRESH session (stale relation caches from s2 would read the
    // pre-compact file list — the same reason the deployment probes
    // from a new session per day)
    val s3 = probeSession()
    val postCompact = EmbedIndex.probe(s3,
      graft.sources.Tables(s3, sfDir).embeddings
        .filter(col("vec_id") % 10 === 0), "eidx2", multiProbe = false)
    assert(rows(postCompact) == expected)
    assertIndexJoinsInPlace(postCompact, "eidx2")
    graft.CacheRegistry.drain()
  }
}
