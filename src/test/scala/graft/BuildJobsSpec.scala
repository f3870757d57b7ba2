package graft

import graft.etl.DocumentAssembly

/** Building a query's frame runs no Spark job once its tables are open:
  * the `query_mix` benchmark keys, the three keys that open every table
  * through `GraftSql.registerViews`, and both document assemblies, each
  * built twice without an action. The second build must submit no job
  * (none of these keys has a genuine eager job; a table open that
  * inferred its schema would run one). */
class BuildJobsSpec extends SparkSpec {

  val Keys = Seq("q_unpivot", "q_text_clean", "q_split_assign", "q_comp_ratio", "q_tokens",
    "q_knn_cosine", "q13_custdist", "q3_shipping", "q1_agg", "q_dedup_minhash",
    "q_subquery", "q_not_in_null", "q_grouping_sets")

  private def secondBuildJobs(build: () => Any): Int = {
    build()
    CacheRegistry.drain()
    val jobs = JobCount(spark)(build())._2
    CacheRegistry.drain()
    jobs
  }

  test("a second build of each key submits no job") {
    val got = Keys.map(k => k -> secondBuildJobs(() => SparkEntry.queries(k)(spark, sfDir)))
    val wrong = got.filter(_._2 != 0)
    assert(wrong.isEmpty, wrong.map { case (k, n) => s"$k: $n jobs" }.mkString("; "))
  }

  test("a second build of each document assembly submits no job") {
    assert(secondBuildJobs(() => DocumentAssembly.assemble(tables)) == 0)
    assert(secondBuildJobs(() => DocumentAssembly.assemble2024(tables)) == 0)
  }
}
