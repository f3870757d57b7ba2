package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator is a pure function of its seed: the same seed gives
  * identical inputs, a different seed different ones. */
class GenSpec extends AnyFunSuite {
  private lazy val spark = BenchSpark.session

  /** Fingerprint of every input kind the workloads generate, small. */
  private def inputs(seed: Long): Map[String, String] = {
    val star = Gen.star(spark, seed, 0.001)
    star.map { case (t, df) => s"star.$t" -> Gen.fingerprint(df) } ++ Map(
      "etl.events" -> Gen.fingerprint(Gen.events(spark, seed, 5000, 1500, parts = 3)),
      "store.documents" -> Gen.fingerprint(Gen.documents(spark, seed, 300, from = 2000)),
      "store.embeddings" -> Gen.fingerprint(Gen.embeddings(spark, seed, 300, from = 2000)))
  }

  test("the same seed gives identical input fingerprints") {
    assert(inputs(7L) == inputs(7L))
  }

  test("a different seed gives different fingerprints for every seeded input") {
    val (a, b) = (inputs(7L), inputs(8L))
    // region and nation are fixed dimension tables, the same for any seed
    val seeded = a.keySet -- Set("star.region", "star.nation")
    seeded.foreach(k => assert(a(k) != b(k), s"$k did not change with the seed"))
  }

  test("fingerprints ignore partitioning and row order") {
    val df = Gen.events(spark, 3L, 4000, 1500)
    assert(Gen.fingerprint(df) == Gen.fingerprint(df.repartition(7).sortWithinPartitions("value")))
  }
}
