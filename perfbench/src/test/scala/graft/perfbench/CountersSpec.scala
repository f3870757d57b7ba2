package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.{CacheRegistry, SparkEntry}

/** Listener counters are the benchmark's noise-free regression signal, so
  * they must repeat: two traced passes over ten representative query_mix
  * keys, after one warm-up pass, see exactly the same jobs, stages, tasks
  * and codegen compiles for every key.
  *
  * Shuffle bytes are the counter that does not repeat exactly: they are
  * compressed block sizes, and the order in which rows reach a shuffle
  * writer (after a multi-task exchange or a sampled range partitioning)
  * changes how well a block compresses. They agree within 0.5%. */
class CountersSpec extends AnyFunSuite {
  private lazy val spark = BenchSpark.session

  /** One key per query family: relational, window, text, dedup, vector,
    * graph, table layer and the reference ETL. */
  val Keys = Seq("q1_agg", "q3_shipping", "q_window_running", "q_sessionize",
    "q_tokens", "q_dedup_minhash", "q_knn_cosine", "q_components",
    "q_snapshot_cdc", "q_doc_assembly")

  private def pass(tracer: Tracer, dir: String): Map[String, Counts] =
    Keys.map { k =>
      tracer.span(k, 0L)(Consume.noop(SparkEntry.queries(k)(spark, dir)))
      CacheRegistry.drain()
      spark.catalog.clearCache()
      k -> tracer.spans.last.counts
    }.toMap

  test("jobs, stages, tasks and compiles repeat exactly; shuffle bytes within 0.5%") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-counters").toString
    Gen.writeAll(Gen.star(spark, QueryMix.TableSeed, 0.01), dir)
    val tracer = new Tracer(spark, System.nanoTime())
    Keys.foreach { k => Consume.noop(SparkEntry.queries(k)(spark, dir)); CacheRegistry.drain() }
    tracer.enable(true)
    val (a, b) = (pass(tracer, dir), pass(tracer, dir))
    tracer.enable(false)
    def exact(c: Counts) = Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "compiles" -> c.compiles)
    def shuffle(c: Counts) = Map("shuffle_write_bytes" -> c.shuffleWrite,
      "shuffle_read_bytes" -> c.shuffleRead)
    def diff(f: Counts => Map[String, Long], tolerance: Double) = for {
      k <- Keys
      (name, v) <- f(a(k))
      w = f(b(k))(name)
      if math.abs(w - v) > tolerance * math.max(v, w)
    } yield s"$k.$name: $v then $w"
    assert(diff(exact, 0.0).isEmpty, diff(exact, 0.0).mkString("did not repeat: ", "; ", ""))
    assert(diff(shuffle, 0.005).isEmpty, diff(shuffle, 0.005).mkString("moved: ", "; ", ""))
    info(diff(shuffle, 0.0).mkString("shuffle bytes that differed: ", "; ", ""))
    assert(Keys.forall(k => a(k).jobs > 0), "every key runs at least one job")
  }
}

object BenchSpark {
  lazy val session: org.apache.spark.sql.SparkSession = {
    val work = java.nio.file.Files.createTempDirectory("perfbench-spec")
    Main.session(work, 4)
  }
}
