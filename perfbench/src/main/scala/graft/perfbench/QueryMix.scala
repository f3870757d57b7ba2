package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.{CacheRegistry, SparkEntry}
import org.apache.spark.sql.DataFrame

/** `query_mix`: a fixed stratified subset of `SparkEntry.queries`, plus the
  * reference ETL push, over an sf0.1-shaped star schema, one operation at
  * a time in a seed-shuffled order. A pass runs each key of
  * `query_mix_expected.tsv` once and two pushes, one of each document
  * layout.
  *
  * A query operation builds the key's frame (`operators.build`), consumes
  * every row and column of it through the `noop` sink
  * (`operators.action`), then releases the operators' caches as every
  * harness must (`cache.drain`). The push operation is [[EtlPush]] over
  * the same tables' 100k events.
  *
  * The tables come from a fixed generator seed, so each key's result is
  * fixed and is checked against the fingerprint recorded in
  * `query_mix_expected.tsv` on both warm-up passes, each key's first and
  * second invocations; the timed pass is its third. The run's seed orders
  * the operations. */
final class QueryMix(ctx: Ctx) extends Workload {
  import QueryMix._
  private val spark = ctx.spark
  private val dataDir = ctx.cache.resolve(s"query_mix-tables-$TableSeed").toString
  private val queries = SparkEntry.queries
  private val etl = new EtlPush(ctx, dataDir, Events)

  private def shuffled[A](xs: Seq[A]): Seq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = ctx.rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  private def drain(): Unit = {
    CacheRegistry.drain()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Run `key` as one operation. On a checked pass (`check` given) the
    * consumed frame also observes its own fingerprint in the same job,
    * and `check` records it. */
  private def runQuery(key: String, op: Long,
                       check: Option[Entry => Unit] = None): Unit = {
    val df = ctx.span("operators.build", op)(queries(key)(spark, dataDir))
    check match {
      case None => ctx.span("operators.action", op)(Consume.noop(df))
      case Some(record) =>
        val obs = org.apache.spark.sql.Observation()
        val aggs = Gen.fingerprintAggs(df)
        Consume.noop(df.observe(obs, aggs.head, aggs.tail: _*))
        val r = obs.get
        record(Entry(key, oracled = true, Gen.fingerprintOf(
          org.apache.spark.sql.Row(r("fp_rows"), r("fp_hashsum")))))
    }
    ctx.span("cache.drain", op)(drain())
    ctx.note("cache.drains", 1)
    if (ctx.tracer.enabled)
      ctx.note("cache.blocks_left",
        spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum)
  }

  // fingerprints observed on the checked passes: (pass, observation)
  private val observed = scala.collection.mutable.ArrayBuffer.empty[(String, Entry)]

  private def queryOps(check: Option[Entry => Unit]): Seq[Op] =
    Expected.map(e => Op("query", e.key, () => (op: Long) => runQuery(e.key, op, check)))

  /** One pass: every key once and two pushes (`assemble`,
    * then `assemble2024`), in a seeded order. */
  private def pass(check: Option[Entry => Unit] = None): Seq[Op] =
    shuffled(queryOps(check) ++ Seq.fill(2)(Op("push", "etl_push", () => (op: Long) => etl.push(op))))

  def setup(): Unit = {
    ctx.span("sources.generate")(tables())
    ctx.span("session.warmup") {
      // compiles every stage and warms the JIT: after one pass the
      // measured pass still ran about 20% slower than a third one. Each
      // key's output is fingerprinted in the same jobs (the observed plan
      // runs the same generated code as the timed one), so the second
      // pass also shows state the first one left behind (caches,
      // registries) as a wrong result
      for (i <- 1 to WarmupPasses)
        pass(Some(e => observed += s"warm-up $i" -> e)).foreach(_.prepare()(-1L))
    }
  }

  /** The tables depend only on [[TableSeed]], so the first run after a
    * build writes them into the cache and later runs reuse them. Each
    * table has several files, so scans run on every core as they would at
    * scale (results do not depend on the split). A run writes into its own
    * directory and moves it into place in one rename, so a run that stops
    * early leaves no partial tables. */
  private def tables(): Unit = {
    val done = Paths.get(dataDir)
    if (!Files.exists(done)) {
      val staging = ctx.dir("qm-data")
      Gen.writeAll(Gen.star(spark, TableSeed, Scale).filter(t => TablesRead(t._1)),
        staging, FilesPerTable)
      Files.createDirectories(done.getParent)
      try Files.move(Paths.get(staging), done, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException if Files.exists(done) => () }
    }
  }

  def cycle(): Seq[Op] = pass()

  /** Oracled keys: every fingerprint observed on the warm-up passes
    * equals the recorded one. Rows-only twins: the row count does.
    * Pushes: see [[EtlPush.check]]. */
  def check(): Seq[(String, Boolean)] = {
    val want = Expected.map(e => e.key -> e).toMap
    etl.check() ++ observed.toSeq.map { case (phase, obs) =>
      val e = want(obs.key)
      val got = if (e.oracled) obs.expected else obs.expected.takeWhile(_ != ':')
      if (got != e.expected)
        System.err.println(s"[perfbench] ${e.key} ($phase): got $got, recorded ${e.expected}")
      s"query ${e.key} ($phase)" -> (got == e.expected)
    }
  }
}

object QueryMix {
  /** Generator seed of the query_mix tables; the recorded fingerprints
    * belong to it. */
  val TableSeed = 42L
  val WarmupPasses = 2
  /** sf0.1: 600k lineitem rows, 100k events. */
  val Scale = 0.1
  val Events = 100000L
  val FilesPerTable = 4
  val TablesRead = Set("region", "nation", "customer", "orders", "lineitem", "events",
    "documents", "embeddings")

  /** One line of `query_mix_expected.tsv`: the key, `oracle` or `rows`,
    * and the recorded fingerprint (`rows:hashsum`) or row count. */
  final case class Entry(key: String, oracled: Boolean, expected: String)

  lazy val Expected: Seq[Entry] = {
    val src = scala.io.Source.fromResource("query_mix_expected.tsv")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t") match {
        case Array(k, kind, fp) => Entry(k, kind == "oracle", fp)
        case other => throw new IllegalStateException(other.mkString(" | "))
      }).toList
    finally src.close()
  }
}

object Consume {
  /** Materialize every row and column of `df` without collecting it:
    * the `noop` sink keeps the whole plan, sort included, which
    * `count()` would let the optimizer prune. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
