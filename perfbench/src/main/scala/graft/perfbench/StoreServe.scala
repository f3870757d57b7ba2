package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{DedupIndex, EmbedIndex}
import graft.sinks.SnapshotStore
import graft.sinks.SnapshotStore.{MergeInsert, MergeUpdate}
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._

/** `store_serve`: a seeded mix of calls against stored state built during
  * set-up — a `SnapshotStore` table `(id, k, v, payload)` and two stored
  * indexes (`DedupIndex`, `EmbedIndex`).
  *
  * Each cycle runs [[StoreServe.Rounds]] rounds of, in a seeded order: an
  * append, a `mergeInto` upsert on Zipf-skewed keys, a `deleteWhere` and
  * an append to each index (writes); a full read, a `readWhereEq`, a
  * `readAsOf` and a `readChanges` (reads); a probe of each index on a
  * small batch (probes); then `compact` and `vacuum` (maintenance, timed
  * as writes).
  * Every read and probe frame is consumed through the `noop` sink.
  * Inputs are drawn before each call's timing starts.
  *
  * The benchmark keeps a model of the table — row count, id sum and value
  * sum per version — and checks it after every write and every
  * `readAsOf`; after the window it probes each index with the last item
  * appended to it, which must find itself. */
final class StoreServe(ctx: Ctx) extends Workload {
  import StoreServe._
  private val spark = ctx.spark
  import spark.implicits._
  private val path = ctx.dir("store") + "/table"
  private val rng = ctx.rng
  private val seed = ctx.seed

  // ——— the model: live rows, and (count, id sum, v sum) per version ———
  private val live = mutable.LongMap.empty[(Int, Long)] // id -> (k, v)
  private val byVersion = mutable.LongMap.empty[(Long, Long, Long)]
  private var nextId = 0L
  private var nextDoc = CorpusDocs
  private var nextVec = CorpusVectors
  private val pending = mutable.ArrayBuffer.empty[(String, () => Boolean)]
  private lazy val corpusVecs: Array[Row] =
    Gen.embeddings(spark, seed, CorpusVectors).collect()
  private lazy val corpusDocs: Array[Row] =
    Gen.documents(spark, seed, CorpusDocs).collect()

  private def summary: (Long, Long, Long) =
    (live.size.toLong, live.keys.sum, live.values.map(_._2).sum)

  private def record(v: Long): Unit = byVersion(v) = summary

  private def payload(id: Long): String = f"payload-$id%012d-" + ("x" * (id % 24).toInt)

  private def rowsDf(rows: Seq[(Long, Int, Long)]): DataFrame =
    rows.map { case (id, k, v) => (id, f"k$k%02d", v, payload(id)) }
      .toDF("id", "k", "v", "payload")

  /** Logical size of the rows a write hands the store. */
  private def userBytes(rows: Seq[(Long, Int, Long)]): Long =
    rows.map { case (id, _, _) => 8L + 3L + 8L + payload(id).length }.sum

  /** Inverse CDF of a power law with exponent 1.1 on [1, n + 1), shifted
    * to [0, n): low ids are hot. */
  private def zipf(n: Long): Long = {
    val e = 1.0 - ZipfExponent
    val x = math.pow((math.pow(n + 1.0, e) - 1.0) * rng.nextDouble() + 1.0, 1.0 / e)
    math.min(n - 1, math.max(0L, x.toLong - 1))
  }

  private def freshRows(n: Int): Seq[(Long, Int, Long)] =
    (0 until n).map { _ =>
      val id = nextId
      nextId += 1
      (id, rng.nextInt(Partitions), rng.nextLong(1000000L))
    }

  private def local(rows: Seq[Row], like: DataFrame): DataFrame =
    spark.createDataFrame(rows.asJava, like.schema)

  /** New table files (bytes) created by `f`, noted while tracing. */
  private def written[A](f: => A): A =
    if (!ctx.tracer.enabled) f
    else {
      val before = files()
      val r = f
      ctx.note("store.bytes_written",
        files().collect { case (p, n) if !before.contains(p) => n }.sum)
      r
    }

  private def files(): Map[String, Long] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    finally s.close()
  }

  private def sums(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum($"id"), lit(0L)),
      coalesce(sum($"v"), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** After a write: the latest version holds exactly the model's rows. */
  private def checkLatest(what: String, v: Long): Unit = {
    record(v)
    val expected = summary
    pending += s"model after $what (v$v)" -> (() => {
      val got = sums(SnapshotStore.read(spark, path))
      if (got != expected)
        System.err.println(s"[perfbench] $what v$v: got $got, model $expected")
      got == expected && SnapshotStore.latestVersion(path) == v
    })
  }

  // ——— writes ———

  private def append(): Long => Unit = {
    val rows = freshRows(BatchRows)
    val df = rowsDf(rows)
    op => {
      ctx.note("store.user_bytes", userBytes(rows))
      val v = written(ctx.span("sinks.commit", op)(
        SnapshotStore.commit(df, path, SaveMode.Append)))
      rows.foreach { case (id, k, x) => live(id) = (k, x) }
      checkLatest("append", v)
    }
  }

  private def merge(): Long => Unit = {
    // a fixed number of distinct live keys, drawn Zipf-skewed
    val hot = Iterator.continually(zipf(nextId)).filter(live.contains)
      .distinct.take(MergeRows - MergeRows / 5).toSeq
    val rows = hot.map(id => (id, live(id)._1, rng.nextLong(1000000L))) ++
      freshRows(MergeRows / 5)
    val df = rowsDf(rows)
    op => {
      ctx.note("store.user_bytes", userBytes(rows))
      val v = written(ctx.span("sinks.merge", op)(
        SnapshotStore.mergeInto(spark, path, df, "id",
          matched = Seq(MergeUpdate(Map("v" -> "s.v"))),
          notMatched = Some(MergeInsert()))))
      rows.foreach { case (id, k, x) => live(id) = (live.get(id).map(_._1).getOrElse(k), x) }
      checkLatest("merge", v)
    }
  }

  private def delete(): Long => Unit = {
    // a range that starts at a live key, so every delete removes rows
    val lo = Iterator.continually(rng.nextLong(nextId)).filter(live.contains).next()
    op => {
      val v = written(ctx.span("sinks.delete", op)(
        SnapshotStore.deleteWhere(spark, path, s"id >= $lo AND id < ${lo + DeleteSpan}")))
      (lo until lo + DeleteSpan).foreach(live.remove)
      checkLatest("delete", v)
    }
  }

  private def compact(): Long => Unit = op => {
    val v = written(ctx.span("sinks.compact", op)(SnapshotStore.compact(spark, path)))
    checkLatest("compact", v)
  }

  private def vacuum(): Long => Unit = op =>
    ctx.span("sinks.vacuum", op)(SnapshotStore.vacuum(spark, path, KeepVersions))

  private def docBatch(): DataFrame = {
    val df = Gen.documents(spark, seed, IndexBatch, nextDoc)
    nextDoc += IndexBatch
    local(df.collect().toSeq, df)
  }

  private def vecBatch(): DataFrame = {
    val df = Gen.embeddings(spark, seed, IndexBatch, from = nextVec)
    nextVec += IndexBatch
    local(df.collect().toSeq, df)
  }

  /** An inserted item under a caller id: the probe must return it. */
  private def asProbe(batch: DataFrame, idCol: String): (Long, DataFrame) = {
    val one = batch.head()
    val id = one.getAs[Long](idCol)
    val cols = one.toSeq.toArray
    cols(batch.schema.fieldIndex(idCol)) = ProbeIdBase + id
    id -> local(Seq(Row.fromSeq(cols.toSeq)), batch)
  }

  // the last item appended to each index and its probe under a caller id
  private var lastDedup, lastEmbed: Option[(Long, DataFrame)] = None

  private def dedupAppend(): Long => Unit = {
    val batch = docBatch()
    op => {
      ctx.span("operators.index_append", op)(DedupIndex.appendIndex(batch, DedupPrefix, Buckets))
      lastDedup = Some(asProbe(batch, "doc_id"))
    }
  }

  private def embedAppend(): Long => Unit = {
    val batch = vecBatch()
    op => {
      ctx.span("operators.index_append", op)(EmbedIndex.appendIndex(batch, EmbedPrefix, Buckets))
      lastEmbed = Some(asProbe(batch, "vec_id"))
    }
  }

  // ——— reads ———

  private def read(build: => DataFrame, rows: Long): Long => Unit = op => {
    val df = ctx.span("sinks.read_build", op)(build)
    ctx.span("sinks.read_action", op)(Consume.noop(df))
    ctx.note("read.rows", rows)
  }

  private def readAll(): Long => Unit = read(SnapshotStore.read(spark, path), live.size)

  private def readEq(): Long => Unit = {
    val k = rng.nextInt(Partitions)
    read(SnapshotStore.readWhereEq(spark, path, "k", f"k$k%02d"),
      live.values.count(_._1 == k))
  }

  private def readAsOf(): Long => Unit = {
    val vs = SnapshotStore.versions(path)
    val v = vs(vs.size - 1 - rng.nextInt(math.min(vs.size, AsOfDepth)))
    val ts = SnapshotStore.commitTime(path, v)
    val expected = byVersion(v)
    op => {
      read(SnapshotStore.readAsOf(spark, path, ts), expected._1)(op)
      pending += s"readAsOf v$v" -> (() => {
        val got = sums(SnapshotStore.readAsOf(spark, path, ts))
        if (got != expected)
          System.err.println(s"[perfbench] readAsOf v$v: got $got, model $expected")
        got == expected
      })
    }
  }

  private def readChanges(): Long => Unit = {
    val vs = SnapshotStore.versions(path)
    val from = vs(math.max(0, vs.size - 1 - ChangesDepth))
    read(SnapshotStore.readChanges(spark, path, from, vs.last, key = Some("id")), 0L)
  }

  // ——— probes: a small batch of corpus items under caller ids ———

  private def probe(build: DataFrame => DataFrame, batch: DataFrame): Long => Unit = op => {
    val df = ctx.span("operators.probe_build", op)(build(batch))
    if (ctx.tracer.enabled) {
      val obs = org.apache.spark.sql.Observation()
      ctx.span("operators.probe_action", op)(
        Consume.noop(df.observe(obs, count(lit(1)).as("n"))))
      ctx.note("probe.hits", obs.get("n").asInstanceOf[Long])
    } else ctx.span("operators.probe_action", op)(Consume.noop(df))
  }

  private def sample(rows: Array[Row], idCol: String, like: => DataFrame): DataFrame = {
    val picked = Seq.fill(ProbeBatch)(rows(rng.nextInt(rows.length))).distinct
    val i = picked.head.schema.fieldIndex(idCol)
    local(picked.map { r =>
      val c = r.toSeq.toArray
      c(i) = ProbeIdBase + r.getLong(i)
      Row.fromSeq(c.toSeq)
    }, like)
  }

  private def vecProbe(): DataFrame =
    sample(corpusVecs, "vec_id", Gen.embeddings(spark, seed, 1))
  private def docProbe(): DataFrame =
    sample(corpusDocs, "doc_id", Gen.documents(spark, seed, 1))

  private def embedProbe(): Long => Unit =
    probe(EmbedIndex.probe(spark, _, EmbedPrefix), vecProbe())
  private def dedupProbe(): Long => Unit =
    probe(DedupIndex.probe(spark, _, DedupPrefix), docProbe())

  // ——— set-up, cycle, checks ———

  def setup(): Unit = {
    ctx.span("sources.generate") {
      val rows = freshRows(TableRows)
      val v = ctx.span("sinks.commit")(SnapshotStore.commit(rowsDf(rows), path, SaveMode.Overwrite,
        statsKey = Some("id"), partitionBy = Seq("k")))
      rows.foreach { case (id, k, x) => live(id) = (k, x) }
      record(v)
      ctx.span("operators.index_build")(
        DedupIndex.writeIndex(Gen.documents(spark, seed, CorpusDocs), DedupPrefix, Buckets))
      ctx.span("operators.index_build")(
        EmbedIndex.writeIndex(Gen.embeddings(spark, seed, CorpusVectors), EmbedPrefix, Buckets))
    }
    ctx.span("session.warmup") {
      cycle().foreach(_.prepare()(-1L))
      pending.clear()
      graft.CacheRegistry.drain()
    }
  }

  /** One cycle: [[Rounds]] rounds, each an append, a merge, a delete, an
    * append to each index, the four reads and one probe of each index in
    * a seeded order; then compaction and vacuum. */
  def cycle(): Seq[Op] = {
    def round(): Seq[(String, () => Long => Unit)] = {
      val a = Array[(String, () => Long => Unit)](
        "append" -> append _, "merge" -> merge _, "delete" -> delete _,
        "index_append" -> dedupAppend _, "index_append" -> embedAppend _,
        "read" -> readAll _, "read_eq" -> readEq _, "read_asof" -> readAsOf _,
        "read_changes" -> readChanges _,
        "probe_embed" -> embedProbe _, "probe_dedup" -> dedupProbe _)
      for (i <- a.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
    (Seq.fill(Rounds)(round()).flatten :+ ("compact" -> compact _) :+ ("vacuum" -> vacuum _))
      .map { case (kind, prepare) => Op(kind, kind, prepare) }
  }

  override def afterOp(): Seq[(String, Boolean)] = {
    val r = pending.toSeq.map { case (name, f) =>
      name -> (try f() catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] check $name threw: $e"); false })
    }
    pending.clear()
    graft.CacheRegistry.drain()
    r
  }

  override def afterTracedCycle(): Unit = {
    ctx.note("store.live_files", SnapshotStore.history(spark, path)
      .orderBy($"version".desc).head().getAs[Int]("n_files"))
    ctx.note("store.log_entries", SnapshotStore.versions(path).size)
    ctx.note("store.samples", 1)
  }

  /** After the window: probing each index with the last item appended to
    * it returns that item as its best match. */
  def check(): Seq[(String, Boolean)] = afterOp() ++ lastDedup.map { case (id, q) =>
    s"dedup append finds doc $id" -> DedupIndex.probe(spark, q, DedupPrefix).collect()
      .exists(r => r.getLong(1) == id && r.getDouble(2) == 1.0)
  } ++ lastEmbed.map { case (id, q) =>
    // the self-cosine, in floored ppm of a double, reads 999999 or 1000000
    val hits = EmbedIndex.probe(spark, q, EmbedPrefix).collect()
      .map(r => r.getLong(1) -> r.getAs[Number](2).longValue)
    s"embed append finds vector $id" ->
      (hits.nonEmpty && hits.maxBy(_._2)._1 == id && hits.maxBy(_._2)._2 >= 999999L)
  }
}

object StoreServe {
  val WriteKinds = Set("append", "merge", "delete", "index_append", "compact", "vacuum")
  val ReadKinds = Set("read", "read_eq", "read_asof", "read_changes")
  val ProbeKinds = Set("probe_embed", "probe_dedup")

  /** Rounds of the eleven calls per cycle: the warm-up is one cycle, and
    * a run measures whole cycles, so a run times at least 24 calls. */
  val Rounds = 2
  val TableRows = 20000
  val BatchRows = 500
  val MergeRows = 200
  val DeleteSpan = 20L
  /** readAsOf pins one of the last few versions; readChanges spans the
    * last few commits. */
  val AsOfDepth = 4
  val ChangesDepth = 3
  val Partitions = 16
  val KeepVersions = 6
  val CorpusDocs = 600L
  val CorpusVectors = 600L
  val IndexBatch = 20
  val ProbeBatch = 8
  val ProbeIdBase = 1000000000L
  val ZipfExponent = 1.1
  /** Bucket count of the stored indexes: one per core. */
  val Buckets = 4
  val DedupPrefix = "pb_dedup"
  val EmbedPrefix = "pb_embed"
}
