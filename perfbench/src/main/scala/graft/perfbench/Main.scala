package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.SparkSession

/** One timed operation: `kind` groups operations for latency metrics.
  * `prepare` runs untimed (it draws the operation's inputs) and returns
  * the timed call, which takes the operation's id. */
final case class Op(kind: String, label: String, prepare: () => Long => Unit)

/** What a workload shares with the harness. `work` is the run's own
  * directory; `cache` outlives the run and holds inputs that do not depend
  * on the seed. `note` accumulates the workload's own layer measurements
  * (push posts, bytes written, rows returned...) while tracing is on. */
final class Ctx(val spark: SparkSession, val work: Path, val cache: Path, val seed: Long,
                val tracer: Tracer, val cores: Int) {
  val rng = new java.util.SplittableRandom(seed)
  private val notes = mutable.LinkedHashMap.empty[String, Double]
  /** True while the measured window runs; notes outside it are dropped. */
  var measuring = false
  def note(key: String, v: Double): Unit =
    if (measuring && tracer.enabled) notes(key) = notes.getOrElse(key, 0.0) + v
  def noted(key: String): Double = notes.getOrElse(key, 0.0)
  def span[A](name: String, op: Long = -1L)(f: => A): A = tracer.span(name, op)(f)
  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
}

trait Workload {
  /** Generate inputs (span `sources.generate`) and warm up until steady
    * (span `session.warmup`). */
  def setup(): Unit
  /** The next cycle of operations, in a seeded order. */
  def cycle(): Seq[Op]
  /** Output checks, run after the measured window: one entry per check,
    * false when the output was wrong. */
  def check(): Seq[(String, Boolean)]
  /** Checks of the operation just timed, run before the next one. */
  def afterOp(): Seq[(String, Boolean)] = Nil
  /** Called after each traced cycle, outside operation timing. */
  def afterTracedCycle(): Unit = ()
}

/** Heap retained after a full GC (the old generation; the young one is
  * empty then), sampled at fixed points
  * outside the timed calls (end of set-up, end of the window) so the
  * figure does not depend on when the collector happened to run. */
object HeapPeak {
  private var peak = 0L
  def sample(): Unit = {
    // Spark's ContextCleaner releases what a collection queued (broadcasts,
    // shuffles) on its own thread, so collect again until the retained
    // heap stops falling
    def collect() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    val seen = mutable.ArrayBuffer(collect())
    while (seen.size < 8 && (seen.size < 2 || seen(seen.size - 2) - seen.last > (1L << 20))) {
      Thread.sleep(250)
      seen += collect()
    }
    System.err.println("[perfbench] heap after gc (MB): " +
      seen.map(b => f"${b / 1048576.0}%.1f").mkString(" "))
    peak = math.max(peak, seen.last)
  }
  def mb: Double = peak / 1048576.0
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, out: Path, cache: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m.getOrElse("out", m("work"))),
      Paths.get(m.getOrElse("cache", m("work"))))
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "query_mix" => new QueryMix(ctx)
    case "store_serve" => new StoreServe(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Harrell–Davis estimate of the q-quantile of a non-empty sample: the
    * mean of every order statistic weighted by a Beta((n+1)q, (n+1)(1-q))
    * density over its rank. A workload's latencies fall in clusters (one
    * per kind of operation), and a single order statistic jumps between
    * clusters when two operations swap ranks; the weighted mean moves
    * with all of them, so it varies less from run to run. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
    def cdf(x: Double) =
      if (x <= 0) 0.0 else if (x >= 1) 1.0 else Beta.regularizedBeta(x, a, b)
    s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
  }

  def session(work: Path, cores: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val s = graft.GraftSession.tune(b, cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val t0 = System.nanoTime()
    val spark = session(a.work, cores)
    val t1 = System.nanoTime()
    val tracer = new Tracer(spark, t0)
    tracer.record("session.start", t0, t1)
    tracer.enable(a.trace)
    val ctx = new Ctx(spark, a.work, a.cache, a.seed, tracer, cores)
    val w = workload(a.workload, ctx)
    w.setup()
    HeapPeak.sample()

    // ——— the measured window: whole cycles, closed loop ———
    // Only the timed calls count toward the window; inputs are drawn and
    // per-operation checks run between them.
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val labels = mutable.ArrayBuffer.empty[String]
    val cycleTimes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    var attempted, failed = 0L
    var opId = 0L
    var window = 0.0
    // a traced run alternates traced and untraced cycles, so the two
    // can be compared for the tracing overhead; the seed's parity picks
    // which comes first, so the order does not always favour one side
    val minCycles = if (a.trace) 2 else 1
    ctx.measuring = true
    while (cycleTimes.size < minCycles || window < a.seconds) {
      val traced = a.trace && (cycleTimes.size + a.seed) % 2 == 0
      tracer.enable(traced)
      var cycleTime = 0.0
      w.cycle().foreach { op =>
        attempted += 1
        val t = try {
          val run = op.prepare()
          val s = System.nanoTime()
          tracer.span("op." + op.kind, opId)(run(opId))
          (System.nanoTime() - s) / 1e9
        } catch {
          case scala.util.control.NonFatal(e) =>
            failed += 1
            System.err.println(s"[perfbench] op ${op.kind}/${op.label} failed: $e")
            0.0
        }
        lat += op.kind -> t
        labels += op.label
        cycleTime += t
        opId += 1
        checks ++= w.afterOp()
      }
      window += cycleTime
      cycleTimes += traced -> cycleTime
      if (traced) w.afterTracedCycle()
    }
    tracer.enable(false)
    ctx.measuring = false
    HeapPeak.sample()

    // ——— output checks, outside the window ———
    checks ++= w.check()
    checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] check failed: ${c._1}"))
    failed += checks.count(!_._2)

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val all = lat.map(_._2).toSeq
        Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_s", quantile(all, 0.5), "s"),
          ("op_p90_s", quantile(all, 0.9), "s"),
          ("items_per_s", lat.size / window, "1/s"),
          ("heap_peak_mb", HeapPeak.mb, "MB"))
      } else {
        val tracedMean = mean(cycleTimes.filter(_._1).map(_._2).toSeq)
        val plainMean = mean(cycleTimes.filterNot(_._1).map(_._2).toSeq)
        Layers.metrics(tracer.spans, ctx) ++ Seq(
          ("trace.overhead_ratio", tracedMean / plainMean, "ratio"))
      }
    System.err.println(s"[perfbench] ${a.workload}: ${lat.size} ops in " +
      f"$window%.2f s, ${cycleTimes.size} cycles, setup $setupS%.2f s, " +
      s"attempted $attempted, failed $failed")
    WorkloadReport.print(a.workload, lat.toSeq, window)
    System.err.println("[perfbench] op seconds: " + labels.zip(lat).map {
      case (l, (_, v)) => f"$l:$v%.3f" }.mkString(" "))
    if (a.trace)
      tracer.write(a.out.resolve(s"${a.workload}-seed${a.seed}.spans.jsonl"))
    spark.stop()

    val m = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$m}}""")
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** JSON number with every digit (no exponent; NaN and infinities as 0). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** The per-class latency and rate figures of each workload, printed to
  * standard error for the reader (the result line carries the generic
  * end-to-end metrics every workload shares). */
object WorkloadReport {
  def print(workload: String, lat: Seq[(String, Double)], window: Double): Unit = {
    def q(kinds: Set[String], p: Double) = {
      val xs = lat.collect { case (k, v) if kinds(k) => v }
      if (xs.isEmpty) Double.NaN else Main.quantile(xs, p)
    }
    val lines = workload match {
      case "query_mix" => Seq(
        f"query_p50_s ${q(Set("query"), 0.5)}%.4f s",
        f"query_p95_s ${q(Set("query"), 0.95)}%.4f s",
        f"queries_per_s ${lat.count(_._1 == "query") / lat.collect { case ("query", v) => v }.sum}%.3f 1/s",
        f"etl_docs_per_s ${QueryMix.Events / q(Set("push"), 0.5)}%.1f 1/s")
      case _ =>
        val (w, r, p) = (StoreServe.WriteKinds, StoreServe.ReadKinds, StoreServe.ProbeKinds)
        Seq(
          f"write_p50_s ${q(w, 0.5)}%.4f s", f"write_p90_s ${q(w, 0.9)}%.4f s",
          f"read_p50_s ${q(r, 0.5)}%.4f s", f"read_p90_s ${q(r, 0.9)}%.4f s",
          f"probe_p50_s ${q(p, 0.5)}%.4f s", f"probe_p90_s ${q(p, 0.9)}%.4f s",
          f"store_ops_per_s ${lat.size / window}%.3f 1/s")
    }
    lines.foreach(l => System.err.println(s"[perfbench] $l"))
  }
}
