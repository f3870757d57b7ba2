package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters charged to one span. Listener events land here from the
  * listener-bus thread, so every update holds the object's lock. */
final class Counts {
  var jobs, stages, tasks, taskEnds = 0L
  var taskDelayMs, runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillDisk = 0L
  var inputRows, inputBytes = 0L
  var analysisMs, optimizerMs, planningMs = 0L
  var compiles, compileNs, filesDiscovered, listingJobs = 0L
  var skewSum = 0.0
  var skewStages = 0L

  def add(o: Counts): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskEnds += o.taskEnds
    taskDelayMs += o.taskDelayMs; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spillDisk += o.spillDisk
    inputRows += o.inputRows; inputBytes += o.inputBytes
    analysisMs += o.analysisMs; optimizerMs += o.optimizerMs; planningMs += o.planningMs
    compiles += o.compiles; compileNs += o.compileNs
    filesDiscovered += o.filesDiscovered; listingJobs += o.listingJobs
    skewSum += o.skewSum; skewStages += o.skewStages
  }

  def json: String = synchronized {
    Seq("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_attempts" -> taskEnds, "task_delay_ms" -> taskDelayMs,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "fetch_wait_ms" -> fetchWaitMs, "spill_disk_bytes" -> spillDisk,
      "input_rows" -> inputRows, "input_bytes" -> inputBytes,
      "analysis_ms" -> analysisMs, "optimizer_ms" -> optimizerMs,
      "planning_ms" -> planningMs, "compiles" -> compiles,
      "compile_ns" -> compileNs, "files_discovered" -> filesDiscovered,
      "listing_jobs" -> listingJobs)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
  }
}

/** One closed span: `op` is the timed operation it belongs to (-1 for
  * set-up), times are nanoseconds since the tracer's origin, and `self`
  * is the duration minus the time its child spans cover. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
                      start: Long, end: Long, self: Long, counts: Counts) {
  def dur: Long = end - start
}

/** Spans recorded from outside the program, around the benchmark's calls
  * into graft, plus the Spark-side counters that belong to each span.
  *
  * While enabled, every span sets a job group naming itself, so the
  * `SparkListener` charges each job and its stages and tasks to the span
  * whose call submitted it. Query-execution events (Catalyst phase
  * times) and the process-wide codegen and file-listing counters are
  * charged to the innermost open span; a span drains the listener bus
  * before it closes, so every event it caused has been counted. While
  * disabled, `span` only runs its body. */
final class Tracer(spark: SparkSession, origin: Long) {
  private val sc = spark.sparkContext
  private var on = false
  private var nextId = 0
  private val closed = mutable.ArrayBuffer.empty[Span]
  // an open span; `childNs` accumulates its closed children's time
  private final class Open(val id: Int, val name: String, val op: Long,
                           val start: Long, val counts: Counts) {
    var childNs = 0L
  }
  private var stack: List[Open] = Nil // innermost first
  @volatile private var current: Counts = null
  private val byId = new ConcurrentHashMap[Int, Counts]()
  private val stageCounts = new ConcurrentHashMap[Int, Counts]()
  private val stageReads = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private var lastStatic: Array[Long] = staticCounters()

  private val GroupPrefix = "perfbench-span-"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      val c = group.filter(_.startsWith(GroupPrefix))
        .flatMap(g => Option(byId.get(g.stripPrefix(GroupPrefix).toInt)))
        .getOrElse(current)
      if (c != null) {
        c.synchronized(c.jobs += 1)
        e.stageIds.foreach(s => stageCounts.putIfAbsent(s, c))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      Option(stageCounts.get(id)).foreach { c =>
        val reads = Option(stageReads.remove(id)).map(_.toSeq).getOrElse(Nil)
        c.synchronized {
          c.stages += 1
          val total = reads.sum
          if (total > 0) {
            c.skewSum += reads.max.toDouble * reads.size / total
            c.skewStages += 1
          }
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageCounts.get(e.stageId)).foreach { c =>
        val m = e.taskMetrics
        val info = e.taskInfo
        c.synchronized {
          c.taskEnds += 1
          if (info.successful) c.tasks += 1
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.taskDelayMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              info.gettingResultTime)
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.spillDisk += m.diskBytesSpilled
            c.inputRows += m.inputMetrics.recordsRead
            c.inputBytes += m.inputMetrics.bytesRead
          }
        }
        // the bus delivers to one listener from one thread, in order
        if (m != null && m.shuffleReadMetrics.totalBytesRead > 0)
          stageReads.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]) +=
            m.shuffleReadMetrics.totalBytesRead
      }
  }

  /** Catalyst phase times of one finished query execution, charged to
    * the innermost open span ([[PhaseListener]] calls this). */
  private[perfbench] def phases(qe: QueryExecution): Unit = {
    val c = current
    if (on && c != null) {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      c.synchronized {
        c.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
        c.optimizerMs += ms(QueryPlanningTracker.OPTIMIZATION)
        c.planningMs += ms(QueryPlanningTracker.PLANNING)
      }
    }
  }

  private def staticCounters(): Array[Long] = Array(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime,
    HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
    HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount)

  /** Charge the static counters' movement since the last boundary to the
    * innermost open span. */
  private def chargeStatic(): Unit = {
    val now = staticCounters()
    stack.headOption.foreach { o =>
      val c = o.counts
      c.synchronized {
        c.compiles += now(0) - lastStatic(0)
        c.compileNs += now(1) - lastStatic(1)
        c.filesDiscovered += now(2) - lastStatic(2)
        c.listingJobs += now(3) - lastStatic(3)
      }
    }
    lastStatic = now
  }

  def enabled: Boolean = on

  /** Start or stop attributing: registers or removes the job listener
    * and makes this tracer the one [[PhaseListener]] reports to. */
  def enable(flag: Boolean): Unit = if (flag != on) {
    if (flag) {
      sc.addSparkListener(listener)
      Tracer.active = this
      lastStatic = staticCounters()
    } else {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      Tracer.active = null
    }
    on = flag
  }

  /** Record a span timed before the tracer existed (session start). */
  def record(name: String, start: Long, end: Long): Unit = {
    closed += Span(nextId, name, -1, -1L, start - origin, end - origin,
      end - start, new Counts)
    nextId += 1
  }

  /** Run `f` as span `name` of operation `op`. */
  def span[A](name: String, op: Long = -1L)(f: => A): A =
    if (!on) f
    else {
      chargeStatic()
      val o = new Open(nextId, name, op, System.nanoTime(), new Counts)
      nextId += 1
      byId.put(o.id, o.counts)
      stack = o :: stack
      current = o.counts
      sc.setJobGroup(GroupPrefix + o.id, name, interruptOnCancel = false)
      try f
      finally {
        PerfbenchBus.drain(sc)
        chargeStatic()
        val end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) =>
            p.childNs += end - o.start
            current = p.counts
            sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None =>
            current = null
            sc.clearJobGroup()
        }
        byId.remove(o.id)
        closed += Span(o.id, name, stack.headOption.map(_.id).getOrElse(-1), op,
          o.start - origin, end - origin, end - o.start - o.childNs, o.counts)
      }
    }

  def spans: Seq[Span] = closed.toSeq

  /** Write every closed span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = closed.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_s":${s.start / 1e9}%.6f,"end_s":${s.end / 1e9}%.6f,""" +
        f""""self_s":${s.self / 1e9}%.6f,${s.counts.json}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  @volatile private[perfbench] var active: Tracer = null
}

/** Query-execution listener registered through
  * `spark.sql.queryExecutionListeners`, so every session — including the
  * child sessions graft's operators create — reports its Catalyst phase
  * times to the active tracer. Does nothing while no tracer is active. */
final class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(Tracer.active).foreach(_.phases(qe))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    Option(Tracer.active).foreach(_.phases(qe))
}
