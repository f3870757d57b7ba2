package graft.perfbench

import java.util.concurrent.atomic.LongAdder

import graft.etl.{DeployProfile, DocumentAssembly}
import graft.sinks.HttpPushSink
import graft.sources.Tables

/** Counts the stub transport's posts and the time spent inside them. */
object PushCounter {
  val posts = new LongAdder
  val nanos = new LongAdder
}

/** The stub warehouse endpoint with its every-97th-document failure rule,
  * instrumented with [[PushCounter]]. */
final class CountingTransport extends HttpPushSink.PushTransport {
  private val stub = new HttpPushSink.StubTransport
  override def post(url: String, payload: String): Int = {
    val t = System.nanoTime()
    val status = stub.post(url, payload)
    PushCounter.nanos.add(System.nanoTime() - t)
    PushCounter.posts.increment()
    status
  }
}

/** The reference pipeline as one operation: assemble every event of the
  * tables under `dir` into its JSON document (`assemble` and
  * `assemble2024` in turn, span `etl.build`) and push the sorted frame
  * through `HttpPushSink.push` (span `sinks.push`), which writes one log
  * line per document. `events` is the events table's row count; every
  * event joins a customer, so every event becomes a document. */
final class EtlPush(ctx: Ctx, dir: String, events: Long) {
  private val token = s"perfbench-token-${ctx.seed}"
  private val url = DeployProfile.Test.pushUrl
  private val transport = new CountingTransport
  // the log directory of every push, checked by `check`
  private val pushes = scala.collection.mutable.ArrayBuffer.empty[String]
  private var variant = 0

  def push(op: Long): Unit = {
    val logDir = ctx.dir(s"push-logs/op-$op-${pushes.size}")
    pushes += logDir
    val t = Tables(ctx.spark, dir)
    val docs = ctx.span("etl.build", op) {
      if (variant == 0) DocumentAssembly.assemble(t) else DocumentAssembly.assemble2024(t)
    }
    variant = 1 - variant
    val (p0, n0) = (PushCounter.posts.sum, PushCounter.nanos.sum)
    ctx.span("sinks.push", op) {
      HttpPushSink.push(docs, "event_id", "doc", transport, url, logDir, token)
    }
    ctx.note("push.docs", events)
    ctx.note("push.posts", PushCounter.posts.sum - p0)
    ctx.note("push.transport_s", (PushCounter.nanos.sum - n0) / 1e9)
  }

  /** Every push: one log line per document, each document once, ERROR
    * exactly for the ids the stub fails (every 97th, still failing after
    * the retries), and no line carrying the token. Deletes the logs. */
  def check(): Seq[(String, Boolean)] = {
    val r = pushes.toSeq.map { logDir =>
      val seen = new java.util.BitSet(events.toInt)
      var lines, errors, bad = 0L
      val files = Option(new java.io.File(logDir).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".jsonl"))
      files.foreach { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().foreach { l =>
          lines += 1
          val id = EtlPush.IdRe.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(-1L)
          val error = l.contains("\"level\":\"ERROR\"")
          if (error) errors += 1
          if (id < 0 || id >= events || seen.get(id.toInt) || l.contains(token) ||
              error != (id % 97 == 0)) bad += 1
          else seen.set(id.toInt)
        } finally src.close()
      }
      val expectedErrors = (events + 96) / 97
      val ok = lines == events && bad == 0 && errors == expectedErrors
      if (!ok) System.err.println(
        s"[perfbench] push log $logDir: $lines lines (want $events), $errors errors " +
          s"(want $expectedErrors), $bad bad lines")
      s"push log $logDir" -> ok
    }
    EtlPush.deleteTree(ctx.work.resolve("push-logs"))
    pushes.clear()
    r
  }
}

object EtlPush {
  private val IdRe = """"documentId":"(\d+)"""".r

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
}
