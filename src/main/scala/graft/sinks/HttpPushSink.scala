package graft.sinks

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Warehouse push sink — the Spark re-expression of the reference's
  * per-row blocking HTTP POST loop (crowdsorsa-etl-2023.R:181-228).
  *
  * Design: `foreachPartition`, one transport per partition, so at 1000
  * executors the pushes fan out 1000-wide instead of the reference's
  * serial one-per-100ms. The transport is pluggable; the bundled stub
  * is deterministic (zero egress) and mirrors the reference's
  * success/error log lines and access-token redaction
  * (2023.R:226 `gsub(token, "", response)`).
  */
object HttpPushSink {

  trait PushTransport extends Serializable {
    /** POST one document; returns an HTTP status code. */
    def post(url: String, payload: String): Int
  }

  private val DocumentId = raw""""documentId":"[^"]*/(\d+)"""".r

  /** Deterministic stand-in for the warehouse API: parses the document
    * id and fails every 97th document — enough structure to test retry/
    * logging paths without a network. */
  final class StubTransport extends PushTransport {
    override def post(url: String, payload: String): Int = {
      val id = payload.hashCode.toLong
      val m = DocumentId.findFirstMatchIn(payload)
      m.map(_.group(1).toLong).getOrElse(math.abs(id)) % 97 match {
        case 0 => 500
        case _ => 200
      }
    }
  }

  /** [[push]] under a deploy profile: endpoint + token resolve from
    * the profile's host and env var (2023.R:17-27), so a prod-source
    * document can only ever be pushed at the prod host. */
  def push(docs: DataFrame, idCol: String, docCol: String,
           transport: PushTransport, profile: graft.etl.DeployProfile,
           logDir: String): Unit =
    push(docs, idCol, docCol, transport, profile.pushUrl, logDir,
      profile.token())

  /** Push every (id, doc) row; write one JSONL log file per partition
    * under `logDir`, with `token` redacted from every line. 5xx
    * responses are retried up to `maxRetries` times (the reference just
    * logs and moves on — 2023.R:202-211; at cluster scale transient
    * 5xx from a loaded warehouse is the common case and retry-with-cap
    * keeps the pipeline idempotent since documentId re-push replaces). */
  def push(docs: DataFrame, idCol: String, docCol: String,
           transport: PushTransport, url: String, logDir: String,
           token: String, maxRetries: Int = 2): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(logDir))
    docs.select(col(idCol).cast("string"), col(docCol))
      .foreachPartition { rows: Iterator[Row] =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val out = new java.io.PrintWriter(
          new java.io.File(logDir, f"push-$pid%05d.jsonl"), "UTF-8")
        val target = s"$url?access_token=$token"
        try rows.foreach { r =>
          val (id, doc) = (r.getString(0), r.getString(1))
          var status = transport.post(target, doc)
          var attempts = 1
          while (status >= 500 && attempts <= maxRetries) {
            status = transport.post(target, doc)
            attempts += 1
          }
          val level = if (status == 200) "INFO" else "ERROR"
          val line =
            s"""{"level":"$level","documentId":"$id","status":$status,"attempts":$attempts,"url":"$target"}"""
          out.println(line.replace(token, "")) // redaction, as 2023.R:226
        } finally out.close()
      }
  }

  /** The declarative mirror of the push log (oracle-verifiable): the
    * stub's status function + redaction check, aggregated per status. */
  def pushLog(t: Tables): DataFrame = {
    val status = when(col("event_id") % 97 === 0, 500L).otherwise(200L)
    val rawLine = format_string(
      "POST /v0/warehouse/push?access_token=SECRET123 doc=http://tun.fi/HR.5835/%d",
      col("event_id"))
    t.events
      .select(col("event_id"), status.as("status"),
        regexp_replace(rawLine, "SECRET123", "").as("logline"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bool_and(instr(logline, 'SECRET123') = 0)").as("all_redacted"))
      .orderBy(col("status"))
  }
}
