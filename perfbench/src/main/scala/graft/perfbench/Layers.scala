package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from its spans and the workload's
  * notes. Seconds and counts are per timed operation of the kind named
  * (a mean), unless the glossary in README.md says otherwise; a layer
  * the workload does not call reads 0. */
object Layers {

  def metrics(spans: Seq[Span], ctx: Ctx): Seq[(String, Double, String)] = {
    // operation-level figures come from the measured window's spans only
    def named(n: String) = spans.filter(s => s.name == n && s.op >= 0)
    def setup(n: String) = spans.filter(s => s.name == n && s.op < 0)
    def prefixed(p: String) = spans.filter(_.name.startsWith(p))
    def total(ss: Seq[Span]): Counts = { val c = new Counts; ss.foreach(s => c.add(s.counts)); c }
    def secs(ss: Seq[Span]) = ss.map(_.dur).sum / 1e9
    def per(x: Double, n: Double) = if (n <= 0) 0.0 else x / n
    def meanDur(n: String) = { val ss = named(n); per(secs(ss), ss.size) }
    def ops(kinds: String*) = spans.filter(s => kinds.exists(k => s.name == s"op.$k"))
    // every span inside a timed operation, the operation's own included
    def within(opSpans: Seq[Span]) = {
      val ids = opSpans.map(_.op).toSet
      spans.filter(s => s.op >= 0 && ids(s.op))
    }

    val allOps = prefixed("op.")
    val inOps = total(within(allOps))
    val nOps = allOps.size.toDouble
    val opWall = secs(allOps)

    val etl = named("etl.build")
    val push = named("sinks.push")
    val posts = ctx.noted("push.posts")
    val pushDocs = ctx.noted("push.docs")
    val writes = ops("append", "merge", "delete")
    val reads = ops("read", "read_eq", "read_asof", "read_changes")
    val probes = ops("probe_embed", "probe_dedup")
    val queries = ops("query")
    val build = named("operators.build")
    val drains = named("cache.drain")
    val samples = ctx.noted("store.samples")

    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

    Seq(
      ("session.start_s", secs(setup("session.start")), "s"),
      ("session.warmup_s", secs(setup("session.warmup")), "s"),
      ("sources.generate_s", secs(setup("sources.generate")), "s"),
      ("sources.input_rows", per(inOps.inputRows, nOps), "count"),
      ("sources.input_bytes", per(inOps.inputBytes, nOps), "bytes"),
      ("sources.files_discovered", per(inOps.filesDiscovered, nOps), "count"),
      ("sources.listing_jobs", per(inOps.listingJobs, nOps), "count"),
      ("etl.build_s", per(secs(etl), etl.size), "s"),
      ("etl.build_jobs", per(total(etl).jobs, etl.size), "count"),
      ("sinks.push_s", per(secs(push), push.size), "s"),
      ("sinks.push_posts", per(posts, push.size), "count"),
      ("sinks.push_retries", per(posts - pushDocs, push.size), "count"),
      ("sinks.push_docs_per_post", per(pushDocs, posts), "ratio"),
      ("sinks.push_transport_s", per(ctx.noted("push.transport_s"), push.size), "s"),
      ("sinks.commit_s", meanDur("sinks.commit"), "s"),
      ("sinks.merge_s", meanDur("sinks.merge"), "s"),
      ("sinks.delete_s", meanDur("sinks.delete"), "s"),
      ("sinks.compact_s", meanDur("sinks.compact"), "s"),
      ("sinks.vacuum_s", meanDur("sinks.vacuum"), "s"),
      ("sinks.jobs_per_write", per(total(within(writes)).jobs, writes.size), "count"),
      ("sinks.bytes_written_per_user_byte",
        per(ctx.noted("store.bytes_written"), ctx.noted("store.user_bytes")), "ratio"),
      ("sinks.read_build_s", meanDur("sinks.read_build"), "s"),
      ("sinks.read_action_s", meanDur("sinks.read_action"), "s"),
      ("sinks.jobs_per_read", per(total(within(reads)).jobs, reads.size), "count"),
      ("sinks.rows_scanned_per_row_returned",
        per(total(within(reads)).inputRows, ctx.noted("read.rows")), "ratio"),
      ("sinks.live_files", per(ctx.noted("store.live_files"), samples), "count"),
      ("sinks.log_entries", per(ctx.noted("store.log_entries"), samples), "count"),
      ("operators.build_s", per(secs(build), build.size), "s"),
      ("operators.build_jobs", per(total(build).jobs, build.size), "count"),
      ("operators.jobs_per_query", per(total(within(queries)).jobs, queries.size), "count"),
      ("operators.action_s", meanDur("operators.action"), "s"),
      ("operators.probe_build_s", meanDur("operators.probe_build"), "s"),
      ("operators.probe_action_s", meanDur("operators.probe_action"), "s"),
      ("operators.jobs_per_probe", per(total(within(probes)).jobs, probes.size), "count"),
      ("operators.rows_scanned_per_hit",
        per(total(within(probes)).inputRows, ctx.noted("probe.hits")), "ratio"),
      ("operators.index_append_s", meanDur("operators.index_append"), "s"),
      ("cache.drain_s", per(secs(drains), drains.size), "s"),
      ("cache.blocks_left", per(ctx.noted("cache.blocks_left"), ctx.noted("cache.drains")), "count"),
      ("catalyst.analysis_s", per(inOps.analysisMs / 1e3, nOps), "s"),
      ("catalyst.optimizer_s", per(inOps.optimizerMs / 1e3, nOps), "s"),
      ("catalyst.planning_s", per(inOps.planningMs / 1e3, nOps), "s"),
      ("codegen.compiles", per(inOps.compiles, nOps), "count"),
      ("codegen.compile_s", per(inOps.compileNs / 1e9, nOps), "s"),
      ("scheduler.jobs", per(inOps.jobs, nOps), "count"),
      ("scheduler.stages", per(inOps.stages, nOps), "count"),
      ("scheduler.tasks", per(inOps.tasks, nOps), "count"),
      ("scheduler.task_delay_s", per(inOps.taskDelayMs / 1e3, inOps.taskEnds), "s"),
      ("scheduler.attempts_per_task", per(inOps.taskEnds, inOps.tasks), "ratio"),
      ("executor.run_s", per(inOps.runMs / 1e3, nOps), "s"),
      ("executor.cpu_s", per(inOps.cpuNs / 1e9, nOps), "s"),
      ("executor.busy_ratio", per(inOps.runMs / 1e3, opWall * ctx.cores), "ratio"),
      ("executor.gc_s", per(inOps.gcMs / 1e3, nOps), "s"),
      ("shuffle.write_bytes", per(inOps.shuffleWrite, nOps), "bytes"),
      ("shuffle.read_bytes", per(inOps.shuffleRead, nOps), "bytes"),
      ("shuffle.fetch_wait_s", per(inOps.fetchWaitMs / 1e3, nOps), "s"),
      ("shuffle.skew", per(inOps.skewSum, inOps.skewStages), "ratio"),
      ("spill.disk_bytes", per(inOps.spillDisk, nOps), "bytes"),
      ("jvm.gc_s", gcMs / 1e3, "s"),
      ("jvm.jit_s", jitMs / 1e3, "s"))
  }
}
