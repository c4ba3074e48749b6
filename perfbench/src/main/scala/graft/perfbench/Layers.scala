package graft.perfbench

/** Per-layer metrics from the spans of a traced run. Every value is the
  * median over traced jobs of the job's own total, so it reads per job
  * (per batch for the stream metrics).
  */
final class Layers(ctx: Ctx, jobs: Seq[Span]) {
  private val r = ctx.result
  private val spans = ctx.tracer.all.filter(_.endNs > 0)
  private val byJob: Seq[Seq[Span]] =
    jobs.map(j => spans.filter(s => s.startNs >= j.startNs && s.endNs <= j.endNs))

  def perJob(name: String)(f: Span => Double): Double =
    if (byJob.isEmpty) 0.0 else Stats.median(byJob.map(_.filter(_.name == name).map(f).sum))

  def selfMs(name: String): Double = perJob(name)(ctx.tracer.selfMs)

  /** Duration of the spans named `name`, less their bookkeeping children. */
  def workMs(name: String): Double = perJob(name) { s =>
    s.durMs - spans.filter(k => k.parent == s.id && k.name == Layers.Bookkeeping).map(_.durMs).sum
  }
  def count(name: String, key: String): Double = perJob(name)(_.counts.getOrElse(key, 0.0))

  def sources(): Unit = {
    r.metric("sources.scan_ms", selfMs("sources.scan"), "ms")
    r.metric("sources.scan_rows", count("sources.scan", "rows"), "count")
    r.metric("sources.scan_bytes", count("sources.scan", "bytes"), "B")
  }

  def core(orders: Double): Unit = {
    Layers.CoreOps.foreach(op => r.metric(s"operators.core.${op}_ms", selfMs(s"operators.core.$op"), "ms"))
    r.metric("operators.core.rows_out",
      Layers.CoreOps.map(op => count(s"operators.core.$op", "rows_out")).sum, "count")
    r.metric("operators.core.priced_ratio",
      count("operators.core.reassembly", "rows_out") / orders, "ratio")
  }

  def runtime(heapPeakMb: Double): Unit = {
    def rt(f: Runtime => Double): Double =
      if (byJob.isEmpty) 0.0 else Stats.median(byJob.map(_.map(s => f(s.runtime)).sum))
    r.metric("runtime.tasks", rt(_.tasks.toDouble), "count")
    r.metric("runtime.task_failures", rt(_.taskFailures.toDouble), "count")
    r.metric("runtime.cpu_ms", rt(_.cpuMs), "ms")
    r.metric("runtime.gc_ms", rt(_.gcMs), "ms")
    r.metric("runtime.sched_delay_ms", rt(_.schedDelayMs), "ms")
    r.metric("runtime.fetch_wait_ms", rt(_.fetchWaitMs), "ms")
    r.metric("runtime.shuffle_write_bytes", rt(_.shuffleWriteBytes.toDouble), "B")
    r.metric("runtime.shuffle_read_bytes", rt(_.shuffleReadBytes.toDouble), "B")
    r.metric("runtime.spill_bytes", rt(_.spillBytes.toDouble), "B")
    r.metric("runtime.task_skew", if (byJob.isEmpty) 1.0 else Stats.median(byJob.map { js =>
      val all = new Runtime; js.foreach(s => all.add(s.runtime)); all.taskSkew
    }), "ratio")
    r.metric("runtime.heap_peak_mb", heapPeakMb, "MB")
  }

  /** Tracing overhead: traced minus untraced median job time. */
  def overhead(untracedP50: Double, traced: Seq[JobRun]): Unit = {
    val ok = traced.filter(_.ok).map(_.seconds)
    val t = if (ok.isEmpty) untracedP50 else Stats.median(ok)
    r.metric("trace.overhead_s", t - untracedP50, "s")
    r.metric("trace.overhead_frac", (t - untracedP50) / untracedP50, "ratio")
    r.info("traced_latency_p50_s") = t
  }
}

object Layers {
  /** Spans that only count rows for the report, not program work. */
  val Bookkeeping = "trace.count"
  val CoreOps = Seq("rekey", "join_user", "join_store", "explode", "enrich",
    "reassembly", "product_stats", "stats_merge", "pickup")
  val PipelineStages = Seq("normalize", "rules", "dedup_exact", "segment_dedup",
    "substr", "quality_gate", "decontaminate", "pii_redact", "memorization",
    "vocab", "mixture", "pack")
  /** Stages that drop documents, each with its own keep ratio. */
  val FilterStages = Seq("rules", "dedup_exact", "quality_gate", "decontaminate",
    "memorization", "mixture")
  val Kernels = Seq("nfc", "poly_hash", "greedy_tokenize", "quantile_sketch")

  /** Every per-layer metric with its unit. A traced run reports all of
    * them; a layer its workload does not call reads 0.
    */
  val All: Seq[(String, String)] =
    Seq("sources.scan_ms" -> "ms", "sources.scan_rows" -> "count",
      "sources.scan_bytes" -> "B", "sources.list_ms" -> "ms",
      "sources.lag_rows" -> "count", "sources.lag_growth_rows" -> "count",
      "sources.gen_late_ms" -> "ms") ++
    CoreOps.map(op => s"operators.core.${op}_ms" -> "ms") ++
    Seq("operators.core.rows_out" -> "count", "operators.core.priced_ratio" -> "ratio",
      "operators.core.exchanges" -> "count", "operators.core.broadcast_joins" -> "count") ++
    (PipelineStages :+ "materialize").map(s => s"operators.pipeline.${s}_ms" -> "ms") ++
    Seq("operators.pipeline.keep_ratio" -> "ratio") ++
    FilterStages.map(s => s"operators.pipeline.${s}_keep" -> "ratio") ++
    Seq("operators.pipeline.materialized_bytes" -> "B", "operators.pipeline.scan_nodes" -> "count") ++
    Kernels.flatMap(k => Seq(s"functions.${k}_ms" -> "ms", s"functions.${k}_rows_per_s" -> "1/s")) ++
    Seq("streaming.batch_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
      "streaming.planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
      "streaming.rows_per_batch" -> "count", "streaming.state_rows" -> "count",
      "streaming.state_rows_updated" -> "count", "streaming.state_mem_bytes" -> "B",
      "streaming.state_commit_ms" -> "ms",
      "sinks.upsert_ms" -> "ms", "sinks.compact_ms" -> "ms", "sinks.bytes_written" -> "B",
      "sinks.write_amp" -> "ratio", "sinks.deltas" -> "count", "sinks.bases" -> "count",
      "sinks.replays_skipped" -> "count", "sinks.snapshot_ms" -> "ms",
      "sinks.snapshot_files" -> "count",
      "runtime.tasks" -> "count", "runtime.task_failures" -> "count",
      "runtime.cpu_ms" -> "ms", "runtime.gc_ms" -> "ms", "runtime.sched_delay_ms" -> "ms",
      "runtime.fetch_wait_ms" -> "ms", "runtime.shuffle_write_bytes" -> "B",
      "runtime.shuffle_read_bytes" -> "B", "runtime.spill_bytes" -> "B",
      "runtime.task_skew" -> "ratio", "runtime.heap_peak_mb" -> "MB", "runtime.peak_rss_mb" -> "MB",
      "runtime.speedup_vs_1core" -> "x",
      "trace.overhead_s" -> "s", "trace.overhead_frac" -> "ratio", "trace.spans" -> "count",
      "run.failed_frac" -> "ratio", "host.load_start" -> "load", "host.load_end" -> "load",
      "host.steal_pct" -> "%")
}
