package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Metrics, counts and pending oracle checks of one benchmark run. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** (query name, parquet dump dir, oracle SQL) for the DuckDB check. */
  val checks = mutable.ArrayBuffer.empty[(String, String, String)]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def json(extra: Seq[(String, Any)]): String = Json.obj(extra ++ Seq(
    "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "info" -> info,
    "checks" -> checks.map { case (n, d, q) => Map("name" -> n, "dir" -> d, "sql" -> q) }))
}

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val work: String, val tracer: Tracer,
                val result: Result, val genS: Double) {
  val cores: Int = java.lang.Runtime.getRuntime.availableProcessors()
  def dir(name: String): String = { val d = s"$work/$name"; new java.io.File(d).mkdirs(); d }

  /** Drops every cached or checkpointed block, so each job starts from
    * the same storage state.
    */
  def releaseBlocks(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}

/** One timed closed-loop job: its wall time and whether its output
  * matched the verified reference.
  */
final case class JobRun(seconds: Double, ok: Boolean)

object Loop {
  def time[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e9)
  }

  /** Runs `job` one at a time until `seconds` have passed (and at least
    * `minJobs` ran). A job that throws counts as failed and is never
    * timed as a pass; `after` runs outside the timed region.
    */
  def closed(seconds: Double, minJobs: Int)(job: () => Boolean)(after: () => Unit): Seq[JobRun] = {
    val runs = mutable.ArrayBuffer.empty[JobRun]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end || runs.size < minJobs) {
      val t = System.nanoTime()
      val ok = try job() catch {
        case e: Exception => System.err.println(s"job failed: $e"); false
      }
      runs += JobRun((System.nanoTime() - t) / 1e9, ok)
      after()
    }
    runs.toSeq
  }

  /** Runs `job` at least `minJobs` times, then until the last three
    * wall times lie within 20% of their median (JIT and code generation
    * have settled) or `maxSeconds` have passed. Returns the time spent.
    */
  def warmup(minJobs: Int, maxSeconds: Double)(job: () => Unit): Double = {
    val t0 = System.nanoTime(); val times = mutable.ArrayBuffer.empty[Double]
    def settled = times.size >= math.max(minJobs, 3) && {
      val last = times.takeRight(3).toSeq
      (last.max - last.min) <= 0.2 * Stats.median(last)
    }
    while (times.size < minJobs || (!settled && (System.nanoTime() - t0) / 1e9 < maxSeconds)) {
      val (_, s) = time(job()); times += s
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Latency summary of the passing jobs, plus failure counting. */
  def report(ctx: Ctx, runs: Seq[JobRun], items: Double, window: Double): Unit = {
    val r = ctx.result
    r.attempted += runs.size; r.failed += runs.count(!_.ok)
    val ok = runs.filter(_.ok).map(_.seconds)
    r.info("jobs") = runs.size
    r.info("job_s") = runs.map(_.seconds)
    if (ok.nonEmpty) {
      r.metric("latency_p50_s", Stats.median(ok), "s")
      val (pct, v) = Stats.tail(ok)
      r.metric("latency_tail_s", v, "s")
      r.info("latency_tail_pct") = pct
      r.info("latency_n") = ok.size
      r.metric("throughput_per_s", items * ok.size / window, "1/s")
    }
  }
}

object Main {
  val Workloads = Seq("topology", "curate", "stream")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val out = opts("out")
    // median time of inputs the caller generated before the JVM started
    val genS = opts.getOrElse("gen-s", "0").toDouble

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = Host.loadAvg; val (steal0, total0) = Host.cpuTicks
    Log.phase("session")
    val spark = session(java.lang.Runtime.getRuntime.availableProcessors())
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val result = new Result
    val tracer = new Tracer(spark.sparkContext, s"$workload-$seed-${System.currentTimeMillis()}")
    spark.sparkContext.addSparkListener(new SpanListener(tracer))
    val ctx = new Ctx(spark, seed, seconds, traced, work, tracer, result, genS)
    result.info("session_s") = sessionS
    try {
      workload match {
        case "topology" => Topology.run(ctx)
        case "curate" => Curate.run(ctx)
        case "stream" => Stream.run(ctx)
      }
      result.metrics.get("setup_s").foreach { case (v, u) => result.metric("setup_s", v + sessionS, u) }
      // peak RSS varies by more than a tenth between seeds (heap growth
      // follows GC timing), so it is a per-layer metric, not an end-to-end one
      result.info("peak_rss_mb") = Host.peakRssMb
      val (steal1, total1) = Host.cpuTicks
      result.info("host_load_start") = load0
      result.info("host_load_end") = Host.loadAvg
      result.info("host_steal_pct") =
        if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
      result.info("cores") = ctx.cores
      if (traced) {
        result.metric("trace.spans", tracer.all.size.toDouble, "count")
        result.metric("runtime.peak_rss_mb", result.info("peak_rss_mb").asInstanceOf[Double], "MB")
        result.metric("run.failed_frac", result.failed.toDouble / math.max(1L, result.attempted), "ratio")
        result.metric("host.load_start", load0, "load")
        result.metric("host.load_end", Host.loadAvg, "load")
        result.metric("host.steal_pct", result.info("host_steal_pct").asInstanceOf[Double], "%")
        Layers.All.foreach { case (n, u) => if (!result.metrics.contains(n)) result.metric(n, 0.0, u) }
        tracer.dump(s"$work/spans.jsonl")
      }
      Log.phase("done")
      val w = new java.io.PrintWriter(out, "UTF-8")
      try w.println(result.json(Seq("workload" -> workload, "seed" -> seed, "trace" -> traced)))
      finally w.close()
    } finally spark.stop()
  }

  /** The program's own bench session settings (graft.Bench). */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
