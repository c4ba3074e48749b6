package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query timing of every `SparkEntry.queries` entry in one JVM.
  *
  * Reads `SPARK_GRAFT_SF_DIR` (default `/root/testdata/sf0.1`) and
  * `SPARK_GRAFT_CPUS` (via `Session`). After a warm-up over one query
  * per plan family, each query, in a fixed seeded order, gets a timed
  * first pass; a pass of 1 s or more buys more passes (3, or 5 for the
  * codec family) and the minimum is reported. Prints one compact JSON
  * line on stdout and writes the full-precision line to
  * `SPARK_GRAFT_BENCH_SELF` (default `BENCH_SELF.json`).
  *
  * Also the single home of the timing-harness hygiene `BenchProbe` and
  * `StageCount` share: `force`, `warmUp`, `clearBlocks`, `timePass`.
  */
object Bench {
  /** Run the query's FULL plan — the one planned for its complete
    * output — and drain it. `df.count()` instead re-plans with only
    * the row count as output, and Catalyst then legally deletes real
    * work (a terminal left join on unique keys prunes away: q54's
    * count() measured 0.75 s against 9 s of actual triangle
    * enumeration).
    */
  def force(df: DataFrame): Long =
    df.queryExecution.executedPlan.execute().count()

  /** One representative per plan family — scan+agg, fact join, window,
    * vector kernels, codecs, the CC iteration — because cold
    * whole-stage codegen/JIT of a family's first pipeline costs seconds
    * (the first fact-fact join paid 7.3 s cold vs 1.0 s steady; q42b's
    * first pass ~6 s cold vs ~3.8 s steady).
    */
  val WarmupQueries: Seq[String] = Seq("q11_pricing_summary", "q12_top_unshipped",
    "q14_window_running", "q28b_knn_blocked", "q25_dedup_minhash",
    "q31_multimodal_meta", "q42b_dedup_groups_lsh")

  /** Build and drain every warm-up query once; their failures are the
    * timed queries' business, not the warm-up's.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    for (w <- WarmupQueries; fn <- SparkEntry.queries.get(w))
      try force(fn(spark, sfDir)) catch { case _: Throwable => () }

  /** Drop every persistent block and hint a GC, outside any timed
    * region. `localCheckpoint` blocks are freed by the ContextCleaner
    * only after their RDD objects are GC'd; left resident across ~100
    * queries they squeeze unified memory until later queries spill
    * (q57 read 30 s in a full bench vs 4.8 s isolated). blocking=true:
    * the removal must not race into the timed region.
    *
    * This imposes a constraint on the registry: `localCheckpoint`
    * truncates lineage, so a checkpointed frame memoized across query
    * slots would lose its blocks here and fail. Every
    * `SparkEntry.queries` entry rebuilds its frames on each call.
    */
  def clearBlocks(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  /** JVM process-CPU time, -1 where the platform does not report it.
    * Beside wall time it tells waiting (wall moves, CPU does not: host
    * contention) from working (both move: the plan changed).
    */
  def cpuNanos: Long = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  /** Hypervisor steal, field 8 of /proc/stat's cpu line, in jiffies
    * (10 ms); -1 where unreadable (non-Linux), with a warning so a
    * silent -1 cannot disable the steal figures without trace.
    */
  def stealJiffies(): Long = {
    val r = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
        if (cpu.length > 8) cpu(8).toLong else -1L
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1L }
    if (r < 0) System.err.println("[bench] WARNING: steal unreadable")
    r
  }

  /** One timed pass: wall seconds, process-CPU seconds and the steal
    * over the pass in cores (each -1 where unavailable).
    */
  final case class Pass(wall: Double, cpu: Double, stealCpus: Double)

  /** Build and drain `fn`'s frame once; construction is timed too
    * (iterative operators run jobs while the frame is built).
    */
  def timePass(spark: SparkSession, sfDir: String,
               fn: (SparkSession, String) => DataFrame): Pass = {
    val s0 = stealJiffies()
    val c0 = cpuNanos
    val t0 = System.nanoTime()
    force(fn(spark, sfDir))
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = if (c0 < 0) -1.0 else (cpuNanos - c0) / 1e9
    val s1 = stealJiffies()
    Pass(wall, cpu, if (s0 < 0 || s1 < 0 || wall <= 0) -1.0 else (s1 - s0) / 100.0 / wall)
  }

  /** Seed of the query-order shuffle: a fixed order keeps runs
    * comparable, and rotating it away from name order keeps one family
    * from always inheriting the end-of-run slot (the host-load ramp
    * once landed on the graph family, which sorts last).
    */
  private val OrderSeed = 17L

  /** First passes under this many seconds are job-floor-dominated and
    * are reported as read; a slower first pass (cold JIT or genuine
    * cost) always buys the full pass count.
    */
  private val FastCut = 1.0

  /** I/O-jittery ImageIO/javax.sound passes: min-of-3 does not tame
    * them, so they get five passes.
    */
  private val CodecFamily = Set("q31_multimodal_meta", "q41_audio_meta",
    "q43_video_meta", "q50_image_dedup")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    warmUp(spark, sfDir)
    val loadStart = osBean.getSystemLoadAverage
    val stealStart = stealJiffies()
    val ordered = new scala.util.Random(OrderSeed).shuffle(SparkEntry.queries.toSeq.sortBy(_._1))
    val results = ordered.map { case (name, fn) =>
      clearBlocks(spark)
      val first = timePass(spark, sfDir, fn)
      val times =
        if (first.wall < FastCut) Seq(first)
        else first +: (2 to (if (CodecFamily(name)) 5 else 3)).map(_ => timePass(spark, sfDir, fn))
      val minPass = times.minBy(_.wall)
      (name, minPass.wall, times.map(_.wall).sorted.apply(times.size / 2), minPass.cpu)
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // medians tell "slow plan" (min moved) from "noisy slot" (min
    // steady, median inflated)
    val qsMed = results.map { case (k, _, m, _) => s"\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val qsCpu = results.map { case (k, _, _, c) => s"\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val loadEnd = osBean.getSystemLoadAverage
    val stealEnd = stealJiffies()
    // A start load > 2 or steal > 1% of one core marks the whole run
    // contended: load average sees only this kernel's run queue, a
    // noisy neighbour on a shared hypervisor shows as steal instead.
    // steal_pct is normalized to ONE core (it can exceed 100 on a big
    // guest); steal_cpus states the same quantity in cores.
    val stealPct =
      if (stealStart < 0 || stealEnd < 0 || total <= 0) -1.0
      else (stealEnd - stealStart) * 100.0 / (total * 100.0) // jiffies=10ms
    val stealCpus = if (stealPct < 0) -1.0 else stealPct / 100.0
    val contended =
      if (loadStart > 2.0 || stealPct > 1.0) "\"contended\":true," else ""
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$contended"order_seed":$OrderSeed,"queries":$qs,"queries_median":$qsMed,"queries_cpu":$qsCpu,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"steal_pct":${f"$stealPct%.2f"},"steal_cpus":${f"$stealCpus%.3f"},"sf":"$sfDir"}"""
    // The full line goes to a file: a stdout capture that keeps only
    // the last 2,000 characters truncates a ~6 KB line mid-JSON. A
    // failed write warns rather than leaving a stale record silently.
    val selfPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SELF", "BENCH_SELF.json")
    try {
      val w = new java.io.PrintWriter(selfPath)
      try w.println(line) finally w.close()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] WARNING: could not write $selfPath: $e")
    }
    // stdout gets a compact line that fits a 2,000-char tail even with
    // sbt's "[success] ..." trailer after it: keys shortened to their
    // "qNN[b]" prefixes, mins at 2 decimals, sorted by name. Medians
    // and CPU stay in the full line only: at 122 queries the two
    // arrays alone would take ~1,000 characters past the ~1,560 here.
    def short(n: String) = n.takeWhile(_ != '_')
    val cQs = results.sortBy(_._1).map { case (k, v, _, _) => f""""${short(k)}":$v%.2f""" }
      .mkString("{", ",", "}")
    val emit = f"""{"metric":"total","value":$total%.2f,"unit":"sec",$contended"order_seed":$OrderSeed,"queries":$cQs,"load_avg_start":$loadStart%.2f,"load_avg_end":$loadEnd%.2f,"sf":"$sfDir","full":"BENCH_SELF.json"}"""
    spark.stop() // before the final println: nothing may follow the JSON line
    println(emit)
  }
}
