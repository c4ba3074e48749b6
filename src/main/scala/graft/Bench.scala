package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Run the query's FULL plan — the one planned for its complete
    * output — and drain it. `df.count()` instead re-plans with only
    * the row count as output, and Catalyst then legally deletes real
    * work (a terminal left join on unique keys prunes away: q54's
    * count() measured 0.75 s against 9 s of actual triangle
    * enumeration). Same forcing action BenchScale always used, now
    * the single definition for every timing harness.
    */
  def force(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.executedPlan.execute().count()

  /** One diagnostic line of JVM/session state, for SPARK_GRAFT_BENCH_DEBUG
    * runs: used heap, cumulative GC time, and block-manager storage
    * (localCheckpoint blocks + broadcasts accumulate there across a long
    * bench session and are only released by the async ContextCleaner
    * after their frames are GC'd — the prime suspect for in-bench
    * inflation vs an isolated probe of the same query).
    */
  def jvmState(spark: SparkSession): String = {
    val rt = Runtime.getRuntime
    val usedMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    val gcMs = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans)
      .asScala.map(_.getCollectionTime).sum
    val (nRdd, memMb, diskMb) = try {
      val infos = spark.sparkContext.getRDDStorageInfo
      (infos.length, infos.map(_.memSize).sum / (1024 * 1024),
        infos.map(_.diskSize).sum / (1024 * 1024))
    } catch { case _: Throwable => (-1, -1L, -1L) }
    s"heapMB=$usedMb gcTotalMs=$gcMs cachedRdds=$nRdd storMemMB=$memMb storDiskMB=$diskMb"
  }

  /** Quiet-window retry (r13, the r12 verdict's bench-hygiene task):
    * every r12 close-out window carried hypervisor steal and the
    * committed BENCH_SELF had to ship flagged. With the steal detector
    * making "quiet" CHECKABLE, the bench can now wait for one:
    * SPARK_GRAFT_BENCH_RETRIES > 0 re-runs the whole measurement after
    * a sleep whenever the run came out contended (steal > 1% or start
    * load > 2), keeping the LAST (or first quiet) result. Default 0 —
    * the driver's invocation stays a single pass; the committed
    * cross-round BENCH_SELF is produced with retries enabled.
    */
  def main(args: Array[String]): Unit = {
    val retries = sys.env.get("SPARK_GRAFT_BENCH_RETRIES").map(_.toInt).getOrElse(0)
    val sleepS = sys.env.get("SPARK_GRAFT_BENCH_RETRY_SLEEP").map(_.toInt).getOrElse(300)
    var attempt = 0
    var quiet = false
    while (!quiet && attempt <= retries) {
      if (attempt > 0) {
        System.err.println(s"[bench] contended run discarded; sleeping ${sleepS}s " +
          s"before retry $attempt/$retries")
        Thread.sleep(sleepS * 1000L)
      }
      quiet = runOnce()
      attempt += 1
    }
  }

  /** One full measurement pass; returns true if the run was QUIET
    * (no contended flag). Prints the JSON line and writes BENCH_SELF
    * on every pass — a retried run overwrites, so the artifacts always
    * hold the final attempt.
    */
  private def runOnce(): Boolean = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep TypedImperativeAggregates (top_k_by) hash-based: the
      // default threshold (128 distinct keys/partition) silently falls
      // back to SORTING the full input — the exact cost the bounded
      // top-k aggregation exists to avoid.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: JVM/codegen/parquet-footer costs land here, not on the
    // measured queries. One representative per plan family — scan+agg,
    // fact join, window, vector kernels — because cold whole-stage
    // codegen/JIT of a FAMILY's first pipeline costs seconds (r1's
    // "q12 = 6.1s" was exactly this: the first fact-fact join paid
    // 7.3s cold vs 1.0s steady in an isolated JVM).
    // q42b covers the CC-iteration family (banded-LSH pair join +
    // per-round checkpoint plans): its first pass costs ~6s cold vs
    // ~3.8s steady (BenchProbe r6) — without a warmup slot the min-of-3
    // still carries decay (r5 bench 4.68s vs 3.7-3.9s steady).
    for (w <- Seq("q11_pricing_summary", "q12_top_unshipped",
        "q14_window_running", "q28b_knn_blocked", "q25_dedup_minhash",
        "q31_multimodal_meta", "q42b_dedup_groups_lsh"))
      SparkEntry.queries.get(w)
        .foreach(fn => try force(fn(spark, sfDir)) catch { case _: Throwable => () })
    // timed passes per query, report the min: single-JVM runs carry
    // multi-second JIT/GC/load noise (measured ±4s across full runs)
    // that would mask real plan regressions. The CODEC family
    // (q31/q41/q43/q50 — ImageIO/javax.sound passes whose I/O jitter
    // is the one noise class min-of-3 demonstrably fails to tame:
    // r6 benched q41 at 0.992 s vs its 0.53 s isolated steady) gets
    // five passes. Query order is a round-seeded rotation (see `seed`
    // below); the REPORT is always re-sorted by name.
    val debug = sys.env.get("SPARK_GRAFT_BENCH_DEBUG").contains("1")
    val codecFamily = Set("q31_multimodal_meta", "q41_audio_meta",
      "q43_video_meta", "q50_image_dedup")
    // Per-pass JVM process-CPU time rides along with wall time so a
    // bench artifact is self-diagnosing: the r7 driver bench measured
    // q27 at 27.8 s where a clean session measures 10.1 s and the
    // isolated probe 11.0 s — SAME code, data, harness (r8 A/B). Wall
    // inflating while CPU does not means the JVM was WAITING (host
    // I/O/scheduler contention during the driver's run), not doing
    // more work; CPU moving with wall means the plan itself changed.
    // System load average at start/end catches external load directly.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def cpuNanos: Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    val loadStart = osBean.getSystemLoadAverage
    // hypervisor steal (field 8 of /proc/stat's cpu line, jiffies):
    // -1 where unreadable (non-Linux) — the flag leg then no-ops
    def stealJiffies(): Long = {
      val r = try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try {
          val cpu = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
          if (cpu.length > 8) cpu(8).toLong else -1L
        } finally src.close() // r12 ADVICE: leaked a handle per call
      } catch { case scala.util.control.NonFatal(_) => -1L }
      // a silent -1 mid-run would disable the steal flag without trace
      if (r < 0) System.err.println("[bench] WARNING: steal unreadable, flag disabled")
      r
    }
    val stealStart = stealJiffies()
    // Query ORDER rotates per round (r9 lesson: the driver's host-load
    // ramp landed on the graph family, which sorted last, and
    // manufactured a 2× scare for q54/q55/q57). A deterministic
    // Fisher-Yates seeded by the ROUND NUMBER — max N of the driver's
    // committed BENCH_r{N}.json files + 1, overridable via
    // SPARK_GRAFT_BENCH_SEED — keeps each round's order pinned and
    // reproducible while guaranteeing no family systematically
    // inherits the end-of-run slot across rounds.
    val seed: Long = sys.env.get("SPARK_GRAFT_BENCH_SEED").map(_.toLong).getOrElse {
      val re = "BENCH_r(\\d+)\\.json".r
      val rounds = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .flatMap(f => re.findFirstMatchIn(f.getName).map(_.group(1).toInt))
      (if (rounds.isEmpty) 1 else rounds.max + 1).toLong
    }
    val rng = new scala.util.Random(seed)
    val ordered = rng.shuffle(SparkEntry.queries.toSeq.sortBy(_._1))
    val results = ordered.map { case (name, fn) =>
      // drain accumulated garbage (broadcasts, shuffle buffers from the
      // previous ~3N passes) OUTSIDE the timed region: r2's "q19 = 2.4s
      // min-of-3" was a major-collection landing inside one query's
      // slot — the operator measures 0.25-0.35s steady in this JVM and
      // isolated ones (see tools/BenchProbe.scala).
      // Also DROP every persistent block left by the previous query:
      // localCheckpoint frames (q53's materialized stages, q71's
      // starts, the codebook fits) are freed by the ContextCleaner
      // only after their RDD objects are GC'd — asynchronously, and
      // System.gc() is a hint. Left resident, ~90 queries of
      // checkpoint blocks squeeze unified memory and the graph
      // queries' own per-round checkpoints start spilling: r11
      // round-close measured q57 at 30 s min / 212 s CPU inside the
      // full bench vs 4.8 s / 38 s isolated, with medians degrading
      // across passes — the accumulating-blocks signature. Each query
      // slot now starts with an empty block manager (blocking=true:
      // the removal must not race into the timed region).
      // CONSTRAINT this blanket unpersist imposes on the registry:
      // localCheckpoint TRUNCATES lineage, so a checkpointed frame
      // memoized ACROSS query slots would lose its blocks here and
      // fail unrecoverably (missing checkpoint block) instead of
      // recomputing. Safe today because every SparkEntry.queries
      // entry rebuilds its frames from the parquet scan on each call
      // — keep it that way (also noted at the registry in
      // SparkEntry.scala).
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      // ADAPTIVE pass count (r12, registry-cost control): the registry
      // is ~98 queries and a fixed 3 passes each is ~2 driver-minutes
      // of pure job floor per round. Queries whose FIRST pass lands
      // under `fastCut` are job-floor-dominated — their min-of-3 never
      // moved a verdict, and any real plan regression multiplies the
      // time far past the cut — so they take the single reading.
      // Escalation is one-sided and therefore safe: a slow first pass
      // (cold JIT or genuine cost) always buys the full min-of-3
      // (codec family 5 — I/O jitter there defeats even min-of-3);
      // only an already-fast reading is ever accepted early.
      val fastCut = sys.env.get("SPARK_GRAFT_BENCH_FASTCUT")
        .map(_.toDouble).getOrElse(1.0)
      val maxPasses = if (codecFamily(name)) 5 else 3
      def onePass(i: Int): (Double, Double) = {
        val t0 = System.nanoTime()
        val c0 = cpuNanos
        force(fn(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        val dc = if (c0 < 0) -1.0 else (cpuNanos - c0) / 1e9
        if (debug) System.err.println(
          f"[bench-debug] $name pass $i: $dt%.3f s cpu=$dc%.3f s ${jvmState(spark)}")
        (dt, dc)
      }
      val first = onePass(1)
      val times =
        if (first._1 < fastCut) Seq(first)
        else first +: (2 to maxPasses).map(onePass)
      val minPass = times.minBy(_._1)
      (name, minPass._1, times.map(_._1).sorted.apply(times.size / 2), minPass._2)
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // medians ride along so a reader can tell "slow plan" (min moved)
    // from "noisy slot" (min at pin, median inflated) without a
    // separate BenchProbe session
    val qsMed = results.map { case (k, _, m, _) => s"\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    // process-CPU seconds of the min-wall pass: the wait-vs-work
    // discriminator for any future bench-vs-probe delta
    val qsCpu = results.map { case (k, _, _, c) => s"\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val loadEnd = osBean.getSystemLoadAverage
    val stealEnd = stealJiffies()
    // Contended-run flag: three end-of-round benches in a row (r8-r10)
    // ran at load 4-10 and every cross-round comparison needed manual
    // exoneration. A start load > 2 (32-core host, but the bench
    // expects the machine to itself) marks the WHOLE artifact suspect:
    // readers must treat per-query deltas as lower-confidence and
    // prefer the committed quiet-host BENCH_SELF.json.
    //
    // STEAL leg (r12 continuation): load_avg only sees THIS kernel's
    // runqueue — a noisy NEIGHBOR on a shared hypervisor shows up as
    // cpu-steal jiffies instead, and an r12 window measured the graph
    // family at 4x its pins under load_avg 1.4 with vmstat's st
    // column live at 2%. Steal > 1% of one core's jiffies across the
    // run marks the artifact exactly like high load does.
    // steal_pct normalizes against ONE core's jiffies (total·100/s),
    // so on a 32-vCPU guest it can exceed 100 (the r13 window read
    // 112.39 = ~1.1 cores stolen on average); steal_cpus states the
    // same quantity in core units so artifact readers don't have to
    // know the convention. steal_pct keeps its r12 semantics for
    // cross-round comparability.
    val stealPct =
      if (stealStart < 0 || stealEnd < 0 || total <= 0) -1.0
      else (stealEnd - stealStart) * 100.0 / (total * 100.0) // jiffies=10ms
    val stealCpus = if (stealPct < 0) -1.0 else stealPct / 100.0
    val contended =
      if (loadStart > 2.0 || stealPct > 1.0) "\"contended\":true," else ""
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$contended"order_seed":$seed,"queries":$qs,"queries_median":$qsMed,"queries_cpu":$qsCpu,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"steal_pct":${f"$stealPct%.2f"},"steal_cpus":${f"$stealCpus%.3f"},"sf":"$sfDir"}"""
    // The FULL-precision, full-name record lands in a FILE (committed
    // each round): the driver's stdout capture keeps only the last
    // 2,000 characters, and r8/r9 proved a ~6 KB line gets truncated
    // mid-JSON there ("parsed": null — per-query walls lost).
    // path overridable for non-repo-root launch dirs; a failed write
    // WARNS (stderr) instead of silently leaving a stale committed
    // record — the whole point of the file is freshness
    val selfPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SELF", "BENCH_SELF.json")
    try {
      val w = new java.io.PrintWriter(selfPath)
      try w.println(line) finally w.close()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] WARNING: could not write $selfPath: $e")
    }
    // stdout gets a COMPACT line engineered to fit ENTIRELY inside the
    // driver's 2,000-char tail even with sbt's "[success] ..." trailer
    // (~80 chars) after it: query keys shortened to their unambiguous
    // "qNN[b]" prefixes, mins at 2 decimals as the "queries" map (the
    // driver contract), medians and min-pass process-CPU as parallel
    // arrays IN "queries" KEY ORDER at 1 decimal. Queries always
    // re-sorted by name here — the rotated execution order is a bench
    // artifact, not part of the report contract.
    def short(n: String) = n.takeWhile(_ != '_')
    val sortedR = results.sortBy(_._1)
    val cQs = sortedR.map { case (k, v, _, _) => f""""${short(k)}":$v%.2f""" }
      .mkString("{", ",", "}")
    val cMed = sortedR.map { case (_, _, m, _) => f"$m%.1f" }.mkString("[", ",", "]")
    val cCpu = sortedR.map { case (_, _, _, c) => f"$c%.1f" }.mkString("[", ",", "]")
    val compact = f"""{"metric":"total","value":$total%.2f,"unit":"sec",$contended"order_seed":$seed,"queries":$cQs,"med":$cMed,"cpu":$cCpu,"load_avg_start":$loadStart%.2f,"load_avg_end":$loadEnd%.2f,"sf":"$sfDir","full":"BENCH_SELF.json"}"""
    // belt-and-braces: if a future query explosion pushes past the tail
    // budget, shed the ride-along arrays rather than truncate mid-JSON
    val emit =
      if (compact.length <= 1850) compact
      else f"""{"metric":"total","value":$total%.2f,"unit":"sec",$contended"order_seed":$seed,"queries":$cQs,"load_avg_start":$loadStart%.2f,"load_avg_end":$loadEnd%.2f,"sf":"$sfDir","full":"BENCH_SELF.json"}"""
    spark.stop() // before the final println: nothing may follow the JSON line
    println(emit)
    contended.isEmpty
  }
}
