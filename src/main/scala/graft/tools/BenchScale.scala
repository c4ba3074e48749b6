package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge.drainListenerBus
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.{Session, SparkEntry}
import graft.sources.Tables

/** Scaling-curve measurement for the heavy LLM-pipeline operators —
  * the empirical check behind the 100 TB design claims. Usage:
  *
  *   runMain graft.tools.BenchScale <sfDir> [passes]   (passes default 3)
  *
  * Method: scale points n/4, n/2, n are materialized by subsetting the
  * input tables (every point rewritten through the SAME
  * limit→repartition→parquet path, so file layout and scan parallelism
  * are uniform across sizes). Per query and point, three measurements;
  * exponents are the log-log slope between the two LARGEST points:
  *
  *  - ROW TRAFFIC: Σ numOutputRows over every executed-plan node (AQE
  *    stages included) — deterministic and overhead-free. Catches
  *    quadratic candidate/pair generation (q28's N² join rows).
  *  - OUTPUT ROWS: the final result count — for an all-pairs emitter
  *    like q30 the answer set IS the work, and its quadratic growth
  *    shows here even though the pair loop runs INSIDE the join node
  *    (the cosine predicate folds into the join condition, so rejected
  *    pairs are invisible to row metrics).
  *  - EXECUTOR CPU and WALL TIME: reported for reference, NOT
  *    asserted — at test scale a ~0.3 s scheduler/codegen floor (and
  *    listener-bus jitter) swamps the compute; the earlier wall-only
  *    version of this tool showed NO family separation at all.
  *
  * The asserted "work exponent" is max(rowExp, outExp) — both
  * deterministic. Families:
  *
  *  - scalable (q25/q26/q29/q32): output is ~N rows (signatures,
  *    top-k) and the candidate machinery is occupancy-bounded
  *    (banding, salted bucket caps, √N centroids) → work exponent
  *    must stay < 1.6 (q32's N^1.5 assignment is the family max by
  *    design).
  *  - quadratic (q28/q30): declared exact all-pairs baselines → work
  *    exponent must read > 1.7, validating that the harness actually
  *    detects quadratic growth (and keeping the baselines honest).
  *  - output-bound (q27/q30b): they emit ALL qualifying pairs, and on
  *    cluster-skewed corpora the TRUE answer set is itself
  *    superlinear — no sub-quadratic candidate bound exists without
  *    changing semantics, so these are reported (with the final
  *    output-row count per point) but not asserted.
  *
  * Prints one JSON line (redirect to SCALING.json for the artifact);
  * exit 1 if the asserted families fail to separate.
  */
object BenchScale {

  private val Usage = "usage: BenchScale <sfDir> [passes]"

  private val Scalable = Seq(
    "q25_dedup_minhash",
    "q26_dedup_simhash",
    "q29_knn_lsh",
    "q32_knn_ivf",
    "q38_decontamination",
    "q39_repetition_stats",
    "q40_keywords",
    "q44_range_join",
    "q45_heavy_hitters",
    "q46_quantile_gate",
    "q47_pack_sequences",
    "q48_mixture_solve",
    "q49_decontaminate_fuzzy",
    "q50_image_dedup",
    "q51_tokenize",
    "q47b_pack_tokenized",
    "q48b_mixture_tokenized",
    "q52_segment_dedup",
    "q53_curate",        // q53b (r13) deliberately NOT probed separately:
                         // identical chain except the final rate key
                         // (source vs lang — same solveRates machinery,
                         // same q48b-class shape); doubling the most
                         // expensive probe buys no new exponent
    // likewise q29b/q90: q29b == q30b candidates (probed) + q63 ranking
    // (probed at deploy sizing); q90 == q48b's exact shape re-keyed
    "q55_pagerank",     // fixed 8 iterations, each linear in |E|
    "q56_restore_state", // one hash aggregate over the changelog
    "q57_communities",  // fixed 5 LPA rounds, each linear in |E|
    "q58_pii_redact",   // stateless regex projection
    "q61_perplexity",   // two linear aggs + one (w1,w2) probe join
    "q62_bm25_search",  // inverted index + 20-term broadcast probe
    "q65_pq_codes",     // joint Lloyd aggs + pure-map encode: linear
    "q65b_pq_search",   // broadcast LUT + (query,vec) partial agg: linear
    "q67_bpe_train",    // ONE corpus token agg; loop on the vocab-bounded table
    "q68_bpe_encode",   // train agg + one pure-map nested-replace encode scan
    "q69_dsir",         // one (doc,bucket) agg; B-sized models; broadcast scoring
    "q71_substring_dedup", // N·L window digests: one agg + one probe join, linear
    "q72_nb_classifier", // one (doc,bucket) agg; B-row model; broadcast scoring
    "q73_bloom_decontam", // q38 + a map-side bloom prefilter: still linear
    "q74_ccnet_buckets", // q61 + bounded per-lang sketch + broadcast cutoffs
    "q78_epoch_shuffle", // one exchange + per-shard sorts + bounded offsets
    "q79_cluster_sample", // q60 pure-map assign + one quota-bounded agg
    "q82_sq8",           // one 64-group min/max agg + a pure-map encode
    "q83_dataset_diff",  // two digest projections + one digest-keyed join
    "q84_memorization_risk", // df agg + postings join + per-doc agg: linear
    "q85_chunk_passages",    // stateless narrow projection + generate
    "q86_embedding_outliers", // q60 pure-map assign + bounded sketch agg
    "q92_scd2",          // two window passes sharing one (key | ts) sort
    "q93_zorder",        // one min/max agg + a pure-map interleave
    "q93b_hilbert",      // one min/max agg + a fused-kernel pure map (r13)
    "q94_mmr",           // q62 scoring + bounded candidate/sim state
    "q95_pca_power",     // fixed iterations x two narrow aggs each
    "q96_unimax",        // one corpus agg; waterfill on the S-row frame
    "q97_kanon",         // one QI aggregate + key-only join back (r12 ADVICE gap)
    "q98_dp_counts",     // one corpus agg + pure-map noise
    "q99_hybrid_rrf",    // tf index agg + Q-bounded probe terms/vectors:
                         // both legs linear in the corpus for fixed Q
    "q100_drift_psi",    // two feature-count aggs + bucket-sized arithmetic
                         // (q100b deliberately NOT probed separately: the
                         // alert is one bucket-frame re-aggregation of the
                         // probed report — no new exponent)
    "q101_unigram_train", // ONE corpus word agg; EM loop on the wordCap frame
    "q101b_unigram_encode", // train agg + one pure-map Viterbi encode scan
    "q102_rag_search",   // chunk projection + passage tf agg + Q-bounded
                         // broadcast candidates: linear for fixed Q
    "q103_curate_incremental", // two q53-class chains (v1 + delta) over
                               // disjoint corpus slices: the q53 shape twice
                               // (q103b deliberately NOT probed: the delta
                               // leg alone — a strict subset of this probe;
                               // q103c r16 likewise: the same two chains
                               // plus one more delta leg and linear
                               // digest-union distincts — the probed shape
                               // a third time, no new exponent)
    "q104_kn_trigram",   // trigram type/continuation aggs + probe join +
                         // per-doc agg: the q61 shape one order up, linear
    "q104b_kn_fivegram", // the same ladder at order 5: type tables per
                         // order, all linear in corpus n-gram volume
                         // (q104c r16 deliberately NOT probed: q104b's
                         // exact aggregates at order 3 with peff as one
                         // more projection column per level — a strict
                         // subset of this probe's work; q53c likewise:
                         // q53's probed chain over a gated subset plus a
                         // stateless url projection, the q105 class)
    "q105_url_filter",   // stateless narrow projection — the cheapest class
    "q67b_bpe_bytes_train", // ONE corpus pre-token agg; loop on the
                            // vocabCap-bounded byte-packed table (q67's shape)
    "q68b_bpe_bytes_encode") // train agg + one pure-map nested-replace scan
  private val Quadratic = Seq(
    "q28_knn_bruteforce",
    "q30_embedding_dedup")
  private val OutputBound = Seq(
    "q27_ngram_jaccard",
    "q30b_embedding_dedup_lsh",
    "q42_dedup_groups", // closure work tracks the (quadratic) pair graph
    "q42b_dedup_groups_lsh", // LSH pairs: tracks the TRUE pair set, not N²
    "q80_leakage_split", // q25 pairs + closure: tracks the TRUE dup-pair set
    "q54_triangle_count", // corner rows = 3·Δ — the answer itself densifies with |E|
    "q91_winnow") // emits ALL qualifying pairs: the answer densifies with the
                  // corpus's near-dup mass (probed outExp 1.95 on the natural
                  // corpus while the candidate MACHINERY reads rowExp 1.05 —
                  // the maxDf cap bounds per-bucket pairs, not the true answer)

  /** Σ numOutputRows over the executed tree, descending into
    * materialized AQE query stages (QueryStageExec is a leaf whose
    * real plan hangs off `plan`).
    */
  private def rowTraffic(p: SparkPlan): Long = {
    val here = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here + kids.map(rowTraffic).sum
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1 || args.length == 2, Usage)
    val sfDir = Args.sfDir(args(0), Usage)
    val passes = args.lift(1).fold(3)(Args.positiveInt(_, "passes", Usage))
    val cpus = Session.cpus
    val spark = Session(cpus)

    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
    })
    // Row traffic of CONSTRUCTION-TIME actions (eager localCheckpoints,
    // observe collects): iterative operators run their per-round work
    // as Dataset actions while the frame is being BUILT, so the
    // returned plan's metrics miss it entirely — q55's row exponent
    // read 0.00 with 8 iterations of |E| joins hidden behind its
    // checkpoints. Dataset actions notify QueryExecutionListener;
    // the returned plan's RDD-level drain does not, so the two sources
    // partition the traffic and their SUM is the honest total.
    // Reported (all_rows/all_rows_exponent), NOT asserted: the family
    // bounds keep their r4-calibrated row-traffic semantics.
    val qeRows = new java.util.concurrent.atomic.AtomicLong
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qeRows.addAndGet(rowTraffic(qe.executedPlan))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })

    val work = java.nio.file.Files.createTempDirectory("benchscale").toString
    val docs = Tables.load(spark, sfDir, "documents")
    val embs = Tables.load(spark, sfDir, "embeddings")
    val evs = Tables.events(spark, sfDir)
    val li = Tables.load(spark, sfDir, "lineitem")
    val part = Tables.load(spark, sfDir, "part")
    // q97's fact side (the QI aggregate scans customer; its Linear
    // classification was the r12 ADVICE gap, and the regen needs the
    // table in every scale dir)
    val cust = Tables.load(spark, sfDir, "customer")
    val nd = docs.count(); val ne = embs.count(); val nv = evs.count()
    val nl = li.count(); val nc = cust.count()
    val divs = Seq(4, 2, 1)
    val dirs = divs.map { div =>
      val dir = s"$work/div$div"
      docs.limit((nd / div).toInt).repartition(cpus)
        .write.parquet(s"$dir/documents.parquet")
      embs.limit((ne / div).toInt).repartition(cpus)
        .write.parquet(s"$dir/embeddings.parquet")
      evs.limit((nv / div).toInt).repartition(cpus)
        .write.parquet(s"$dir/events.parquet")
      // graph scale points: the FACT side (lineitem incidences) scales,
      // the part dim stays whole — vertices are fixed, edge density
      // grows, matching how a real corpus densifies
      li.limit((nl / div).toInt).repartition(cpus)
        .write.parquet(s"$dir/lineitem.parquet")
      part.write.parquet(s"$dir/part.parquet")
      cust.limit((nc / div).toInt).repartition(cpus)
        .write.parquet(s"$dir/customer.parquet")
      dir
    }
    // adversarial q54 shape: a STAR — every synthetic order pairs the
    // hub part with one leaf, so the hub's degree IS the scale point
    // (the GraphSpec:74 property at BenchScale sizes). Degree
    // orientation makes the hub every edge's DESTINATION: out-degree
    // stays ≤ 2, the intersect side never explodes, and the measured
    // exponent must stay ~linear — a wedge-join formulation would read
    // Θ(deg²) here.
    val starDirs = divs.map { div =>
      import org.apache.spark.sql.functions._
      val dir = s"$work/star$div"
      val leaves = (nl / div).toInt
      val leaf = spark.range(1, leaves + 1)
      leaf.select((col("id") * 2).as("l_orderkey"), lit(0L).as("l_partkey"))
        .unionAll(leaf.select((col("id") * 2).as("l_orderkey"), col("id").as("l_partkey")))
        // one closing edge so the answer is non-trivial (1 triangle)
        .unionAll(spark.range(1, 2).select(lit(1L).as("l_orderkey"), lit(1L).as("l_partkey")))
        .unionAll(spark.range(1, 2).select(lit(1L).as("l_orderkey"), lit(2L).as("l_partkey")))
        .repartition(cpus)
        .write.parquet(s"$dir/lineitem.parquet")
      spark.range(0, leaves + 1).select(col("id").as("p_partkey"))
        .repartition(cpus)
        .write.parquet(s"$dir/part.parquet")
      dir
    }
    // adversarial q44 shape: EVERY event of the subset remapped into a
    // single window-width bin (ts' = base + us mod w) — the r4
    // verdict's burst scenario, where window-wide bins cost Θ(B²).
    // Scale points grow the burst itself, so the measured exponent IS
    // the per-burst bound (micro-bin design: ~B^1.5).
    val burstDirs = divs.map { div =>
      val dir = s"$work/burst$div"
      evs.limit((nv / div).toInt)
        .withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "timestamp_micros(1700000000000000 + pmod(unix_micros(ts), 300000000))"))
        .repartition(cpus)
        .write.parquet(s"$dir/events.parquet")
      dir
    }

    case class M(wall: Double, rows: Long, cpu: Double, out: Long, allRows: Long)
    def measure(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                dir: String): M = {
      graft.Bench.force(fn(spark, dir)) // warm: codegen + JIT + file listing (same plan as measured)
      System.gc() // keep major GCs out of the timed region (Bench.scala rationale)
      val ms = (1 to passes).map { _ =>
        val cpu0 = cpuNs.get()
        val qr0 = qeRows.get()
        val t0 = System.nanoTime()
        // construction INSIDE the timed region: iterative operators
        // (q42's label-propagation loop) run driver-side jobs while
        // building the frame — wall, the CPU listener, and the
        // QueryExecutionListener row counter capture them; the `rows`
        // field still reflects only the returned plan
        val qe = fn(spark, dir).queryExecution
        val out = qe.executedPlan.execute().count() // runs THIS plan → its metrics populate
        val dt = (System.nanoTime() - t0) / 1e9
        drainListenerBus(spark) // deterministic settle for the CPU + QE counters
        val finalRows = rowTraffic(qe.executedPlan)
        M(dt, finalRows, (cpuNs.get() - cpu0) / 1e9, out,
          finalRows + (qeRows.get() - qr0))
      }
      ms.minBy(_.wall).copy(cpu = ms.map(_.cpu).min)
    }

    def slope(big: Double, half: Double): Double =
      math.log(big / half) / math.log(2.0)

    case class R(name: String, family: String, m: Seq[M],
                 rExp: Double, oExp: Double, workExp: Double, aExp: Double)
    // trainCodebook in isolation (inside q32b it hides behind the IVF
    // assignment's N^1.5): with the r10 hash-sample cap BINDING at
    // these points (256 < every emb subset), per-iteration scoring is
    // sample×C = CONSTANT and only the one-pass TakeOrdered sample
    // selection scans N — so total row traffic must read ~linear.
    // Unsampled training here would score N×C per iteration and the
    // all-rows slope would exceed 1.5. Asserted < 1.25 (train_bounded).
    val codebookFn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        s.conf.set("graft.ivf.trainSampleCap", "256")
        try graft.operators.Similarity.trainCodebook(
          Tables.embeddings(s, dir), nCentroids = 32, iters = 2)
        finally s.conf.unset("graft.ivf.trainSampleCap")
      }
    // registry = driver-facing queries + the retired FP ANN scale
    // probes (q29/q32/q32b live in scaleProbes since r13 — no oracle
    // can exist for FP cosine, but their exponents stay guarded here)
    val registry = SparkEntry.queries ++ SparkEntry.scaleProbes
    val entries =
      Scalable.map(q => (q, registry(q), "scalable", dirs)) ++
      Quadratic.map(q => (q, registry(q), "quadratic", dirs)) ++
      OutputBound.map(q => (q, registry(q), "output_bound", dirs)) ++
      // q44 on the pure-burst corpora: asserted < 1.7 — the micro-bin
      // decomposition's B^1.5 design bound, clearly separated from the
      // Θ(B²) a window-wide binning measures on this shape
      Seq(("q44_range_join_burst", registry("q44_range_join"), "skew_bounded", burstDirs),
      // q54 on the star corpora: hub degree = scale point; asserted
      // < 1.7 — degree orientation keeps intersect sides O(1) here,
      // the wedge join this operator rejected would read ~2.0
      ("q54_triangle_star", registry("q54_triangle_count"), "skew_bounded", starDirs),
      ("trainCodebook_sampled", codebookFn, "train_bounded", dirs),
      // q63 at the DEPLOY sizing (k ≈ √N, not the oracle-pinned k=8):
      // candidates ≈ N²·nProbe/k ⇒ O(N^1.5) — asserted < 1.7. At the
      // registered fixed k the same query would read ~2.0 (it exists
      // for checkability, not scale; the scaladoc says so).
      ("q63_ivf_sqrtn", (s: SparkSession, dir: String) => {
        val e = Tables.embeddings(s, dir)
        val k = math.max(8, math.ceil(math.sqrt(e.count().toDouble)).toInt)
        graft.operators.Similarity.knnIvfInt(e, k = k, iters = 1)
      }, "skew_bounded", dirs),
      // q64 at the DEPLOY sizing (k ≈ √N, not the oracle-pinned k=8):
      // within-cluster pairs ≈ N²/k ⇒ O(N^1.5) — asserted < 1.7. At
      // the registered fixed k the pair join would read ~2.0 (the q63
      // checkability-vs-scale split, same scaladoc note).
      ("q64_semdedup_sqrtn", (s: SparkSession, dir: String) => {
        val e = Tables.embeddings(s, dir)
        val k = math.max(8, math.ceil(math.sqrt(e.count().toDouble)).toInt)
        graft.operators.Components.semDedup(e, k = k, iters = 1)
      }, "skew_bounded", dirs))
    val results = entries.map { case (report, query, fam, ds) =>
      val m = ds.map(measure(query, _)) // ascending size: n/4, n/2, n
      val rExp = slope(m(2).rows.toDouble, m(1).rows.toDouble)
      val oExp = slope(m(2).out.toDouble, m(1).out.toDouble)
      val aExp = slope(m(2).allRows.toDouble, m(1).allRows.toDouble)
      val workExp = math.max(rExp, oExp)
      System.err.println(f"[scale] $report%-24s $fam%-12s " +
        f"rows=${m(0).rows}/${m(1).rows}/${m(2).rows} rowExp=$rExp%.2f " +
        f"out=${m(0).out}/${m(1).out}/${m(2).out} outExp=$oExp%.2f " +
        f"allRows=${m(0).allRows}/${m(1).allRows}/${m(2).allRows} allExp=$aExp%.2f " +
        f"cpu=${m(0).cpu}%.2f/${m(1).cpu}%.2f/${m(2).cpu}%.2f s " +
        f"t=${m(0).wall}%.3f/${m(1).wall}%.3f/${m(2).wall}%.3f s")
      R(report, fam, m, rExp, oExp, workExp, aExp)
    }

    val scalExps = results.filter(_.family == "scalable").map(_.workExp)
    val quadExps = results.filter(_.family == "quadratic").map(_.workExp)
    val skewExps = results.filter(_.family == "skew_bounded").map(_.workExp)
    // the iterative-training family asserts on the ALL-ROWS slope (its
    // work happens in construction-time jobs, invisible to the
    // returned plan's metrics — the honest-linearity discipline of the
    // CC loop, here promoted to an assertion)
    val trainExps = results.filter(_.family == "train_bounded").map(_.aExp)
    val gap = quadExps.min - scalExps.max
    val ok = scalExps.forall(_ < 1.6) && quadExps.forall(_ > 1.7) &&
      skewExps.forall(_ < 1.7) && trainExps.forall(_ < 1.25) && gap > 0.2

    val qjson = results.map { r =>
      f""""${r.name}":{"family":"${r.family}",""" +
      f""""rows":[${r.m.map(_.rows).mkString(",")}],"row_exponent":${r.rExp}%.2f,""" +
      f""""output_rows":[${r.m.map(_.out).mkString(",")}],""" +
      f""""output_exponent":${r.oExp}%.2f,"work_exponent":${r.workExp}%.2f,""" +
      f""""all_rows":[${r.m.map(_.allRows).mkString(",")}],"all_rows_exponent":${r.aExp}%.2f,""" +
      f""""cpu_sec":[${r.m.map(x => f"${x.cpu}%.3f").mkString(",")}],""" +
      f""""t_sec":[${r.m.map(x => f"${x.wall}%.3f").mkString(",")}]}"""
    }.mkString(",")
    println(f"""{"metric":"scaling_exponents","sf_dir":"$sfDir","passes":$passes,""" +
      f""""doc_rows":$nd,"emb_rows":$ne,"queries":{$qjson},""" +
      f""""scalable_max_work_exp":${scalExps.max}%.2f,""" +
      f""""quadratic_min_work_exp":${quadExps.min}%.2f,""" +
      f""""separation":$gap%.2f,"ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
