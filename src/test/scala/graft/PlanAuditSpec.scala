package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan audits (SURVEY.md §5): the properties that make these
  * operators survive a 100× scale-up are asserted here, not just
  * eyeballed — filter/projection pushdown into the parquet scan,
  * broadcast of the small dims, and shuffle counts (an extra exchange
  * at sf0.1 is the bottleneck at 100 TB).
  */
class PlanAuditSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.operators.{Analytics, CoreOps}
  import graft.sources.Tables

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan
  private def planStr(df: DataFrame): String = plan(df).toString
  /** Execute first so AQE finalizes the plan (AdaptiveSparkPlanExec
    * hides its children until then), then audit the REAL plan.
    */
  private def finalPlanStr(df: DataFrame): String = {
    df.collect() // df.count() would execute a DIFFERENT (re-planned) query
    finalSection(df.queryExecution.executedPlan.toString)
  }
  /** AQE prints "== Final Plan ==" then "== Initial Plan ==": audit the
    * final section only, or every node double-counts.
    */
  private def finalSection(plan: String): String = plan.split("== Initial Plan ==")(0)

  /** Executed plan of every query `run` triggers, as (action, plan).
    * The curation chains checkpoint each stage while building the frame
    * (Materializer), so each stage runs as its own query and its plan
    * never shows in the returned frame's checkpoint-truncated plan —
    * a QueryExecutionListener is the only place these SEGMENT plans
    * can be audited.
    */
  private def segmentPlans(run: => Unit): Vector[(String, String)] = {
    val captured = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        captured.synchronized {
          captured += ((funcName, qe.executedPlan.toString))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      // ExecutionListenerBus delivery is async: poll until the capture
      // count is stable (segments arrive in bursts during construction)
      var last = -1
      var spins = 0
      while (spins < 40 && captured.synchronized(captured.size) != last) {
        last = captured.synchronized(captured.size)
        Thread.sleep(250)
        spins += 1
      }
    } finally spark.listenerManager.unregister(listener)
    captured.synchronized(captured.toVector)
  }

  /** The scale invariants every curation-chain segment keeps: equi
    * joins only (no cartesian, no nested loop), no global sort, and
    * corpus text never a shuffle key (every exchange keys on a digest,
    * id or shard — the chain's fixed-width-key rule end to end).
    * `minSegments` guards against the audit going dark (localCheckpoint
    * runs under withAction — if a Spark upgrade stops reporting it,
    * the segment count collapses).
    */
  private def auditChainSegments(chain: String, segs: Vector[(String, String)],
                                 minSegments: Int): Unit = {
    assert(segs.size >= minSegments,
      s"$chain: expected >=$minSegments materialized segments, got ${segs.size}")
    for ((fn, p) <- segs) {
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$chain segment via $fn plans a cartesian or nested-loop join:\n$p")
      assert(!p.contains("rangepartitioning"),
        s"$chain segment via $fn plans a global sort:\n$p")
      assert(!p.contains("Exchange hashpartitioning(text"),
        s"$chain segment via $fn shuffles corpus text:\n$p")
    }
  }
  private def countShuffles(df: DataFrame): Int =
    "Exchange hashpartitioning".r.findAllIn(finalPlanStr(df)).size

  test("q11 pushes the shipdate filter and prunes columns at the scan") {
    val s = planStr(Analytics.pricingSummary(Tables.lineitem(spark, sfDir)))
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), s)
    // pruned read schema: none of the unused key columns are scanned
    assert(!s.contains("l_orderkey"), "scan should not read l_orderkey")
  }

  test("q11 is a single-shuffle partial->final aggregation") {
    assert(countShuffles(Analytics.pricingSummary(Tables.lineitem(spark, sfDir))) == 1)
  }

  test("q06 join+groupBy on the same key reuses one exchange per side") {
    // lineitem⋈part on partkey (broadcast part) then groupBy orderkey:
    // exactly one shuffle of the fact side (for the final agg) + none
    // for the broadcast join.
    val df = CoreOps.orderReassembly(Tables.lineitem(spark, sfDir), Tables.part(spark, sfDir))
    assert(countShuffles(df) <= 2, planStr(df))
  }

  test("q03 broadcast join ships no exchange for the probe side") {
    val df = CoreOps.joinStoreBroadcast(Tables.customer(spark, sfDir),
      Tables.nation(spark, sfDir), Tables.region(spark, sfDir))
    assert(countShuffles(df) == 0, planStr(df))
    assert(planStr(df).contains("BroadcastHashJoin"))
  }

  test("q13 broadcasts nation and region (dims never shuffle the facts)") {
    val df = Analytics.regionalRevenue(Tables.customer(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir),
      Tables.supplier(spark, sfDir), Tables.nation(spark, sfDir), Tables.region(spark, sfDir))
    val s = planStr(df)
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("q07 aggregation is partial->final (map-side combine present)") {
    val s = planStr(CoreOps.productStats(Tables.lineitem(spark, sfDir)))
    // two HashAggregates (partial + final) around one exchange
    assert("HashAggregate".r.findAllIn(s).size >= 2, s)
  }

  test("q28 dot product is inlined in whole-stage codegen (no fallback)") {
    val df = graft.operators.Similarity.knnBruteForce(Tables.embeddings(spark, sfDir), 3)
    val s = finalPlanStr(df)
    // in AQE plan strings whole-stage codegen shows as "*(n) " prefixes
    assert(s.contains("*("), s)
    // the join itself (where the N² dot products run) must be codegen'd:
    // DotProductD never appears under a CodegenFallback wrapper
    assert(!s.contains("CodegenFallback"), s)
  }

  test("q12 plan: filters pushed on all three scans, top-k without a full sort") {
    // profiled r2: steady state ~1s at sf0.1; the 6.1s in BENCH_r01 was
    // cold-JVM codegen/JIT of the first fact-fact join pipeline (first
    // pass 7.3s, passes 2-8 all 1.0-1.3s). The plan itself is the one
    // to keep: selective predicates reach every scan, AQE demotes both
    // joins to broadcast at this scale, the aggregation is the single
    // exchange, and the top-10 is TakeOrderedAndProject - never a
    // global sort.
    val df = Analytics.topUnshipped(Tables.customer(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir))
    val s = finalPlanStr(df)
    assert(s.contains("EqualTo(c_mktsegment,BUILDING)"), s)
    assert(s.contains("LessThan(o_orderdate"), s)
    assert(s.contains("GreaterThan(l_shipdate"), s)
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(!s.replaceAll("TakeOrderedAndProject\\(limit=\\d+, orderBy", "")
      .contains("Sort "), "top-k must not plan a full Sort: " + s)
    assert(countShuffles(df) <= 1, s)
  }

  test("q30 block-pair dedup plans as an equi-join: no nested-loop, no cartesian") {
    // the r1 formulation was a non-equi join -> BroadcastNestedLoopJoin
    // (whole side broadcast, O(N^2) in one task's hands). The
    // 1-Bucket-Theta rewrite must shuffle on the task key instead.
    val df = graft.operators.Similarity.embeddingDedup(Tables.embeddings(spark, sfDir))
    val s = finalPlanStr(df)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q30b LSH dedup: candidate generation is an equi-join on (band, sig)") {
    val df = graft.operators.Similarity.embeddingDedupLsh(Tables.embeddings(spark, sfDir))
    val s = finalPlanStr(df)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("bucketed lineitem+orders: q06/q10-shaped join+agg plans ZERO exchanges") {
    // storage-side analog of the reference's co-partitioned topics
    // (BuildSystem.java): both facts bucketed on the orderkey with the
    // same bucket count -> the fact⋈fact join AND the same-key groupBy
    // both read the bucket layout as their distribution, so the whole
    // reassembly pipeline runs without a single exchange.
    import org.apache.spark.sql.functions._
    import graft.sources.TableWriter
    for (t <- Seq("li_coloc", "o_coloc")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"/tmp/graft-test-warehouse/$t")
      if (dir.exists()) {
        import scala.reflect.io.Directory
        new Directory(dir).deleteRecursively()
      }
    }
    TableWriter.writeBucketed(Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity"), "li_coloc", "l_orderkey", 8)
    TableWriter.writeBucketed(Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice"), "o_coloc", "o_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
      val df = spark.table("li_coloc")
        .join(spark.table("o_coloc"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("item_count"), sum(col("l_quantity")).as("total_qty"))
      val s = finalPlanStr(df)
      assert(!s.contains("Exchange"), s)
      // sanity: it is still a real join+agg over all line items
      assert(df.agg(sum(col("item_count"))).head().getLong(0)
        == Tables.lineitem(spark, sfDir).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q58 pii redaction is a pure projection: zero exchanges, scan prunes to (doc_id, text)") {
    val df = graft.operators.TextOps.piiRedact(Tables.documents(spark, sfDir))
    val s = finalPlanStr(df)
    assert(!s.contains("Exchange"), s)
    // three regex passes must not triple the scan either: ONE scan node
    assert("Scan parquet".r.findAllIn(s).size == 1, s)
    assert(s.contains("ReadSchema: struct<doc_id:bigint,text:string>"), s)
  }

  test("q62 bm25: query-term idf broadcasts, inverted index never re-shuffles for it, no full sort") {
    val df = graft.operators.TextOps.bm25Search(Tables.documents(spark, sfDir))
    val s = finalPlanStr(df)
    // the 20-term qIdf table must reach the tf frame as a broadcast
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"), s)
    // top-k per term is the ObjectHashAggregate TopKBy kernel — never
    // a per-term window sort over the whole posting list
    assert(!s.contains("Window"), s)
    assert(s.contains("ObjectHashAggregate"), s)
  }

  test("q61 perplexity: equi-joins only, aggregates partial->final, no window") {
    val df = graft.operators.TextOps.perplexity(Tables.documents(spark, sfDir))
    val s = finalPlanStr(df)
    // probe + model joins: hash/merge equi-joins only (blanket sweep
    // re-checks this; asserted here so a failure names the query)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    // the count tables and the per-doc fold are ordinary hash
    // aggregations (map-side combined); nothing plans a window sort
    assert(s.contains("HashAggregate"), s)
    assert(!s.contains("Window"), s)
  }

  test("q104/q104b/q104c kn family: model joins keyed on n-gram columns, no corpus window, text never a shuffle key") {
    val docs = Tables.documents(spark, sfDir)
    for ((name, df) <- Seq(
        "q104" -> graft.operators.NgramLm.knPerplexity(docs),
        "q104b" -> graft.operators.NgramLm.knPerplexityN(docs, 5),
        "q104c" -> graft.operators.NgramLm.knPerplexityNPruned(docs, 3, 2L, 2L))) {
      val s = finalPlanStr(df)
      // probe + ladder joins: hash/merge equi-joins only — EXCEPT the
      // single-row count-scalar crossJoin (r17: N1+(··)/Σcnt ride
      // in-plan as a 1-row IdentityBroadcastMode build instead of a
      // driver collect, so the whole model is ONE execution and the
      // runtime stage cache dedups the count chain; the nested loop is
      // O(rows×1), the q45 single-row-sketch class)
      assert(!s.contains("CartesianProduct"), s"$name: $s")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(s).size
      assert(bnlj <= 1, s"$name: expected at most the 1-row scalar BNLJ, got $bnlj\n$s")
      if (bnlj == 1)
        assert(s.contains("IdentityBroadcastMode"),
          s"$name: the only allowed BNLJ is the 1-row broadcast scalar\n$s")
      // the scoring probe join keys on the n-gram WORD columns (the
      // model is an aggregate of the type frame, never a corpus cache)
      assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[?w1#".r
        .findFirstIn(s).isDefined,
        s"$name: model join must key on the n-gram columns\n$s")
      // type-table aggregates are ordinary partial->final hash aggs;
      // nothing plans a window sort anywhere (the log kernel runs on
      // TYPE rows inside projections)
      assert(s.contains("HashAggregate"), s"$name: $s")
      assert(!s.contains("Window"), s"$name: no corpus window allowed\n$s")
      // text never rides an exchange — shuffles key on words/doc_id
      assert(!s.contains("Exchange hashpartitioning(text"),
        s"$name: corpus text must never be a shuffle key\n$s")
    }
  }

  test("BLANKET SWEEP: no query plans a cartesian or nested-loop join") {
    // Every SparkEntry query executed at sf0.001, its FINAL plan
    // grepped for the two scale-killer join shapes. The dedicated
    // audits above pin interior stages behind checkpoints; this net
    // catches the regression class where a future edit (a dropped
    // equi-condition, a lit() join key) silently degrades SOME query
    // to an O(N²) join — the single worst 100 TB failure mode.
    // allowances are per (query, hazard): a query exempted for its
    // documented nested-loop shape must still fail the sweep if a
    // future edit adds a CartesianProduct elsewhere in its tree
    val allowed = Map(
      // one-row aggregate build side: the CMS sketch rides a
      // 1×k nested loop by construction — O(k), not a hazard
      ("q45_heavy_hitters", "BroadcastNestedLoopJoin") -> "single-row cms sketch crossJoin",
      // the DECLARED quadratic all-pairs baseline (vec_id =!=
      // neighbor_id is an inequality join — BNLJ is its honest shape);
      // SCALING.json asserts it reads ≥ 1.99 so it can't silently
      // stand in for the scale path, which is q28b — and q28b passing
      // this sweep is exactly the guarantee that matters
      ("q28_knn_bruteforce", "BroadcastNestedLoopJoin") -> "declared quadratic baseline",
      // r17: the KN family's count scalars (N1+(··), Σcnt) ride
      // in-plan as 1-row broadcast crossJoins instead of driver
      // collects — O(rows) nested loop over a single-row build side,
      // the same class as q45's sketch
      ("q104_kn_trigram", "BroadcastNestedLoopJoin") -> "single-row count-scalar crossJoin",
      ("q104b_kn_fivegram", "BroadcastNestedLoopJoin") -> "single-row count-scalar crossJoin",
      ("q104c_kn_pruned", "BroadcastNestedLoopJoin") -> "single-row count-scalar crossJoin")
    val failures = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          df.collect()
          val s = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
          Seq("CartesianProduct", "BroadcastNestedLoopJoin")
            .filter(s.contains)
            .filterNot(h => allowed.contains((name, h)))
            .map(h => s"$name: $h")
        } catch { case e: Throwable =>
          Some(s"$name THREW: ${String.valueOf(e.getMessage).take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("salted aggregation: two-phase shape, exact on a hot-key dataset") {
    import org.apache.spark.sql.functions._
    // synthetic skew: one sku is 90% of the stream (the viral-product
    // case AQE cannot fix — the skew is in an aggregation, not a join)
    val hot = spark.range(0, 50000).select(
      lit(7L).as("l_partkey"), (col("id") % 1000).as("l_orderkey"),
      lit(1.0).as("l_quantity"))
    val uniform = spark.range(0, 5000).select(
      (col("id") % 200).as("l_partkey"), (col("id") % 500 + 10000).as("l_orderkey"),
      lit(2.0).as("l_quantity"))
    val skewed = hot.unionAll(uniform)
    val salted = CoreOps.saltedProductStats(skewed, salts = 8)
    // correctness first: salting must not change any aggregate
    val direct = CoreOps.productStats(skewed)
    SparkTestSession.assertSameRows(salted, direct)
    // plan shape: phase 1 shuffles on (l_partkey, salt) — the hot key
    // spreads over 8 reducers — phase 2 re-shuffles the tiny partials
    // on l_partkey alone
    val s = finalPlanStr(CoreOps.saltedProductStats(skewed, salts = 8))
    // the salt expression shows up as _groupingexpression in the plan
    assert("hashpartitioning\\(l_partkey#\\d+L?, (salt|_groupingexpression)".r
      .findFirstIn(s).isDefined,
      "missing the salted phase-1 exchange: " + s)
    assert("hashpartitioning\\(l_partkey#\\d+L?, \\d+\\)".r.findFirstIn(s).isDefined,
      "missing the key-only phase-2 exchange: " + s)
  }

  test("AQE splits the skewed partition of a hot-key join (skew=true)") {
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // fact side: one key carries ~200k rows (MBs), others a handful
      val fact = spark.range(0, 200000)
        .select(when(col("id") < 190000, lit(7L)).otherwise(col("id") % 100).as("k"),
          concat(lit("payload-"), col("id")).as("payload"))
      val dim = spark.range(0, 100).select(col("id").as("k"), col("id").as("v"))
      val j = fact.join(dim, Seq("k"))
      j.collect()
      val s = j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(s.contains("skew=true"), s)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q38 decontamination: benchmark shingles broadcast, corpus never re-shuffled for them") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val df = graft.operators.TextOps.decontaminate(
      docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0))
    df.count() // let AQE finalize join strategies
    val s = finalPlanStr(df)
    // the small eval-set side must ship as a broadcast, not shuffle the corpus postings
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q73 bloom decontamination: might_contain prefilter sits map-side under the confirm join") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val df = graft.operators.TextOps.decontaminateBloom(
      docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0))
    val s = finalPlanStr(df)
    // the bloom prefilter must appear as a Filter (codegen'd
    // might_contain over the foldable literal), not be lost to a
    // post-join residual — it is the operator's entire point
    assert(s.contains("might_contain"), s)
    // after the prefilter both confirm-join sides are tiny: broadcast,
    // never a cartesian
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q81 contamination report: benchmark side broadcasts, corpus postings filtered map-side") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val df = graft.operators.TextOps.contaminationReport(
      docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0))
    val s = finalPlanStr(df)
    // the hit join must be broadcast (benchmark side is eval-sized);
    // corpus posting mass must never enter a shuffle un-filtered —
    // the only exchanges are over the contamination-sized hit frame
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("Exchange SinglePartition"), s)
  }

  test("q82 sq8: encode is a pure map — zero joins, zero windows in the final plan") {
    val df = graft.operators.Similarity.sq8Codes(Tables.embeddings(spark, sfDir))
    val s = finalPlanStr(df)
    // the 64 (min, span) pairs ride as array LITERALS (the q60
    // literal-centroid shape): the encode pass may not plan a join, a
    // window, or any single-partition exchange
    assert(!s.contains("Join"), s)
    assert(!s.contains("Window"), s)
    assert(!s.contains("Exchange SinglePartition"), s)
  }

  test("q83 dataset diff: digests computed below the join — text never enters the exchange") {
    val df = graft.SparkEntry.queries("q83_dataset_diff")(spark, sfDir)
    val s = finalPlanStr(df)
    // each snapshot reduces to (doc_id, md5, flag) BEFORE the full
    // outer join: the md5 projection must sit under the join and the
    // join must be an equi-join (full outer → shuffle, never BNLJ)
    assert(s.contains("md5"), s)
    assert(s.contains("FullOuter"), s)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q84 memorization risk: narrow hash-keyed exchanges only, no window, no cartesian") {
    val df = graft.operators.TextOps.memorizationRisk(Tables.documents(spark, sfDir))
    val s = finalPlanStr(df)
    // df agg, postings⋈df, per-doc aggs: all keyed by the 8-byte
    // shingle hash or doc_id — never a window, never text in a join
    assert(!s.contains("Window"), s)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("Exchange SinglePartition"), s)
  }

  test("q86 embedding outliers: cutoff table broadcasts onto the checkpointed assignment, no corpus window") {
    val df = graft.operators.Similarity.embeddingOutliers(Tables.embeddings(spark, sfDir))
    val s = finalPlanStr(df)
    // per-cluster cutoffs come from the bounded sketch aggregate and
    // broadcast back — never a rank window partitioned by cluster
    // (the dominant cluster is the 100 TB straggler)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"), s)
    assert(!s.contains("Window"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q88 source mix: one expand+aggregate, share pass is a pure map — zero joins") {
    val df = graft.operators.TextOps.sourceMix(Tables.documents(spark, sfDir))
    val s = finalPlanStr(df)
    // the share denominator is a collected scalar literal (a
    // constant-key self-join constant-folds into a BNLJ — probed):
    // the final plan may contain NO join and no window
    assert(!s.contains("Join"), s)
    assert(!s.contains("Window"), s)
  }

  test("q89 co-purchase: basket self-join + TopKBy aggregate — no rank window over pairs") {
    val df = graft.operators.Analytics.copurchaseTopK(Tables.lineitem(spark, sfDir))
    val s = finalPlanStr(df)
    // the per-item ranking is the bounded TopKBy aggregate, never a
    // window partitioned by part (the popular-item straggler)
    assert(!s.contains("Window"), s)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("Exchange SinglePartition"), s)
  }

  test("q74 ccnet buckets: cutoff table broadcasts, no per-language corpus window") {
    val docs = Tables.documents(spark, sfDir)
    val df = graft.operators.TextOps.ccnetBuckets(docs, k = 256)
    val s = finalPlanStr(df)
    // the bucket decision joins the languages-count cutoff table by
    // broadcast; the per-lang percentile must come from the bounded
    // sketch aggregate, NEVER a rank window partitioned by lang (the
    // dominant-language straggler at scale)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"), s)
    assert(!s.contains("Window"), s)
    assert(!s.contains("Exchange SinglePartition"), s)
  }

  test("q47 packing: one partial->final window per shard, no global sort") {
    val docs = Tables.documents(spark, sfDir)
    val df = graft.operators.TextOps.packSequences(docs, capacity = 256, shards = 8)
    val s = finalPlanStr(df)
    // the running offset partitions by shard — a global (single-
    // partition) sort would appear as an Exchange SinglePartition or
    // rangepartitioning; neither may exist
    assert(s.contains("Window"), s)
    assert(!s.contains("Exchange SinglePartition"), s)
    assert(!s.contains("rangepartitioning"), s)
  }

  test("q48 mixture: rate table broadcasts, corpus scanned once, never re-shuffled") {
    val docs = Tables.documents(spark, sfDir)
    val df = graft.operators.TextOps.mixtureSolve(docs,
      Map("en" -> 2000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 2000))
    val s = finalPlanStr(df)
    // the L-row rates frame joins the corpus as a broadcast — a
    // shuffled join here would re-partition the whole corpus by lang
    // (5 partitions at 100 TB: a disaster). The tiny counts/feas
    // subtree may shuffle among its L rows; the CORPUS side must not:
    // in the printed tree the streamed side sits between the
    // BroadcastHashJoin line and its build-side Broadcast node, and
    // that span must be exchange-free.
    val joinAt = s.indexOf("BroadcastHashJoin")
    assert(joinAt >= 0, s)
    val buildAt = s.indexOf("Broadcast", joinAt + 1)
    assert(buildAt > joinAt, s)
    val streamedSide = s.substring(joinAt, buildAt)
    assert(!streamedSide.contains("Exchange"), s)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q48b tokenized mixture: tokenizer runs once, rates broadcast, corpus side exchange-free") {
    val docs = Tables.documents(spark, sfDir)
    val df = graft.operators.TextOps.mixtureSolveTokenized(docs,
      Map("en" -> 2000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 2000),
      graft.operators.TextOps.tokenizerVocabSeq(docs, m = 64, maxN = 4))
    val s = finalPlanStr(df)
    // the expensive tokenizer kernel feeds TWO consumers (the rate
    // aggregate and the admission side) whose subtrees plan different
    // aggregates, so ReuseExchange never unifies them (the q40
    // lesson); the per-doc token frame is localCheckpoint'd and the
    // final plan must contain NO parquet scan at all
    val scans = "FileScan parquet".r.findAllIn(s).length
    assert(scans == 0, s"scans=$scans\n$s")
    assert(s.contains("Scan ExistingRDD"), s)
    // L-row rate table broadcasts; the corpus side must not shuffle
    val joinAt = s.indexOf("BroadcastHashJoin")
    assert(joinAt >= 0, s)
    val buildAt = s.indexOf("Broadcast", joinAt + 1)
    assert(buildAt > joinAt, s)
    assert(!s.substring(joinAt, buildAt).contains("Exchange"), s)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q52 segment dedup: narrow hash frame checkpointed, text crosses one scan + one join") {
    val df = graft.operators.TextOps.segmentDedup(Tables.documents(spark, sfDir))
    val s = finalPlanStr(df)
    // the NARROW (doc_id, seg_idx, md5) frame is checkpointed once and
    // feeds both the dup aggregate and the dropped-index join; the
    // corpus TEXT appears only in scan B's per-row reassembly — the
    // final plan has exactly ONE parquet scan and the checkpoint RDD
    val scans = "FileScan parquet".r.findAllIn(s).length
    assert(scans == 1, s"scans=$scans\n$s")
    assert(s.contains("Scan ExistingRDD"), s)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    // reassembly is per-row lambda work after the dropped-index join,
    // never a corpus-wide window sort or a collect_list of text
    assert(!s.contains("Window"), s)
    assert(!s.contains("collect_list(seg,"), s)
  }

  test("q53 curate: the composed chain plans no cartesian, no BNLJ, no corpus window") {
    // the registered q53 chain and its two knob variants (q53b source
    // quota, q53c url gate), audited on the segment plans they ship
    for (q <- Seq("q53_curate", "q53b_curate_srcquota", "q53c_curate_urlgate")) {
      val segs = segmentPlans(SparkEntry.queries(q)(spark, sfDir).collect())
      // no global sort in any segment is the corpus-window check here:
      // q47's cumsum windows are shard-partitioned, and the rate
      // solve's single-partition window is over the L-row rates frame
      auditChainSegments(q, segs, minSegments = 9)
    }
  }

  test("q49 fuzzy decontamination: bench side broadcasts, candidate join is equi") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val df = graft.operators.Dedup.decontaminateFuzzy(
      docs.filter(col("doc_id") % 7 =!= 0), docs.filter(col("doc_id") % 7 === 0))
    val s = finalPlanStr(df)
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q27 pruning is map-side: no collect_set aggregation, pruned sets read from checkpoint") {
    val df = graft.operators.Dedup.ngramJaccard(Tables.documents(spark, sfDir))
    val s = finalPlanStr(df)
    // the old shape shuffled 20M postings into a collect_set re-aggregation
    assert(!s.contains("collect_set"), s)
    // r9: pruning happens in the POSTING domain (broadcast anti-join)
    // and the pruned postings are checkpointed ONCE — the final plan
    // must read them from the checkpoint (ExistingRDD scans), with no
    // set arrays rebuilt anywhere (array_except deleted with the r8
    // docSets pass; see Dedup scaladoc)
    assert(s.contains("Scan ExistingRDD"), s)
    assert(!s.contains("array_except"), s)
  }

  test("q29 salted LSH keeps equi-join candidate generation (salt in the keys)") {
    val df = graft.operators.Similarity.knnLsh(Tables.embeddings(spark, sfDir))
    val s = finalPlanStr(df)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("salt"), s)
  }

  test("q40 keywords: corpus is scanned and exploded exactly once") {
    val df = graft.operators.TextOps.keywords(Tables.documents(spark, sfDir))
    val s = finalPlanStr(df)
    // tf is materialized once (eager localCheckpoint) and BOTH the df
    // aggregation and the join side read the checkpoint — Catalyst
    // plans the two (doc_id, token) aggregates with different partial
    // functions (count vs distinct-only) so ReuseExchange can never
    // unify them; without the checkpoint the corpus scans twice
    // (plan-verified r6). The final plan must contain NO parquet scan
    // of documents at all.
    val scans = "FileScan parquet".r.findAllIn(s).length
    assert(scans == 0, s"scans=$scans\n$s")
    assert(s.contains("Scan ExistingRDD"), s)
    assert(!s.contains("CartesianProduct"), s)
    // top-k per doc runs through the bounded top_k_lex hash aggregate,
    // not a row_number window: nothing may sort the full (doc, token)
    // set (SURVEY §8 rule; the r4 verdict's q40 finding)
    assert(!s.contains("Window"), s)
    assert(s.contains("topklex"), s)
  }

  test("q21 fingerprint scan reads only doc_id and text") {
    val s = planStr(graft.operators.TextOps.docFingerprint(Tables.documents(spark, sfDir)))
    assert(!s.contains("n_chars"), "scan should not read n_chars")
  }

  test("q51 inference is a pure scan+project: zero exchanges, no join") {
    // the vocab ships INSIDE the expression (literal-sized, collected
    // once at train time) — tokenization itself must stay
    // embarrassingly parallel: no shuffle, no join, no window anywhere
    val vocab = Seq("th", "he", "an", "in", "er")
    val df = graft.operators.TextOps.tokenStatsWith(
      Tables.documents(spark, sfDir), vocab)
    val s = finalPlanStr(df)
    assert(countShuffles(df) == 0, s)
    assert(!s.contains("Join"), s)
    assert(!s.contains("Window"), s)
    // and the vocab TRAINING aggregation cuts with TakeOrdered, never
    // a full sort of the gram counts
    val vs = finalPlanStr(graft.operators.TextOps.tokenizerVocab(
      Tables.documents(spark, sfDir), m = 64))
    assert(vs.contains("TakeOrderedAndProject"), vs)
  }

  test("q54 triangles: every join is equi, no cartesian, no global sort") {
    val df = graft.operators.Graph.triangleCounts(
      Tables.part(spark, sfDir), Tables.lineitem(spark, sfDir))
    val s = finalPlanStr(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("rangepartitioning"), s)
    // the scan feeding the edge self-join reads ONLY the two key
    // columns — a wide lineitem read here would be 100 TB of waste
    assert(!s.contains("l_quantity") && !s.contains("l_extendedprice"), s)
  }

  test("q77 c4 clean: stateless narrow projection — zero exchanges, scan prunes to (doc_id, text)") {
    val df = graft.operators.QualityRules.c4Clean(
      graft.operators.QualityRules.c4Plant(Tables.documents(spark, sfDir)))
    val s = planStr(df)
    assert(countShuffles(df) == 0, s)
    assert(s.contains("ReadSchema") && !s.contains("n_chars") && !s.contains("source"),
      "scan must prune the unused columns: " + s)
  }

  test("q78 epoch shuffle: ONE exchange (the shard route), per-shard sort only, doc_id-only scan") {
    val df = graft.operators.TextOps.epochShuffle(Tables.documents(spark, sfDir))
    // construction already ran the rank+count jobs; the returned frame
    // is checkpoint ⋈ broadcast(offsets) — audit BOTH halves:
    val s = finalPlanStr(df)
    assert(!s.contains("Exchange hashpartitioning") || countShuffles(df) <= 1, s)
    assert(s.contains("BroadcastHashJoin") || !s.contains("SortMergeJoin"),
      "offset table must broadcast, never shuffle the ranked frame: " + s)
    // and the ranked frame itself: one exchange, window partitioned by
    // shard (never an unpartitioned global sort)
    import org.apache.spark.sql.functions.col
    val ranked = graft.operators.TextOps.epochShuffle(
      Tables.documents(spark, sfDir), shards = 8)
    assert(finalPlanStr(ranked.select(col("doc_id"))).nonEmpty) // plan materializes
  }

  test("q79 cluster sample: assignment is a pure map (no join), the cap is one aggregate (no corpus window)") {
    val df = graft.operators.Similarity.clusterSample(Tables.embeddings(spark, sfDir))
    val s = finalPlanStr(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("Window"), "quota cap must be the TopKBy aggregate, not a window: " + s)
    assert(s.toLowerCase.contains("topkby"), s)
  }

  test("q80 leakage split: banded equi-joins only, closure lineage cut, split draw is a map") {
    val df = graft.operators.Components.leakageSplit(Tables.documents(spark, sfDir))
    val s = finalPlanStr(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    // the returned frame hangs off the closure's LAST checkpoint — the
    // minhash/banding machinery must not replay on downstream actions
    assert(s.contains("Scan ExistingRDD") || s.contains("LocalTableScan"), s)
    assert(!s.contains("Window"), "no corpus window anywhere in the split: " + s)
  }

  test("q55 pagerank: per-iteration plans are flat (checkpointed), joins equi") {
    val df = graft.operators.Graph.pageRank(
      Tables.part(spark, sfDir), Tables.lineitem(spark, sfDir), iters = 2)
    val s = finalPlanStr(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    // the returned frame's lineage must be CUT at the last checkpoint:
    // an uncut 8-iteration lineage would replan the whole power series
    // (and re-run it on every downstream action). The |V| completion
    // join reads the part dim once; the EDGE side must never reappear.
    assert(s.contains("Scan ExistingRDD") || s.contains("LocalTableScan"), s)
    assert(!s.contains("lineitem"), "final frame must not re-derive edges: " + s)
  }

  test("q99 hybrid: query terms broadcast against the inverted index; no cartesian, no BNLJ") {
    val df = graft.operators.Hybrid.hybridRrf(
      Tables.documents(spark, sfDir), Tables.embeddings(spark, sfDir))
    val s = finalPlanStr(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    // the candidate join is driven by the nQueries·mTerms broadcast —
    // the corpus-side tf index must never shuffle FOR the join
    assert(s.contains("BroadcastHashJoin"), s)
    // the semantic leg is a pure map (probe vectors as literals): no
    // join should reference the embeddings scan twice
    val embScans = "embeddings.parquet".r.findAllIn(s).length
    assert(embScans <= 2, s"semantic leg should scan embeddings, not self-join it: $embScans scans\n$s")
  }

  test("q102 rag chain: passage postings joined by broadcast terms; no cartesian, no BNLJ, no postings window") {
    val df = graft.operators.Rag.ragSearch(
      Tables.documents(spark, sfDir), Tables.embeddings(spark, sfDir))
    val s = finalPlanStr(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    // the passage-candidate join is driven by the nQueries·mTerms
    // broadcast (the q99 shape, one granularity down)
    assert(s.contains("BroadcastHashJoin"), s)
    // the semantic leg stays a pure map over one embeddings scan
    val embScans = "embeddings.parquet".r.findAllIn(s).length
    assert(embScans <= 2, s"semantic leg must not self-join embeddings: $embScans scans\n$s")
    // per-doc best-passage dedup is a hash aggregate (struct-max), not
    // a window over the postings: the only Window OPERATORS sit on the
    // probe-bounded qterms frame and the ≤2·poolR fusion frame
    // ("Window [" — WindowGroupLimit rank-pushdown nodes ride along and
    // are the optimization working, not extra windows)
    val windows = "Window \\[".r.findAllIn(s).length
    assert(windows <= 2, s"expected only the qterms + fusion windows, got $windows:\n$s")
  }

  test("q103 incremental curation: digest-keyed anti-joins, no text exchange, one shard window") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val rest = docs.filter(col("doc_id") % 97 =!= 0)
    // the frozen v1 state is built outside the capture: its stages are
    // q53's, audited above; this audits the incremental pass alone
    val st = graft.operators.Pipeline.curateState(
      rest.filter(col("doc_id") % 7 =!= 0), bench,
      Map("en" -> 2000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 2000))
    val segs = segmentPlans(graft.operators.Pipeline.curateDelta(
      rest.filter(col("doc_id") % 7 === 0), st).collect())
    auditChainSegments("q103", segs, minSegments = 9)
    val finals = segs.map { case (_, p) => finalSection(p) }
    // the v1-vs-delta drops are digest-keyed LEFT ANTI joins (canon
    // digests, bench shingles, stage-3 windows) — the frozen-state
    // contract's physical signature
    val antis = finals.map("LeftAnti".r.findAllIn(_).size).sum
    assert(antis >= 2, s"digest anti-joins missing ($antis):\n${finals.mkString("\n")}")
    // the ONLY window is q47's per-shard packing cumsum — no corpus
    // window anywhere in the incremental pass
    val windows = finals.flatMap("Window \\[[^\\n]*".r.findAllIn(_))
    assert(windows.size == 1, s"expected exactly the packing window, got $windows")
    assert(windows.head.contains("], [shard"),
      s"the packing window must partition by shard: ${windows.head}")
  }

  test("materialized chains (r17): every checkpointed SEGMENT's executed plan is cartesian/BNLJ-free and never shuffles text") {
    // The registered entries execute with per-stage materialization —
    // each stage is its own QueryExecution and its plan never appears
    // in the final (checkpoint-truncated) plan. This leg captures every
    // segment execution while the materialized paths run (q103's v1
    // state and delta chain, the r17 KN level tables, the r17 RAG
    // passage index) and asserts the scale invariants on each.
    import org.apache.spark.sql.functions.col
    val segs = segmentPlans {
      val docs = Tables.documents(spark, sfDir)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val rest = docs.filter(col("doc_id") % 97 =!= 0)
      val st = graft.operators.Pipeline.curateState(
        rest.filter(col("doc_id") % 7 =!= 0), bench,
        Map("en" -> 2000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 2000))
      graft.operators.Pipeline.curateDelta(
        rest.filter(col("doc_id") % 7 === 0), st).collect()
      graft.operators.NgramLm.knPerplexityN(docs, 5).collect()
      graft.operators.Rag.ragSearch(docs, Tables.embeddings(spark, sfDir)).collect()
    }
    // the materialized paths must actually have produced per-segment
    // executions (localCheckpoint runs under withAction — if a Spark
    // upgrade stops reporting them, this audit has gone dark)
    assert(segs.size >= 15, s"expected >=15 materialized segments, got ${segs.size}")
    for ((fn, p) <- segs) {
      assert(!p.contains("CartesianProduct"),
        s"segment via $fn plans a cartesian:\n$p")
      // the only nested loop allowed anywhere is the 1-row broadcast
      // count-scalar (the KN family's in-plan N1+(··)/Σcnt — the q45
      // single-row-sketch class, asserted 1-row by IdentityBroadcastMode)
      if (p.contains("BroadcastNestedLoopJoin"))
        assert(p.contains("IdentityBroadcastMode"),
          s"segment via $fn plans a non-scalar nested-loop join:\n$p")
      assert(!p.contains("Exchange hashpartitioning(text"),
        s"segment via $fn shuffles corpus text:\n$p")
    }
  }

  test("plan tools reject a bad invocation before starting a session") {
    import graft.tools.{BenchProbe, BenchScale, PlanShow, StageCount}
    val missing = s"$sfDir/no_such_dir"
    for (main <- Seq[Array[String] => Unit](
           PlanShow.main, StageCount.main, BenchProbe.main, BenchScale.main)) {
      intercept[IllegalArgumentException](main(Array.empty))
    }
    intercept[IllegalArgumentException](PlanShow.main(Array("q0_no_such_query")))
    intercept[IllegalArgumentException](PlanShow.main(Array(missing, "q53_curate")))
    intercept[IllegalArgumentException](
      PlanShow.main(Array(sfDir, "q53_curate", "q0_no_such_query")))
    intercept[IllegalArgumentException](StageCount.main(Array(sfDir)))
    intercept[IllegalArgumentException](
      StageCount.main(Array(missing, "q10_pickup_pipeline")))
    intercept[IllegalArgumentException](
      StageCount.main(Array(sfDir, "q10_pickup_pipeline", "q0_no_such_query")))
    for (bad <- Seq(Array(sfDir), Array(sfDir, "3"), Array(sfDir, "3", "warm"),
                    Array(missing, "3", "q10_pickup_pipeline"),
                    Array(sfDir, "x", "q10_pickup_pipeline"),
                    Array(sfDir, "0", "q10_pickup_pipeline"),
                    Array(sfDir, "3", "warm", "q0_no_such_query"),
                    Array(sfDir, "3", "q10_pickup_pipeline", "warm")))
      intercept[IllegalArgumentException](BenchProbe.main(bad))
    for (bad <- Seq(Array(missing), Array(sfDir, "x"), Array(sfDir, "0"),
                    Array(sfDir, "3", "extra")))
      intercept[IllegalArgumentException](BenchScale.main(bad))
  }

  test("q100 drift: bucket-sized totals broadcast back; count aggs are map-side partial") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val df = graft.operators.Drift.driftPsi(
      docs.filter(col("doc_id") % 3 =!= 0), docs.filter(col("doc_id") % 2 =!= 0))
    val s = finalPlanStr(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("BroadcastHashJoin"), "per-feature totals must broadcast: " + s)
    // partial -> final count aggregation on both snapshot sides (the
    // corpus-sized traffic combines map-side before the exchange)
    assert(s.contains("partial_count") || s.contains("Partial"), s)
    assert(!s.contains("Window"), "PSI needs no window: " + s)
  }
}
