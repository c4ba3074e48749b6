package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.util.Random

/** Graph operators (q54 triangles, q55 integer PageRank). The
  * value-level gate is the DuckDB oracle (triangle joins; the unrolled
  * integer iteration); these pin the algorithms against sequential
  * replays on adversarial shapes the sf corpora don't exercise.
  */
class GraphSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.operators.Graph

  /** (part, lineitem) frames from an explicit edge list: one synthetic
    * single-item order per edge endpoint pair — so coPurchaseEdges
    * reconstructs exactly `edges`.
    */
  private def tables(vertices: Seq[Long], edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    val part = vertices.toDF("p_partkey")
    val li = edges.zipWithIndex.flatMap { case ((u, v), i) =>
      Seq((i.toLong, u), (i.toLong, v))
    }.toDF("l_orderkey", "l_partkey")
    (part, li)
  }

  private def sparkTri(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val (part, li) = tables(vertices, edges)
    Graph.triangleCounts(part, li).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Sequential per-vertex triangle count by brute-force triple scan. */
  private def bruteTri(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val counts = collection.mutable.Map(vertices.map(_ -> 0L): _*)
    val vs = vertices.sorted
    for {
      i <- vs.indices; j <- i + 1 until vs.size
      if es((vs(i), vs(j)))
      k <- j + 1 until vs.size
      if es((vs(j), vs(k))) && es((vs(i), vs(k)))
    } {
      counts(vs(i)) += 1; counts(vs(j)) += 1; counts(vs(k)) += 1
    }
    counts.toMap
  }

  test("triangles: clique K4, chain, star, isolated vertex") {
    // K4 on 1-4 (4 triangles, 3 per vertex), chain 10-11-12 (none),
    // star 20-{21,22,23} (none), isolated 99
    val vs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 22L, 23L, 99L)
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (11L, 12L), (20L, 21L), (20L, 22L), (20L, 23L))
    val got = sparkTri(vs, es)
    assert(got == bruteTri(vs, es))
    assert(got(1L) == 3L && got(10L) == 0L && got(99L) == 0L)
  }

  test("triangles: random graphs match the sequential brute force") {
    val rnd = new Random(13)
    for (trial <- 1 to 5) {
      val n = 20 + rnd.nextInt(30)
      val vs = (0 until n).map(_.toLong)
      val es = Seq.fill(3 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      assert(sparkTri(vs, es) == bruteTri(vs, es), s"trial $trial")
    }
  }

  test("triangles: a hub vertex does not explode the wedge side") {
    // star with 60 leaves plus one closing edge: exactly 1 triangle.
    // With degree orientation the hub is every edge's DESTINATION, so
    // the wedge self-join sees out-degree ≤ 2 per vertex — this is the
    // compact-forward property the operator's scale claim rests on.
    val vs = (0L to 60L)
    val es = (1L to 60L).map(l => (0L, l)) :+ (1L, 2L)
    val got = sparkTri(vs, es)
    assert(got(0L) == 1L && got(1L) == 1L && got(2L) == 1L)
    assert((3L to 60L).forall(got(_) == 0L))
  }

  /** Sequential replay of the exact integer PageRank recurrence. */
  private def seqPageRank(vertices: Seq[Long], edges: Seq[(Long, Long)],
                          iters: Int): Map[Long, Long] = {
    val n = vertices.size.toLong
    val base = (15L * Graph.PrScale) / (100L * n)
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    val deg = adj.view.mapValues(_.size.toLong).toMap
    var r = vertices.map(_ -> Graph.PrScale / n).toMap
    for (_ <- 1 to iters) {
      val sums = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (u <- vertices; c = r(u) / deg.getOrElse(u, Long.MaxValue); v <- adj.getOrElse(u, Nil))
        sums(v) += c
      r = vertices.map(v => v -> (base + (85L * sums(v)) / 100L)).toMap
    }
    r
  }

  private def sparkPageRank(vertices: Seq[Long], edges: Seq[(Long, Long)],
                            iters: Int): Map[Long, Long] = {
    val (part, li) = tables(vertices, edges)
    Graph.pageRank(part, li, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pagerank: distributed iteration replays the sequential recurrence exactly") {
    val rnd = new Random(29)
    for (trial <- 1 to 3) {
      val n = 15 + rnd.nextInt(20)
      val vs = (0 until n).map(_.toLong)
      val es = Seq.fill(2 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      assert(sparkPageRank(vs, es, 4) == seqPageRank(vs, es, 4), s"trial $trial")
    }
  }

  test("pagerank: mass is conserved up to floor loss and the dangling leak") {
    // star: the hub holds most of the rank; total ≤ SCALE (floor
    // division and dangling vertices only ever LOSE mass)
    val vs = (0L to 10L)
    val es = (1L to 8L).map(l => (0L, l)) // 9 connected, 2 dangling
    val got = sparkPageRank(vs, es, 8)
    assert(got.values.sum <= Graph.PrScale)
    assert(got(0L) > got(1L), "hub must outrank a leaf")
    assert(got(9L) == got(10L), "dangling vertices tie at the teleport floor")
    assert(got(1L) > got(9L), "a connected leaf outranks a dangling vertex")
  }

  test("pagerank: empty part table yields an empty frame, no division by zero") {
    val got = sparkPageRank(Seq.empty, Seq.empty, 8)
    assert(got.isEmpty)
  }

  test("pagerank: edgeless graph is all-teleport from round one") {
    val vs = (0L to 4L)
    val got = sparkPageRank(vs, Seq.empty, 3)
    val base = (15L * Graph.PrScale) / (100L * 5L)
    assert(got.values.toSet == Set(base))
  }

  /** Sequential replay of synchronous min-tie label propagation. */
  private def seqLpa(vertices: Seq[Long], edges: Seq[(Long, Long)],
                     iters: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    var lbl = vertices.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      lbl = vertices.map { v =>
        val votes = adj.getOrElse(v, Nil).map(lbl).groupBy(identity)
          .view.mapValues(_.size).toSeq
        if (votes.isEmpty) v -> lbl(v)
        // most frequent, tie → smallest label
        else v -> votes.maxBy { case (l, c) => (c, -l) }._1
      }.toMap
    }
    lbl
  }

  private def sparkLpa(vertices: Seq[Long], edges: Seq[(Long, Long)],
                       iters: Int): Map[Long, Long] = {
    val (part, li) = tables(vertices, edges)
    Graph.labelPropagation(part, li, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("communities: two cliques with a bridge resolve to two communities") {
    // K4 on 0-3, K4 on 10-13, one bridge 3-10; labels flood to each
    // clique's minimum; isolated 99 stays its own singleton
    val vs = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 13L, 99L)
    val es = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L),
      (3L, 10L))
    val got = sparkLpa(vs, es, 5)
    assert(got == seqLpa(vs, es, 5))
    assert(Seq(0L, 1L, 2L, 3L).map(got).distinct == Seq(0L))
    assert(Seq(11L, 12L, 13L).map(got).distinct.forall(_ != got(0L)))
    assert(got(99L) == 99L)
  }

  test("communities: random graphs replay the sequential recurrence exactly") {
    val rnd = new Random(41)
    for (trial <- 1 to 3) {
      val n = 15 + rnd.nextInt(20)
      val vs = (0 until n).map(_.toLong)
      val es = Seq.fill(2 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      assert(sparkLpa(vs, es, 4) == seqLpa(vs, es, 4), s"trial $trial")
    }
  }

  test("iteration plans are exchange-free off the pre-partitioned edge checkpoint") {
    // the r9 trick: ed is repartitioned by the round's aggregation key
    // BEFORE its checkpoint, and the checkpoint preserves partitioning,
    // so every iteration's groupBys are satisfied without a shuffle —
    // `iters`−1 full-network edge passes saved at cluster scale. This
    // pins the elision for BOTH graph iterators.
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    val es = (0L to 40L).flatMap(v => Seq((v, (v + 1) % 41), (v, (v + 3) % 41)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val edLpa = Graph.checkpointPartitioned(spark)(
      es.flatMap { case (u, v) => Seq((u, v), (v, u)) }
        .toDF("src", "dst").repartition(col("src")))
    val labels = (0L to 40L).map(v => (v, v)).toDF("id", "lbl").localCheckpoint(true)
    val round = Graph.lpaStep(edLpa, labels, bc = true)
    round.collect()
    val s = round.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!s.contains("Exchange hashpartitioning"), s)

    val edPr = Graph.checkpointPartitioned(spark)(
      es.flatMap { case (u, v) => Seq((u, v, 4L), (v, u, 4L)) }
        .toDF("src", "dst", "deg").repartition(col("dst")))
    val ranks = (0L to 40L).map(v => (v, 1000L)).toDF("id", "r").localCheckpoint(true)
    val step = Graph.prStep(edPr, Some(ranks), 1L, 1L, bc = true)
    step.collect()
    val s2 = step.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!s2.contains("Exchange hashpartitioning"), s2)
  }

  test("checkpointPartitioned isolates AQE on a session clone") {
    // r11: the AQE flip happens on a spark.newSession() clone, never
    // on the caller's session — a concurrent planner (e.g. a live
    // streaming micro-batch) can never observe it. Pins (a) the
    // caller conf is untouched even MID-build, and (b) the rebind
    // path makes pre-resolution harmless: a frame the caller already
    // collect()ed under AQE still re-plans fresh on the clone, so its
    // checkpoint captures the partitioning anyway.
    import spark.implicits._
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val pre = (0L to 20L).map(v => (v, v + 1)).toDF("src", "dst").repartition(col("src"))
    pre.collect() // resolve under AQE on the caller session, deliberately
    var midBuild = "unset"
    val ed = Graph.checkpointPartitioned(spark) {
      midBuild = spark.conf.get("spark.sql.adaptive.enabled")
      pre
    }
    assert(midBuild == "true", "caller-session AQE conf flipped during the build")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(ed.sparkSession eq spark, "checkpoint frame must come back on the caller's session")
    val agg = ed.groupBy(col("src")).count()
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  /** Total shuffle records WRITTEN while `body` runs — the end-to-end
    * exchange sentinel: a per-round shuffle sneaking back into an
    * iterative operator (an AQE behavior change un-capturing the
    * checkpoint partitioning, a wiring regression) grows this with the
    * iteration count; with the elision intact it is iteration-
    * INVARIANT. Broadcast traffic never counts (it is not a shuffle
    * write), so the assertion pins exactly the thing §8 cares about.
    */
  private def shuffleRecords(body: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) acc.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    acc.get()
  }

  test("ASSERTED: extra pagerank/LPA iterations shuffle ZERO additional records") {
    // the r9 verdict asked for the per-round exchange elision as an
    // assertion, not a log line: total shuffle-write records for
    // iters=2 and iters=6 must be IDENTICAL — all shuffles happen in
    // the one up-front edge repartition + sizing aggregates, none per
    // round. Warm each operator once first so one-time planning work
    // (none of which should shuffle per-round either, but cold codegen
    // caches have nothing to do with this invariant) settles.
    val rnd = new Random(97)
    val n = 60
    val vs = (0 until n).map(_.toLong)
    val es = Seq.fill(3 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val (part, li) = tables(vs, es)
    part.cache().count(); li.cache().count() // keep input scans shuffle-free and identical
    try {
      Graph.pageRank(part, li, iters = 2).collect() // warm
      val pr2 = shuffleRecords(Graph.pageRank(part, li, iters = 2).collect())
      val pr6 = shuffleRecords(Graph.pageRank(part, li, iters = 6).collect())
      assert(pr6 == pr2, s"pagerank shuffles grew with iterations: iters=2 wrote $pr2, iters=6 wrote $pr6")
      Graph.labelPropagation(part, li, iters = 2).collect() // warm
      val lpa2 = shuffleRecords(Graph.labelPropagation(part, li, iters = 2).collect())
      val lpa6 = shuffleRecords(Graph.labelPropagation(part, li, iters = 6).collect())
      assert(lpa6 == lpa2, s"LPA shuffles grew with iterations: iters=2 wrote $lpa2, iters=6 wrote $lpa6")
    } finally { part.unpersist(); li.unpersist() }
  }

  test("ASSERTED: hub skew keeps q54's shuffle traffic linear (star probe, 2x leaves < 2.5x records)") {
    // the SCALING.json star probe as a test-suite invariant: with
    // degree orientation the hub is every edge's DESTINATION, so
    // doubling the hub degree must roughly double — never square —
    // the rows any shuffle carries. A wedge-join formulation reads
    // Θ(deg²) here and fails this immediately.
    def star(leaves: Int): (Seq[Long], Seq[(Long, Long)]) = {
      val vs = (0L to leaves.toLong)
      val es = (1L to leaves.toLong).map(l => (0L, l)) :+ (1L, 2L)
      (vs, es)
    }
    def run(leaves: Int): Long = {
      val (vs, es) = star(leaves)
      val (part, li) = tables(vs, es)
      part.cache().count(); li.cache().count()
      try {
        Graph.triangleCounts(part, li).collect() // warm
        val rec = shuffleRecords {
          val got = Graph.triangleCounts(part, li).collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got(0L) == 1L && got(1L) == 1L && got(2L) == 1L) // the planted triangle
        }
        rec
      } finally { part.unpersist(); li.unpersist() }
    }
    val small = run(300)
    val big = run(600)
    assert(big.toDouble <= small.toDouble * 2.5 && big >= small,
      s"star shuffle records not linear: 300 leaves -> $small, 600 leaves -> $big")
  }

  test("communities: empty part table and edgeless graph degrade safely") {
    assert(sparkLpa(Seq.empty, Seq.empty, 3).isEmpty)
    val vs = (0L to 4L)
    assert(sparkLpa(vs, Seq.empty, 3) == vs.map(v => v -> v).toMap)
  }

  /** Every physical node in the INITIAL (pre-AQE-execution) plan —
    * audited unexecuted, because at spec scale AQE would legally
    * re-convert a small shuffle join back to broadcast at runtime and
    * hide exactly the default this test pins.
    */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    p +: kids.flatMap(planNodes)
  }

  /** True iff some BroadcastExchange in the plan ships a
    * checkpoint-backed frame (ExistingRDD scan beneath it) — the
    * adjacency/rank broadcasts the sizing decides about. Dim-table
    * (parquet/local) broadcasts don't count: the FK semi-join SHOULD
    * broadcast the part dim regardless of the graph-side decision.
    */
  private def broadcastsCheckpoint(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    planNodes(df.queryExecution.executedPlan).exists {
      case b: BroadcastExchangeExec =>
        planNodes(b).exists(_.isInstanceOf[RDDScanExec])
      case _ => false
    }
  }

  test("broadcast auto-sizing: an edge set over the threshold gets the partitioned plan unaided") {
    val rnd = new Random(31)
    val n = 30
    val vs = (0 until n).map(_.toLong)
    // canonicalized undirected pairs: coPurchaseEdges dedups (u, v) /
    // (v, u) into one edge, the sequential replay does not
    val es = Seq.fill(3 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val (part, li) = tables(vs, es)
    val conf = spark.conf
    // disable the PLANNER's size-based broadcast for the whole test:
    // at spec scale Catalyst sees tiny (propagated-through-checkpoint)
    // stats and would broadcast on its own, hiding exactly the thing
    // under test — whether the OPERATOR places the hint. Explicit
    // broadcast() hints override the threshold, so positive cases
    // still plan map-side. (At 100 TB stats are never tiny; the hint
    // is what makes the plan, per the operator scaladocs.)
    val prevThreshold = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the pageRank iteration join is materialized per step during
      // construction, so its broadcast is audited on the factored-out
      // lazy step frame; checkpointed inputs mimic the real iteration
      import spark.implicits._
      val edCk = es.flatMap { case (a, b) => Seq((a, b, 2L), (b, a, 2L)) }
        .toDF("src", "dst", "deg").localCheckpoint(true)
      val ranksCk = vs.map((_, 1000L)).toDF("id", "r").localCheckpoint(true)
      def stepPlan(bc: Boolean) =
        Graph.prStep(edCk, Some(ranksCk), 1L, 1L, bc)
      // defaults at this size: both ops ship the graph side map-side
      assert(broadcastsCheckpoint(Graph.triangleCounts(part, li)),
        "expected the dim-sized adjacency to broadcast under the default threshold")
      assert(Graph.autoBroadcastRanks(part, vs.size.toLong),
        "expected the sizing to choose the rank broadcast at dim size")
      assert(broadcastsCheckpoint(stepPlan(bc = true)))
      assert(!broadcastsCheckpoint(stepPlan(bc = false)),
        "shuffle step must not broadcast the rank vector")
      // the same graph is now OVER the (lowered) threshold — the ops
      // must pick shuffle plans on their own, no flag passed
      conf.set("graft.graph.maxBroadcastEdges", "1")
      conf.set("graft.graph.maxBroadcastRankRows", "1")
      val tri = Graph.triangleCounts(part, li)
      assert(!broadcastsCheckpoint(tri), "oversized adjacency still broadcast")
      // (this also covers the planner: with tiny propagated stats and
      // the default threshold it WOULD convert these joins itself —
      // the -1 above keeps the operator's own decision observable)
      assert(!Graph.autoBroadcastRanks(part, vs.size.toLong),
        "oversized rank vector still sized for broadcast")
      // and the partitioned plans compute the same answers end-to-end
      assert(tri.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        == bruteTri(vs, es))
      assert(Graph.pageRank(part, li, iters = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
        == seqPageRank(vs, es, 2))
      // LPA shares the rank-vector sizing: the demoted (shuffle) plan
      // must still replay the sequential recurrence exactly
      assert(Graph.labelPropagation(part, li, iters = 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
        == seqLpa(vs, es, 3))
      // explicit override beats the sizing
      assert(broadcastsCheckpoint(
        Graph.triangleCounts(part, li, broadcastEdges = Some(true))))
    } finally {
      conf.unset("graft.graph.maxBroadcastEdges")
      conf.unset("graft.graph.maxBroadcastRankRows")
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }
}
