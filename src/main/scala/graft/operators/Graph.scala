package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over the part co-purchase graph — vertices are
  * parts, an (undirected) edge connects two parts that appear in the
  * same order. The reference has no graph operators (its topology stops
  * at per-key aggregation, streams/src/main/java/dev/buesing/ksd/
  * streams/Streams.java:99-169); these are the standard next step a
  * retail/curation pipeline takes once pairs exist: triangle counting
  * (community density; Latapy, "Main-memory triangle computations for
  * very large (sparse (power-law)) graphs", compact-forward) and
  * PageRank (Brin & Page) for item centrality.
  *
  * Both are oracle-checked rows+schema+hash: triangle counts are pure
  * integer joins, and the PageRank here is formulated entirely in
  * 64-bit INTEGER arithmetic (scaled ranks, floor division) so the
  * iteration is bit-reproducible in any engine — no floating-point
  * accumulation order to diverge on.
  */
object Graph {

  /** Distinct co-purchase edges (u, v), u < v, both part keys, from
    * lineitem's (order, part) incidence. Per-order pair expansion is
    * bounded by order size (a self-join on l_orderkey — order sizes
    * are small and bounded by the order model, max 13 at sf0.1, so no
    * skew hazard), then one distinct shuffle on the pair key.
    */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val a = lineitem.select(col("l_orderkey").as("k"), col("l_partkey").as("u"))
    val b = lineitem.select(col("l_orderkey").as("k"), col("l_partkey").as("v"))
    a.join(b, Seq("k")).filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
  }

  /** Auto-sizing thresholds for the graph ops' map-side broadcasts —
    * the SURVEY §8 lesson ("fixed-width params drift toward all-pairs
    * as N grows") applied to plan shape: a fixed `broadcast = true`
    * is correct for a catalog-sized part graph and a driver OOM on a
    * web-scale one, so the default DECIDES from the measured size and
    * the fixed flag is demoted to an explicit override. Session-conf
    * knobs so a test (or an operator) can move the cutoff without
    * touching code. 4M edges ≈ 32 MB of adjacency longs before
    * overhead; 2M rank rows ≈ 32 MB of (id, r) pairs — both
    * comfortably inside executor broadcast budgets, an order of
    * magnitude above this graph at sf0.1.
    */
  private def maxBroadcastEdges(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.graph.maxBroadcastEdges", "4000000").toLong
  private def maxBroadcastRankRows(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.graph.maxBroadcastRankRows", "2000000").toLong

  /** q54: per-part triangle count over the co-purchase graph.
    * Output: (p_partkey, n_tri) for EVERY part (0 for parts in no
    * triangle) — |V| rows exactly.
    *
    * Enumeration is degree-oriented ADJACENCY INTERSECTION (the
    * compact-forward family): each undirected edge is oriented from
    * its lower to its higher endpoint in the (degree, id) total order,
    * per-vertex sorted out-neighbor lists are built once, and each
    * oriented edge (a→b) yields the triangles {(a,b,c) : c ∈
    * N⁺(a) ∩ N⁺(b)}. Every triangle is emitted exactly once, at its
    * (deg,id)-minimal edge. Orienting by DEGREE bounds out-degree by
    * O(√(2m)) (97 at sf0.1), which bounds both the adjacency-array row
    * width and the per-edge intersection cost.
    *
    * Why intersection and not the wedge self-join: the wedge stream is
    * the Σ outdeg² term — 41M rows against 1.2M edges at sf0.1 — and
    * hash-probing a closing-edge relation once per wedge measured
    * 7–9 s; intersecting two sorted arrays once per EDGE does the same
    * enumeration in 1.3 s, touching each adjacency list from cache and
    * materializing nothing but actual triangles.
    *
    * Scale: one |E| shuffle for degrees, one for the adjacency
    * build (collect_list is safe under the orientation bound — no hub
    * can exceed O(√m) out-neighbors), then the per-edge intersection
    * runs map-side against the broadcast adjacency (Σ out-deg longs
    * ≈ |E| — dimension-sized for a co-purchase graph, whose edge count
    * grows with the catalog, not the fact table). Whether to broadcast
    * is SIZED, not assumed: the oriented edge list is checkpointed
    * anyway, so its exact count is one nearly-free job, and the
    * broadcast engages only when |E| ≤ `graft.graph.maxBroadcastEdges`
    * (default 4M ≈ tens of MB of adjacency payload). A web-scale edge
    * set therefore gets the partitioned plan UNAIDED — the same two
    * equi-joins on vertex keys, no driver-side OOM — and
    * `broadcastEdges = Some(x)` remains the manual override both ways.
    * No driver-side state, no quadratic term in |V| either way.
    */
  def triangleCounts(part: DataFrame, lineitem: DataFrame,
                     broadcastEdges: Option[Boolean] = None): DataFrame = {
    val edges = coPurchaseEdges(lineitem)
    val deg = edges.select(col("u").as("id"))
      .unionAll(edges.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), Seq("v"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    // checkpoint: three consumers (adjacency build + both join probes)
    // would each replay the fact self-join otherwise
    val oriented = withDeg.select(
      when(fwd, col("u")).otherwise(col("v")).as("src"),
      when(fwd, col("v")).otherwise(col("u")).as("dst"))
      .localCheckpoint(true)
    // exact |E| off the in-memory checkpoint blocks — the sizing input
    val bc = broadcastEdges.getOrElse(oriented.count() <= maxBroadcastEdges(part))
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    def side(df: DataFrame) = if (bc) broadcast(df) else df
    // adjacency lists are duplicate-free (edges are distinct), so
    // array_intersect's set semantics are exact here
    val tri = oriented
      .join(side(adj.select(col("src").as("ja"), col("nbrs").as("na"))),
        col("src") === col("ja"))
      .join(side(adj.select(col("src").as("jb"), col("nbrs").as("nb"))),
        col("dst") === col("jb"))
      .select(col("src").as("a"), col("dst").as("b"),
        explode(array_intersect(col("na"), col("nb"))).as("c"))
    // ONE pass over the triangle stream: a union of three projections
    // would re-run the enumeration once per corner (measured 3×)
    val corners = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("c"))
    part.select(col("p_partkey"))
      .join(corners.withColumnRenamed("id", "p_partkey"), Seq("p_partkey"), "left")
      .select(col("p_partkey"), coalesce(col("c"), lit(0L)).as("n_tri"))
  }

  /** Scaled-integer PageRank constants: ranks live in units of
    * 1/SCALE so every operation is exact 64-bit integer arithmetic.
    * Damping 0.85 is applied as (85 · x) div 100 — floor division,
    * identical in Spark (`div`) and DuckDB (`//`) for the non-negative
    * values this iteration produces. Total mass ≤ SCALE = 10¹², so
    * 85 · Σ ≤ 8.5 × 10¹³ — no 64-bit overflow anywhere.
    */
  val PrScale = 1000000000000L

  /** q55: PageRank over the co-purchase graph, `iters` full
    * power-iteration steps, damping 0.85, in EXACT integer arithmetic:
    *
    *   r₀(v)    = SCALE div N
    *   rₖ(v)    = (15·SCALE) div (100·N)
    *              + (85 · Σ_{u→v} (rₖ₋₁(u) div deg(u))) div 100
    *
    * Floor division makes the update order-independent (integer sums
    * commute exactly, unlike floating-point), so the distributed
    * iteration hash-matches a sequential replay bit-for-bit — the same
    * discipline as the q42 closure and the q45/q46 sketches. Dangling
    * vertices (parts in no order) contribute nothing and receive only
    * the teleport term; their leaked mass is NOT redistributed — the
    * standard "lumped leak" variant, chosen because redistribution
    * would add a global 1-row aggregate barrier per iteration for a
    * constant factor nobody reads off a centrality ranking.
    *
    * Scale: the directed edge list (with source degree pre-joined) is
    * checkpointed ONCE and re-read by every iteration; each step joins
    * the |V|-sized rank vector to it, then one |E|→|V|
    * partial-aggregated shuffle + one |V| left join, lineage cut per
    * round (the Components.minLabel pattern) so plans stay flat.
    * Broadcasting the rank vector map-side removes the |E|
    * shuffle+sort an SMJ would pay per step — measured 8.4 → 1.3 s at
    * sf0.1 (the checkpointed rank frame reports unknown stats, so the
    * planner would never pick the broadcast itself) — and is SIZED on
    * |V| (already counted exactly for the teleport constant): it
    * engages only when |V| ≤ `graft.graph.maxBroadcastRankRows`. On a
    * billion-vertex graph (vertices fact-sized, rank vector too big to
    * ship) the same iteration therefore runs as co-partitioned shuffle
    * joins unaided; `broadcastRanks = Some(x)` is the manual override
    * both ways (executor memory for the shipped rank vector vs wall
    * time for the per-step edge shuffle). Each iteration's checkpoint
    * frees its predecessor's blocks once materialized (only the LAST
    * checkpoint feeds the returned lineage), so executor storage holds
    * ~one rank vector, not `iters` of them. `iters` is a fixed
    * constant — 8 steps move every vertex within ~2·0.85⁸ ≈ 0.5% of
    * the fixpoint, ranking-stable on graphs with this diameter — not a
    * convergence loop, so the job count is known up front.
    *
    * Input contract: edge endpoints are restricted to `part` keys
    * (left-semi on the dim, map-side when the rank broadcast is on) —
    * a lineitem row referencing a part absent from the dim would
    * otherwise keep propagating mass through a phantom vertex the
    * oracle's verts-restricted recursion never ranks. Source DEGREES
    * still count phantom-bound edges (that mass leaks, exactly as the
    * oracle's `deg` over the raw edge list leaks it), so the two
    * engines agree bit-for-bit even on FK-violating input.
    */
  def pageRank(part: DataFrame, lineitem: DataFrame, iters: Int = 8,
               broadcastRanks: Option[Boolean] = None): DataFrame = {
    val verts = part.select(col("p_partkey").as("id"))
    val n = verts.count() // one exact COUNT — the sizing-action class
    if (n == 0L)
      return verts.select(col("id").as("p_partkey"), lit(0L).as("pr_scaled")).limit(0)
    val base = (15L * PrScale) / (100L * n)
    val r0 = PrScale / n
    if (iters == 0) // no edge derivation needed for the flat start state
      return verts.select(col("id").as("p_partkey"), lit(r0).as("pr_scaled"))
    // the edge derivation (fact self-join + distinct) is the expensive
    // part — checkpoint the UNDIRECTED pair list once so the degree
    // aggregation and the directed expansion never replay it (uncut,
    // the distinct re-ran ~4× through the branching lineage: measured
    // 3.7 s of setup at sf0.1 against ~1 s checkpointed)
    val und = coPurchaseEdges(lineitem).localCheckpoint(true)
    val bc = broadcastRanks.getOrElse(autoBroadcastRanks(part, n))
    def mapSide(df: DataFrame) = if (bc) broadcast(df) else df
    val ed0 = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
    val deg = ed0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // degrees BEFORE the FK restriction (phantom-bound mass leaks, per
    // the contract above); then only verts-keyed sources propagate.
    // Repartition by DST before the checkpoint: every iteration's
    // groupBy(dst) requires ClusteredDistribution(dst), which the
    // checkpoint's preserved HashPartitioning(dst) already satisfies —
    // so the per-step |E|→|V| sum aggregation plans ZERO exchanges
    // (the broadcast rank join is partitioning-preserving). One |E|
    // shuffle up front replaces `iters` of them; at cluster scale
    // that's `iters`−1 fewer full-network passes over the edge list.
    val ed = checkpointPartitioned(ed0.sparkSession)(ed0.join(deg, Seq("src"))
      .join(mapSide(verts.withColumnRenamed("id", "src")), Seq("src"), "left_semi")
      .repartition(col("dst")))
    unpersistCheckpoint(und) // ed holds everything the loop reads
    // ranks carries only RECEIVING vertices (in-degree ≥ 1); everyone
    // else sits at a known constant — r0 before the first step, the
    // bare teleport term after — so the |V| completion join runs ONCE
    // at the end instead of every iteration. (Checkpointing every
    // SECOND step was tried and reverted — §8: in the broadcast path
    // the fused odd step still executes as its own broadcast-exchange
    // job, so the job count doesn't drop; measured 4.94 vs 5.02 s.)
    var ranks: DataFrame = null
    var dflt = r0
    for (_ <- 1 to iters) {
      val next = prStep(ed, Option(ranks), dflt, base, bc).localCheckpoint(true)
      // the new checkpoint is materialized (eager) — the previous
      // iteration's blocks are dead weight from here on
      if (ranks != null) unpersistCheckpoint(ranks)
      ranks = next
      dflt = base
    }
    unpersistCheckpoint(ed)
    verts.join(ranks, Seq("id"), "left")
      .select(col("id").as("p_partkey"),
        coalesce(col("r"), lit(dflt)).as("pr_scaled"))
  }

  /** The rank-broadcast sizing decision, visible to the spec that pins
    * it (the returned completion frame no longer contains the
    * per-iteration join — each step materializes and cuts lineage
    * during construction, so the auto default can't be audited off the
    * final plan).
    */
  private[graft] def autoBroadcastRanks(part: DataFrame, n: Long): Boolean =
    n <= maxBroadcastRankRows(part)

  /** One power-iteration step as a LAZY frame (checkpointing and block
    * lifecycle stay in pageRank): left-join the rank vector onto the
    * degree-annotated edge base (absent source = `dflt`, the known
    * constant for non-receiving vertices), divide each source's rank
    * across its out-edges with floor division, partial-aggregate per
    * destination, damp. Factored out so the sizing spec audits the
    * per-iteration join shape directly.
    */
  private[graft] def prStep(ed: DataFrame, ranks: Option[DataFrame], dflt: Long,
                            base: Long, bc: Boolean): DataFrame = {
    val withR = ranks match {
      case None => ed.withColumn("r", lit(dflt))
      case Some(r) =>
        val rs = r.withColumnRenamed("id", "src")
        ed.join(if (bc) broadcast(rs) else rs, Seq("src"), "left")
          .withColumn("r", coalesce(col("r"), lit(dflt)))
    }
    withR.select(col("dst").as("id"), expr("r div deg").as("c"))
      .groupBy(col("id")).agg(sum(col("c")).as("s"))
      .select(col("id"), (lit(base) + expr("(85 * s) div 100")).as("r"))
  }

  /** Eager localCheckpoint that PRESERVES the frame's partitioning.
    * Under AQE (the default) the Dataset's physical plan is an
    * AdaptiveSparkPlanExec whose pre-execution outputPartitioning is
    * UNKNOWN, so a checkpoint captured normally FORGETS an explicit
    * `repartition` — and every downstream iteration re-shuffles the
    * edge list it was supposed to find pre-clustered (measured: the
    * per-round groupBys plan Exchange nodes; with the partitioning
    * captured they plan none — GraphSpec pins both). Building just the
    * checkpoint with AQE off captures the HashPartitioning; consumers
    * still plan adaptively.
    *
    * AQE is disabled on a `spark.newSession()` CLONE — an isolated
    * SQLConf over the same SparkContext — never on the caller's
    * session, so a concurrently-planning consumer of that session
    * (e.g. a running streaming query's micro-batch planner) can never
    * observe the flip. The frame's logical plan is rebound onto the
    * clone (Bridge.rebind), checkpointed there, and the resulting
    * LogicalRDD — partitioning captured — rebound back to the
    * caller's session so downstream composition stays single-session
    * and adaptive. Rebinding starts from the LOGICAL plan, so even a
    * frame a careless caller already resolved under AQE re-plans
    * fresh on the clone; the by-name parameter is kept only to avoid
    * building frames the guard then discards on error.
    */
  private[graft] def checkpointPartitioned(spark: org.apache.spark.sql.SparkSession)(mkDf: => DataFrame): DataFrame = {
    val clone = spark.newSession()
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    val cp = org.apache.spark.sql.graftbridge.Bridge.rebind(clone, mkDf).localCheckpoint(true)
    org.apache.spark.sql.graftbridge.Bridge.rebind(spark, cp)
  }

  /** Frees the storage blocks behind an EAGER `localCheckpoint` frame
    * that nothing downstream will read again. `Dataset.unpersist`
    * can't do this — the blocks belong to the checkpointed RDD inside
    * the frame's `LogicalRDD` leaf, not to a cache-manager entry — so
    * the RDD is pulled out of the leaf and unpersisted directly
    * (non-blocking; destroys the data, which is the point: a
    * local-checkpoint has no recompute path). Call ONLY on frames
    * whose every consumer has already materialized.
    */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** q57: community detection by SYNCHRONOUS label propagation over
    * the co-purchase graph — the third graph op (density q54 →
    * centrality q55 → communities here). Every part starts in its own
    * community (label = own key); each of the `iters` rounds relabels
    * EVERY vertex simultaneously to its neighbors' most frequent
    * label, ties to the SMALLEST label — the deterministic variant of
    * Raghavan et al.'s LPA (asynchronous/random-order LPA converges
    * faster but is run-to-run unstable; the synchronous min-tie form
    * is a pure function of the graph, so the distributed execution
    * hash-matches a sequential replay and an unrolled-CTE oracle,
    * exactly the q55 discipline). A vertex with no labeled neighbors
    * (isolated part, or all neighbors phantom) keeps its label.
    * Output: (p_partkey, community) — |V| rows.
    *
    * Scale: per round, one map-side join of the edge list against the
    * broadcast |V|-sized label vector (sized by the SAME
    * maxBroadcastRankRows cutoff as q55 — label and rank vectors are
    * the same shape; fact-sized vertex sets auto-demote to shuffle
    * joins), a (src, lbl) count with map-side partials (group count ≤
    * Σ deg = 2|E|), a per-src max_by hash aggregate (no window sort —
    * the §8 max_by-over-window lesson), and a |V| map-side completion
    * join. Labels checkpoint per round with the predecessor's blocks
    * freed (the q55 lifecycle), so storage holds ~one label vector.
    * `iters` is a fixed constant — LPA on low-diameter catalog graphs
    * settles in a handful of rounds, and a convergence loop would make
    * the job count data-dependent.
    *
    * Phantom endpoints (lineitem keys absent from part) carry no label:
    * they contribute no votes and receive no community — both engines
    * drop them in the same place (the label join), so FK-violating
    * input agrees bit-for-bit too.
    */
  def labelPropagation(part: DataFrame, lineitem: DataFrame, iters: Int = 5,
                       broadcastLabels: Option[Boolean] = None): DataFrame = {
    val verts = part.select(col("p_partkey").as("id"))
    val n = verts.count() // one exact COUNT — the sizing-action class
    if (n == 0L || iters == 0)
      return verts.select(col("id").as("p_partkey"), col("id").as("community"))
    val und = coPurchaseEdges(lineitem).localCheckpoint(true)
    val bc = broadcastLabels.getOrElse(autoBroadcastRanks(part, n))
    // Repartition by SRC before the checkpoint: both per-round
    // aggregations cluster on src-prefixed keys — groupBy(src, lbl)
    // and groupBy(src) are each satisfied by HashPartitioning(src) —
    // and the broadcast label join preserves partitioning, so every
    // round plans ZERO exchanges off the checkpoint (the q55 dst
    // trick; one |E| shuffle up front replaces 2·iters of them).
    val ed = checkpointPartitioned(und.sparkSession)(
      und.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
        .repartition(col("src")))
    unpersistCheckpoint(und) // ed holds everything the loop reads
    var labels = verts.select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to iters) {
      val next = lpaStep(ed, labels, bc).localCheckpoint(true)
      unpersistCheckpoint(labels)
      labels = next
    }
    unpersistCheckpoint(ed)
    labels.select(col("id").as("p_partkey"), col("lbl").as("community"))
  }

  /** One synchronous LPA round as a LAZY frame (checkpointing and block
    * lifecycle stay in labelPropagation) — factored out so the plan
    * spec audits the per-round shape directly: off a src-partitioned
    * edge checkpoint, both aggregations satisfy their distributions
    * and the round plans zero exchanges.
    */
  private[graft] def lpaStep(ed: DataFrame, labels: DataFrame, bc: Boolean): DataFrame = {
    def mapSide(df: DataFrame) = if (bc) broadcast(df) else df
    val votes = ed
      .join(mapSide(labels.withColumnRenamed("id", "dst")), Seq("dst"))
      .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
    // most-frequent label, tie → smallest: max over (count, -label)
    val best = votes.groupBy(col("src"))
      .agg(max_by(col("lbl"), struct(col("c"), (-col("lbl")).as("nl"))).as("best"))
      .withColumnRenamed("src", "id")
    labels.join(mapSide(best), Seq("id"), "left")
      .select(col("id"), coalesce(col("best"), col("lbl")).as("lbl"))
  }

  /** The q57 oracle: the synchronous min-tie LPA rounds unrolled as
    * chained CTEs (same generation discipline as [[pageRankOracleSql]]);
    * the per-vertex argmax is a row_number window ordered (count DESC,
    * label ASC) — DuckDB's arg_max cannot take the composite ordering
    * Spark's max_by-over-struct expresses.
    */
  def labelPropagationOracleSql(iters: Int = 5): String = {
    // iters = 0 mirrors labelPropagation's identity early-return; the
    // generated form below would otherwise leave a dangling comma
    // after l0 (empty $steps) and fail to parse
    if (iters == 0)
      return "SELECT p_partkey, p_partkey AS community FROM part"
    val steps = (1 to iters).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT p.id, coalesce(b.best, p.lbl) AS lbl
         |  FROM l${k - 1} p LEFT JOIN (
         |    SELECT src AS id, lbl AS best FROM (
         |      SELECT v.src, v.lbl,
         |             row_number() OVER (PARTITION BY v.src
         |               ORDER BY v.c DESC, v.lbl ASC) AS rn
         |      FROM (SELECT ed.src, l.lbl, count(*) AS c
         |            FROM ed JOIN l${k - 1} l ON l.id = ed.dst
         |            GROUP BY ed.src, l.lbl) v) q
         |    WHERE rn = 1) b ON b.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH pp AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |ed AS MATERIALIZED (SELECT u AS src, v AS dst FROM pp
       |       UNION ALL SELECT v AS src, u AS dst FROM pp),
       |verts AS (SELECT p_partkey AS id FROM part),
       |l0 AS (SELECT id, id AS lbl FROM verts),
       |$steps
       |SELECT id AS p_partkey, lbl AS community FROM l$iters""".stripMargin
  }

  /** The q55 oracle: the identical integer iteration unrolled as
    * chained CTEs (DuckDB's recursive-CTE form forbids the aggregate
    * in the recursive member, so the fixed `iters` steps are generated
    * textually — same discipline, same arithmetic, `//` ↔ `div`).
    */
  def pageRankOracleSql(iters: Int = 8): String = {
    // iters = 0 mirrors pageRank's flat-start early-return (same
    // dangling-comma hazard as labelPropagationOracleSql)
    if (iters == 0)
      return """SELECT p_partkey,
                CAST(1000000000000 // (SELECT count(*) FROM part) AS BIGINT) AS pr_scaled
                FROM part"""
    val steps = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT v.id,
         |         ((15 * 1000000000000) // (100 * (SELECT n FROM nn)))
         |         + coalesce((85 * s.s) // 100, 0) AS r
         |  FROM verts v LEFT JOIN (
         |    SELECT ed.dst AS id, sum(r.r // deg.deg) AS s
         |    FROM r${k - 1} r JOIN ed ON ed.src = r.id
         |    JOIN deg ON deg.id = r.id
         |    GROUP BY ed.dst) s ON s.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH pp AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |ed AS MATERIALIZED (SELECT u AS src, v AS dst FROM pp
       |       UNION ALL SELECT v AS src, u AS dst FROM pp),
       |deg AS (SELECT src AS id, count(*) AS deg FROM ed GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM part),
       |verts AS (SELECT p_partkey AS id FROM part),
       |r0 AS (SELECT id, (1000000000000 // (SELECT n FROM nn)) AS r FROM verts),
       |$steps
       |SELECT id AS p_partkey, CAST(r AS BIGINT) AS pr_scaled FROM r$iters""".stripMargin
  }
}
