package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q104: INTERPOLATED KNESER-NEY TRIGRAM LM perplexity — the
  * KenLM-class scorer the CCNet pipeline actually deploys (Wenzek et
  * al., LREC 2020 §4.2 ship a 5-gram Kneser-Ney model; Heafield, "KenLM:
  * Faster and Smaller Language Model Queries", WMT 2011; smoothing per
  * Chen & Goodman 1999 §3, fixed discount D). q61's add-one bigram was
  * the family's declared depth gap (r14 verdict task #2): add-one
  * smoothing systematically over-penalizes frequent contexts, while KN
  * discounts observed mass and backs off to CONTINUATION counts — "how
  * many contexts does this word complete?" — the property that makes it
  * the production web-filter scorer.
  *
  * ORACLE-EXACT BY CONSTRUCTION, like q61: every probability is a Q30
  * fixed-point integer (discount D = 3/4 exactly, so `max(c−D,0)/den`
  * is the integer `(4c−3)/(4·den)` — the "discounts as Q16 rationals"
  * discipline, here as quarters), every interpolation product is a
  * truncating int64 multiply-shift, and the final negative log2 runs
  * through the shared Log2Q16Expr kernel — so scores hash-compare
  * against the DuckDB replay where a float KN (or real KenLM) could
  * only be rank-gated.
  *
  * The recursion (Chen & Goodman eq. 18, hard D, interpolated form),
  * with counts from the corpus's own trigram stream:
  *
  *   p1(w3)       = N1+(·w3) / N1+(··)                 (continuation unigram)
  *   p2(w2,w3)    = max(N1+(·w2w3)−D,0)/N1+(·w2·) + λ2(w2)·p1(w3)
  *   λ2(w2)       = D·N1+(w2·)/N1+(·w2·)
  *   p3(w1,w2,w3) = max(c(w1w2w3)−D,0)/c(w1w2·) + λ3(w1,w2)·p2(w2,w3)
  *   λ3(w1,w2)    = D·N1+(w1w2·)/c(w1w2·)
  *
  * where N1+(·w2w3) = distinct left-contexts of the bigram, N1+(·w2·) =
  * trigram types with middle w2, N1+(w2·) = distinct continuations of
  * w2, N1+(·w3) = distinct predecessors of w3, N1+(··) = distinct
  * continuation-bigram types — ALL derived from the trigram-TYPE table,
  * the standard build-lower-orders-from-continuations rule.
  *
  * Fixed-point contract (Q30, truncating — replayed verbatim by `//`
  * in DuckDB):
  *   p1_q30   = (N1+(·w3) << 30) div N1+(··)
  *   base_q30 = ((4c − 3) << 30) div (4·den)
  *   λ_q30    = ((3·n) << 30) div (4·den)
  *   p_q30    = base_q30 + (λ_q30 · p_lower_q30) div 2³⁰
  *   nll_q16  = 30·2¹⁶ − L(p_q30)        (L = Log2Q16Expr)
  *
  * EXACTNESS BOUNDS (documented + fail-loud, the q99/q63 discipline):
  * truncation only ever LOWERS p, and mathematically Σ p ≤ 1 per
  * context, so p_q30 ∈ [1, 2³⁰] — the log kernel's domain — provided
  * the numerators stay in int64 and the minimum base stays ≥ 1:
  * both hold when every context count (c12, N1+(·w2·)) ≤ 2²⁸
  * (asserted per MODEL row via assert_true — a wrapped multiply would
  * diverge silently against DuckDB's raising HUGEINT). Past 2²⁸
  * context occurrences (≳ 2.7·10⁸, far beyond any single shard's
  * context count after the standard per-shard count pruning), rescale
  * Q30 → Q20: same code, one shift constant.
  *
  * Scale shape = q61's exactly: the corpus is touched by ONE trigram
  * explode per consumer (recompute-lineage — no corpus-sized cache);
  * every model table is an aggregate of the trigram-TYPE table (the
  * sub-corpus-sized frame an n-gram LM trainer always keys on); the
  * scoring pass is one probe join on (w1,w2,w3) + a per-doc agg. The
  * log kernel runs on TYPE rows, never corpus rows. N1+(··) is the
  * one driver scalar (the trainCodebook 1-row collect protocol).
  */
object NgramLm {

  /** D = 3/4: numerators carry ×4, `4c−3` is `4(c−D)`. */
  final val Q30: Long = 1L << 30
  /** nll of p_q30: 30·2¹⁶ − L(p_q30). */
  final val NllCeilQ16: Long = 30L * 65536L
  /** Context-count bound for Q30 exactness (see scaladoc). */
  final val CtxBound: Long = 1L << 28

  /** Exploded adjacent-trigram frame (doc_id, w1, w2, w3); docs with
    * fewer than 3 tokens contribute nothing (the q61 guard shape).
    */
  private[graft] def trigrams(documents: DataFrame): DataFrame = {
    val triples = when(size(col("toks")) >= 3,
      expr("transform(sequence(0, size(toks)-3), " +
        "i -> struct(toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3))"))
      .otherwise(expr(
        "CAST(array() AS array<struct<w1:string,w2:string,w3:string>>)"))
    TextOps.tokArrays(documents)
      .select(col("doc_id"), explode(triples).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
  }

  /** The five ARPA-shaped model frames + the one scalar — exposed so
    * the batch scorer and the JVM-side [[KnLmModel]] scorer freeze
    * EXACTLY the same tables.
    *
    *  - tri(w1,w2,w3, c3):          trigram type counts
    *  - ctx(w1,w2, c12, n3):        context totals + distinct continuations
    *  - ct(w2,w3, n1c):             continuation-bigram types (distinct w1)
    *  - midc(w2, n1pc, n1t):        middle totals + distinct continuations
    *  - uni(w3, n1u):               distinct predecessors
    */
  private[graft] case class KnCounts(
      tri: DataFrame, ctx: DataFrame, ct: DataFrame,
      midc: DataFrame, uni: DataFrame, nCtDf: DataFrame)

  private[graft] def knCounts(documents: DataFrame): KnCounts = {
    val tgc = trigrams(documents)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
    val ctx = tgc.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c3")).as("c12"), count(lit(1)).as("n3"))
    val ct = tgc.groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("n1c"))
    val midc = ct.groupBy(col("w2"))
      .agg(sum(col("n1c")).as("n1pc"), count(lit(1)).as("n1t"))
    val uni = ct.groupBy(col("w3")).agg(count(lit(1)).as("n1u"))
    // N1+(··) stays IN-PLAN as a 1-row broadcast scalar (r17): the old
    // driver collect ran the whole tgc→ct chain as its OWN execution —
    // AQE's runtime stage cache deduplicates identical exchange
    // subtrees only WITHIN one execution, so the collect doubled every
    // count pass (StageCount: 22 stage-jobs for q104, about a third of
    // them the scalar's re-run). A single-row crossJoin keeps the whole
    // model one execution; the 1×V nested-loop it plans is O(V) and
    // allowlisted (the q45 single-row-sketch precedent).
    val nCtDf = ct.agg(greatest(count(lit(1)), lit(1L)).as("nct"))
    KnCounts(tgc, ctx, ct, midc, uni, nCtDf)
  }

  /** The trained model as probability frames: (w2,w3 → p2_q30),
    * (w2 → lam2_q30), (w1,w2 → lam3_q30), (w3 → p1_q30), and the
    * scored trigram table (w1,w2,w3 → nll_q16). Shared by the batch
    * scorer and [[knModelFrames]] (the frozen tables).
    */
  private[graft] def knProbFrames(c: KnCounts): (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.{VectorFunctions => VF}
    val p1 = c.uni.crossJoin(broadcast(c.nCtDf))
      .select(col("w3"), expr(s"(n1u * ${Q30}L) div nct").as("p1"))
    val mid = c.ct.join(c.midc, Seq("w2")).join(p1, Seq("w3"))
      .select(col("w2"), col("w3"),
        (expr(s"((4L*n1c - 3L) * ${Q30}L) div (4L*n1pc)") +
          expr(s"(((3L*n1t) * ${Q30}L) div (4L*n1pc) * p1) div ${Q30}L") +
          // Q30 exactness guard: a context past 2^28 would wrap the
          // int64 numerator silently where DuckDB's HUGEINT raises
          coalesce(assert_true(col("n1pc") <= lit(CtxBound),
            lit(s"q104: N1+(.w2.) exceeds the 2^28 Q30 bound — rescale to Q20"))
            .cast("long"), lit(0L))).as("p2"),
        expr(s"((3L*n1t) * ${Q30}L) div (4L*n1pc)").as("lam2"))
    val tri = c.tri.join(c.ctx, Seq("w1", "w2"))
      .join(mid.select(col("w2"), col("w3"), col("p2")), Seq("w2", "w3"))
      .select(col("w1"), col("w2"), col("w3"),
        (expr(s"((4L*c3 - 3L) * ${Q30}L) div (4L*c12)") +
          expr(s"(((3L*n3) * ${Q30}L) div (4L*c12) * p2) div ${Q30}L") +
          coalesce(assert_true(col("c12") <= lit(CtxBound),
            lit(s"q104: c(w1w2.) exceeds the 2^28 Q30 bound — rescale to Q20"))
            .cast("long"), lit(0L))).as("p3"))
      .select(col("w1"), col("w2"), col("w3"),
        (lit(NllCeilQ16) - VF.log2_q16(col("p3"))).as("nll_q16"))
    (tri, mid, p1)
  }

  /** q104: per-document KN-trigram perplexity — (doc_id, n_trigrams,
    * nll_q16, ppl_q16); docs with <3 tokens score (0, 0, null), the
    * q61 degradation contract.
    */
  def knPerplexity(documents: DataFrame): DataFrame = {
    val c = knCounts(documents)
    val (tri, _, _) = knProbFrames(c)
    val scored = trigrams(documents)
      .join(tri, Seq("w1", "w2", "w3"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("nll_q16")).as("nll_sum"))
      .select(col("doc_id"), col("n_trigrams"), col("nll_sum"),
        expr("nll_sum div n_trigrams").as("ppl_q16"))
    documents.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("nll_sum"), lit(0L)).as("nll_q16"),
        col("ppl_q16"))
  }

  /** The frozen model as driver-side maps — the ARPA file's structure exactly
    * (probability + backoff weight per entry, Heafield 2011 §2): the
    * trigram nll table plus the lower-order (prob, backoff) ladders a
    * scorer walks for NOVEL n-grams. Collected maps are LM-model-sized
    * (the bigram_lm precedent — production models prune counts before
    * this step, the standard ARPA discipline).
    */
  case class KnLmModel(tri: Map[(String, String, String), Long],
                       ctxLam: Map[(String, String), Long],
                       mid: Map[(String, String), Long],
                       midLam: Map[String, Long],
                       uni: Map[String, Long]) {
    require(uni.nonEmpty, "frozen KN model must carry unigram continuations")

    /** The backoff ladder for one trigram: exact table hit → context
      * backoff (λ3·p2') → unigram ladder → OOV floor (p_q30 = 1, the
      * model's maximum nll). p2' is the bigram-level estimate — the
      * table hit when (w2,w3) is frozen, else its OWN backoff
      * λ2(w2)·p1(w3) (or p1 / floor) — and λ3 applies whenever the
      * CONTEXT (w1,w2) is seen, regardless of which rung produced p2'
      * (ARPA semantics: backoff weights multiply down the whole
      * ladder, Chen & Goodman eq. 18). Novel n-grams only — on the
      * training corpus the first rung always hits, which is what
      * makes [[score]] row-exact vs batch q104.
      */
    def nll(w1: String, w2: String, w3: String): Long =
      tri.getOrElse((w1, w2, w3), {
        val p2 = mid.getOrElse((w2, w3),
          uni.get(w3) match {
            case Some(p1v) => midLam.get(w2) match {
              case Some(l2) => math.max((l2 * p1v) / Q30, 1L)
              case None => p1v
            }
            case None => 1L // OOV floor: the representable minimum
          })
        val p = ctxLam.get((w1, w2)) match {
          case Some(l3) => math.max((l3 * p2) / Q30, 1L)
          case None => p2
        }
        NllCeilQ16 - graft.functions.Log2Q16Expr.compute(p)
      })

    /** Score one document: (n_trigrams, nll_sum,
      * ppl) with the batch <3-token degradation.
      */
    def score(toks: Array[String]): (Long, Long, Option[Long]) =
      if (toks.length < 3) (0L, 0L, None)
      else {
        var s = 0L; var i = 0
        while (i < toks.length - 2) { s += nll(toks(i), toks(i + 1), toks(i + 2)); i += 1 }
        val n = (toks.length - 2).toLong
        (n, s, Some(s / n))
      }
  }

  /** The five frozen-model tables, derived in one pass from the
    * shared count frames (so batch and the frozen model cannot drift).
    */
  def knModelFrames(documents: DataFrame): Map[String, DataFrame] = {
    val c = knCounts(documents)
    val (tri, mid, p1) = knProbFrames(c)
    Map(
      "tri" -> tri,
      "ctx" -> c.ctx.select(col("w1"), col("w2"),
        expr(s"((3L*n3) * ${Q30}L) div (4L*c12)").as("lam3")),
      "mid" -> mid.select(col("w2"), col("w3"), col("p2")),
      "midctx" -> mid.select(col("w2"), col("lam2")).distinct(),
      "uni" -> p1)
  }

  // ------------------------------------------------------------------
  // q104b: GENERALIZED order-n interpolated KN (registered n = 5 —
  // the order CCNet actually deploys, Wenzek et al. LREC 2020 §4.2).
  // The recursion is the q104 chain run generically: the top-order
  // type table L_n carries raw counts; each lower order derives as
  // the CONTINUATION counts of the order above (L_k = L_{k+1} grouped
  // by its suffix, count(*) = distinct left extensions — the standard
  // build-lower-orders-from-continuations rule applied recursively);
  // per order, context totals come from grouping by the context
  // (drop the last word), and the Q30 ladder interpolates upward.
  // At n = 3 this reproduces knPerplexity BIT-FOR-BIT (spec-pinned —
  // the strongest crosscheck the general builder can carry).
  // ------------------------------------------------------------------

  /** Column names w1..wn for one n-gram. */
  private def wcols(n: Int): Seq[String] = (1 to n).map(i => s"w$i")

  /** Exploded adjacent n-gram frame (doc_id, w1..wn). */
  private[graft] def ngrams(documents: DataFrame, n: Int): DataFrame = {
    val fields = (0 until n).map(i => s"toks[i+$i] AS w${i + 1}").mkString(", ")
    val tuples = when(size(col("toks")) >= n,
      expr(s"transform(sequence(0, size(toks)-$n), i -> struct($fields))"))
      .otherwise(expr("CAST(array() AS array<struct<" +
        wcols(n).map(_ + ":string").mkString(",") + ">>)"))
    TextOps.tokArrays(documents)
      .select(col("doc_id") +: Seq(explode(tuples).as("t")): _*)
      .select(col("doc_id") +: wcols(n).map(w => col(s"t.$w").as(w)): _*)
  }

  /** The order-n model: (w1..wn, nll_q16). */
  private[graft] def knModelN(documents: DataFrame, n: Int): DataFrame = {
    require(n >= 2, "KN needs order >= 2")
    import graft.functions.{VectorFunctions => VF}
    // L_n raw counts; L_k (k<n) = continuation counts of L_{k+1}
    val L = new Array[DataFrame](n + 1)
    L(n) = ngrams(documents, n)
      .groupBy(wcols(n).map(col): _*).agg(count(lit(1)).as("cnt"))
    for (k <- n - 1 to 1 by -1) {
      // L_{k+1} columns are w1..w_{k+1}; its suffix (w2..w_{k+1})
      // renames to w1..wk
      val suffix = (2 to k + 1).map(i => col(s"w$i").as(s"w${i - 1}"))
      L(k) = L(k + 1).select(suffix: _*)
        .groupBy(wcols(k).map(col): _*).agg(count(lit(1)).as("cnt"))
    }
    // unigram: p1 = (cnt << 30) div Σcnt — the total rides in-plan as
    // a 1-row broadcast scalar (the knCounts nCtDf rationale: one
    // execution, so the runtime stage cache dedups the whole L-chain
    // instead of the old collect re-running it)
    val tot1 = L(1).agg(
      greatest(coalesce(sum(col("cnt")), lit(1L)), lit(1L)).as("tot1"))
    var p = L(1).crossJoin(broadcast(tot1))
      .select(col("w1").as(s"w$n"),
        expr(s"(cnt * ${Q30}L) div tot1").as("p"))
    // ladder: at level k the model keys on the LAST k words (w_{n-k+1}..w_n)
    for (k <- 2 to n) {
      // L(k) columns w1..wk → rename to the suffix alignment w_{n-k+1}..w_n
      val shift = n - k
      val aligned = L(k).select(
        (1 to k).map(i => col(s"w$i").as(s"w${i + shift}")) :+ col("cnt"): _*)
      val ctxCols = (shift + 1 until n).map(i => s"w$i") // context = first k-1 of the suffix
      val ctx = aligned.groupBy(ctxCols.map(col): _*)
        .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("n1t"))
      val lowKey = (shift + 2 to n).map(i => s"w$i") // p_{k-1} keys
      p = aligned.join(ctx, ctxCols)
        .join(p.withColumnRenamed("p", "plow"), lowKey)
        .select((shift + 1 to n).map(i => col(s"w$i")) :+
          (expr(s"((4L*cnt - 3L) * ${Q30}L) div (4L*tot)") +
            expr(s"(((3L*n1t) * ${Q30}L) div (4L*tot) * plow) div ${Q30}L") +
            coalesce(assert_true(col("tot") <= lit(CtxBound),
              lit(s"q104b: order-$k context exceeds the 2^28 Q30 bound — rescale to Q20"))
              .cast("long"), lit(0L))).as("p"): _*)
    }
    p.select(wcols(n).map(col) :+
      (lit(NllCeilQ16) - VF.log2_q16(col("p"))).as("nll_q16"): _*)
  }

  /** q104b: order-n KN perplexity (registered n = 5); docs with < n
    * tokens score (0, 0, null).
    */
  def knPerplexityN(documents: DataFrame, n: Int = 5): DataFrame = {
    val model = knModelN(documents, n)
    val scored = ngrams(documents, n)
      .join(model, wcols(n))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"), sum(col("nll_q16")).as("nll_sum"))
      .select(col("doc_id"), col("n_ngrams"), col("nll_sum"),
        expr("nll_sum div n_ngrams").as("ppl_q16"))
    documents.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("nll_sum"), lit(0L)).as("nll_q16"),
        col("ppl_q16"))
  }

  // ------------------------------------------------------------------
  // q104c: ARPA-STYLE COUNT PRUNING (r15 verdict task #1) — the
  // KenLM/Heafield 2011 §4 discipline that BOUNDS the deployed model:
  // probabilities are estimated from FULL counts first (Chen & Goodman
  // interpolation unchanged), then entries below the count threshold
  // are DROPPED from the stored model and a scorer reaching a dropped
  // entry walks the backoff ladder instead (ARPA semantics: a missing
  // entry backs off through its context weight when the CONTEXT is
  // stored, and falls straight through when it is not). Size bound
  // (documented, the task's `entries ≤ f(minCount)` ask): at level k,
  // Σ cnt over entries = (level-k type-or-token total) T_k, so kept
  // entries ≤ T_k / minCount; stored contexts ≤ T_k / minCtx; level 1
  // (vocab-sized) never prunes. minCount = minCtx = 1 keeps
  // everything and reproduces q104/q104b BIT-FOR-BIT (spec-pinned).
  // ------------------------------------------------------------------

  /** One KN ladder level: `entries` = (w1..wk, cnt, p, peff) — p the
    * full-count interpolated probability, peff the PRUNED-model
    * effective probability a deployed scorer computes for this k-gram
    * (== p when kept; the backoff value when pruned); `ctx` =
    * (w1..w_{k-1}, tot, n1t, lam). Level 1 has entries (w1, p, peff)
    * and no ctx.
    */
  private[graft] case class KnLevel(entries: DataFrame, ctx: DataFrame)

  /** The per-level KN model frames for order n with pruning knobs —
    * the shared builder behind [[knPerplexityNPruned]], the order-n
    * frozen tables ([[knModelFramesN]]), and the generic
    * scorer's spec crosschecks. Arithmetic is bit-identical to
    * [[knModelN]]'s ladder (same Q30 expressions, levels keyed
    * canonically w1..wk instead of suffix-aligned).
    */
  private[graft] def knLevels(documents: DataFrame, n: Int,
                              minCount: Long = 1L,
                              minCtx: Long = 1L): IndexedSeq[KnLevel] = {
    require(n >= 2, "KN needs order >= 2")
    require(minCount >= 1L && minCtx >= 1L, "prune thresholds are counts >= 1")
    val L = new Array[DataFrame](n + 1)
    L(n) = ngrams(documents, n)
      .groupBy(wcols(n).map(col): _*).agg(count(lit(1)).as("cnt"))
    for (k <- n - 1 to 1 by -1) {
      val suffix = (2 to k + 1).map(i => col(s"w$i").as(s"w${i - 1}"))
      L(k) = L(k + 1).select(suffix: _*)
        .groupBy(wcols(k).map(col): _*).agg(count(lit(1)).as("cnt"))
    }
    val tot1 = L(1).agg(
      greatest(coalesce(sum(col("cnt")), lit(1L)), lit(1L)).as("tot1"))
    val lvl1 = L(1).crossJoin(broadcast(tot1))
      .select(col("w1"), expr(s"(cnt * ${Q30}L) div tot1").as("p"))
      .withColumn("peff", col("p"))
    val out = IndexedSeq.newBuilder[KnLevel]
    out += KnLevel(lvl1, null)
    var prev = lvl1
    for (k <- 2 to n) {
      val ctxKeys = (1 until k).map(i => s"w$i")
      val ctx = L(k).groupBy(ctxKeys.map(col): _*)
        .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("n1t"))
        .select(ctxKeys.map(col) :+ col("tot") :+ col("n1t") :+
          expr(s"((3L*n1t) * ${Q30}L) div (4L*tot)").as("lam"): _*)
      val prevS = prev.select((1 until k).map(i => col(s"w$i").as(s"w${i + 1}")) :+
        col("p").as("plow") :+ col("peff").as("plow_eff"): _*)
      val pExact = expr(s"((4L*cnt - 3L) * ${Q30}L) div (4L*tot)") +
        expr(s"(lam * plow) div ${Q30}L") +
        coalesce(assert_true(col("tot") <= lit(CtxBound),
          lit(s"q104c: order-$k context exceeds the 2^28 Q30 bound — rescale to Q20"))
          .cast("long"), lit(0L))
      val entries = L(k).join(ctx, ctxKeys)
        .join(prevS, (2 to k).map(i => s"w$i"))
        .select(wcols(k).map(col) :+ col("cnt") :+ pExact.as("p") :+
          when(col("cnt") >= lit(minCount), pExact)
            .when(col("tot") >= lit(minCtx),
              greatest(expr(s"(lam * plow_eff) div ${Q30}L"), lit(1L)))
            .otherwise(col("plow_eff")).as("peff"): _*)
      out += KnLevel(entries, ctx)
      prev = entries
    }
    out.result()
  }

  /** q104c: order-n KN perplexity scored with the PRUNED model — per
    * corpus n-gram: the exact entry when its count clears `minCount`,
    * else λ·p_eff(lower) when the context clears `minCtx`, else the
    * lower level's effective value (the recursive `peff` column).
    * minCount = minCtx = 1 is exactly [[knPerplexityN]].
    */
  def knPerplexityNPruned(documents: DataFrame, n: Int,
                          minCount: Long, minCtx: Long): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    val top = knLevels(documents, n, minCount, minCtx).last.entries
      .select(wcols(n).map(col) :+
        (lit(NllCeilQ16) - VF.log2_q16(col("peff"))).as("nll_q16"): _*)
    val scored = ngrams(documents, n)
      .join(top, wcols(n))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"), sum(col("nll_q16")).as("nll_sum"))
      .select(col("doc_id"), col("n_ngrams"), col("nll_sum"),
        expr("nll_sum div n_ngrams").as("ppl_q16"))
    documents.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("nll_sum"), lit(0L)).as("nll_q16"),
        col("ppl_q16"))
  }

  /** The order-n frozen-model tables, PRUNED: per level k ≥ 2 a
    * `p$k` table of KEPT entries (cnt ≥ minCount → exact Q30 p) and a
    * `lam$k` table of STORED contexts (tot ≥ minCtx); `p1` is the full
    * (vocab-sized) continuation-unigram table. Entry bound:
    * Σ_k T_k/minCount + Σ_k T_k/minCtx + V (the Heafield §4 size
    * discipline — the artifact stops scaling with corpus duplication
    * the moment minCount > 1).
    */
  def knModelFramesN(documents: DataFrame, n: Int,
                     minCount: Long = 1L, minCtx: Long = 1L): Map[String, DataFrame] = {
    val levels = knLevels(documents, n, minCount, minCtx)
    val b = Map.newBuilder[String, DataFrame]
    b += "p1" -> levels(0).entries.select(col("w1"), col("p"))
    for (k <- 2 to n) {
      val lv = levels(k - 1)
      b += s"p$k" -> lv.entries.filter(col("cnt") >= lit(minCount))
        .select(wcols(k).map(col) :+ col("p"): _*)
      b += s"lam$k" -> lv.ctx.filter(col("tot") >= lit(minCtx))
        .select((1 until k).map(i => col(s"w$i")) :+ col("lam"): _*)
    }
    b.result()
  }

  /** The generic order-n JVM-side scorer ([[KnLmModel]] at any order,
    * any pruning): `levels(k-1)` maps a kept k-gram (last-k-words key) to
    * its Q30 p; `lams(k-2)` maps a stored level-k context to its λ.
    * The ladder is the ARPA walk: stored entry → λ(context)·lower when
    * the context is stored → lower directly — recursively to the
    * unigram floor. Scoring the training corpus from an UNPRUNED
    * artifact always hits the top entry (row-exact vs batch q104b);
    * from a PRUNED artifact it reproduces the batch `peff` ladder
    * bit-for-bit (spec-pinned on pruned-away entries).
    */
  case class KnLmModelN(n: Int,
                        levels: IndexedSeq[Map[Seq[String], Long]],
                        lams: IndexedSeq[Map[Seq[String], Long]]) {
    require(n >= 2 && levels.size == n && lams.size == n - 1,
      "order-n KN model needs n entry maps and n-1 context maps")
    require(levels.head.nonEmpty, "frozen KN model must carry unigram continuations")

    /** Effective Q30 probability of the last-k-words key. */
    def prob(k: Int, words: Seq[String]): Long =
      if (k == 1) levels(0).getOrElse(words, 1L) // OOV floor
      else levels(k - 1).getOrElse(words, {
        val lower = prob(k - 1, words.drop(1))
        lams(k - 2).get(words.dropRight(1)) match {
          case Some(l) => math.max((l * lower) / Q30, 1L)
          case None => lower
        }
      })

    def nll(words: Seq[String]): Long = {
      require(words.length == n, s"order-$n model scores $n-grams")
      NllCeilQ16 - graft.functions.Log2Q16Expr.compute(prob(n, words))
    }

    /** Score one document (order-n): (n_ngrams,
      * nll_sum, ppl) with the batch <n-token degradation.
      */
    def score(toks: Array[String]): (Long, Long, Option[Long]) =
      if (toks.length < n) (0L, 0L, None)
      else {
        var s = 0L; var i = 0
        while (i <= toks.length - n) { s += nll(toks.slice(i, i + n).toSeq); i += 1 }
        val m = (toks.length - n + 1).toLong
        (m, s, Some(s / m))
      }
  }

  /** The q104b oracle, generated for any order: type CTEs L_n..L_1 by
    * suffix marginalization, per-order context totals, the `//` Q30
    * ladder, the shared recursive log2, the scoring join.
    */
  def knPerplexityNOracleSql(n: Int = 5): String = {
    val ws = (i: Int, j: Int) => (i to j).map(x => s"w$x").mkString(", ")
    val typeCtes = (n - 1 to 1 by -1).map { k =>
      val ren = (2 to k + 1).map(i => s"w$i AS w${i - 1}").mkString(", ")
      s"""l$k AS MATERIALIZED (
         |  SELECT ${ws(1, k)}, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT $ren FROM l${k + 1}) t GROUP BY ${(1 to k).map(_.toString).mkString(", ")})""".stripMargin
    }.mkString(",\n")
    val ladder = (2 to n).map { k =>
      val shift = n - k
      val aligned = (1 to k).map(i => s"w$i AS w${i + shift}").mkString(", ")
      val ctxCols = (shift + 1 until n).map(x => s"w$x")
      val lowKey = (shift + 2 to n).map(x => s"w$x")
      val lowP = if (k == 2) "p1" else s"p${k - 1}"
      s"""a$k AS (SELECT $aligned, cnt FROM l$k),
         |c$k AS (SELECT ${ctxCols.mkString(", ")}, CAST(sum(cnt) AS BIGINT) AS tot,
         |               CAST(count(*) AS BIGINT) AS n1t
         |        FROM a$k GROUP BY ${(1 to ctxCols.size).map(_.toString).mkString(", ")}),
         |p$k AS MATERIALIZED (
         |  SELECT ${(shift + 1 to n).map(i => s"a$k.w$i").mkString(", ")},
         |         ((4*a$k.cnt - 3) * $Q30) // (4*c$k.tot)
         |         + ((((3*c$k.n1t) * $Q30) // (4*c$k.tot)) * $lowP.p) // $Q30 AS p
         |  FROM a$k
         |  JOIN c$k ON ${ctxCols.map(x => s"c$k.$x = a$k.$x").mkString(" AND ")}
         |  JOIN $lowP ON ${lowKey.map(x => s"$lowP.$x = a$k.$x").mkString(" AND ")})""".stripMargin
    }.mkString(",\n")
    val gramFields = (0 until n).map(i => s"toks[i+$i] AS w${i + 1}").mkString(", ")
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, list_filter(
       |           regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+'),
       |           t -> length(t) > 0) AS toks
       |  FROM documents),
       |tg AS MATERIALIZED (
       |  SELECT doc_id, $gramFields
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - ${n - 2})) AS i
       |        FROM toks WHERE len(toks) >= $n) x),
       |l$n AS MATERIALIZED (
       |  SELECT ${ws(1, n)}, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT ${(0 until n).map(i => s"toks[i+$i] AS w${i + 1}").mkString(", ")}
       |        FROM (SELECT toks, unnest(range(1, len(toks) - ${n - 2})) AS i
       |              FROM toks WHERE len(toks) >= $n) y) t
       |  GROUP BY ${(1 to n).map(_.toString).mkString(", ")}),
       |$typeCtes,
       |tot1 AS (SELECT greatest(CAST(sum(cnt) AS BIGINT), 1) AS t FROM l1),
       |p1 AS (SELECT w1 AS w$n, (cnt * $Q30) // (SELECT t FROM tot1) AS p FROM l1),
       |$ladder,
       |vals AS (SELECT DISTINCT p AS x FROM p$n),
       |s(x, z, r, i) AS (
       |  SELECT x, (x * 65536) // (1::BIGINT << (length(bin(x)) - 1)),
       |         CAST(length(bin(x)) - 1 AS BIGINT) * 65536, 0
       |  FROM vals
       |  UNION ALL
       |  SELECT x,
       |         CASE WHEN (z*z) // 65536 >= 131072
       |              THEN ((z*z) // 65536) // 2 ELSE (z*z) // 65536 END,
       |         CASE WHEN (z*z) // 65536 >= 131072
       |              THEN r + (1::BIGINT << (16 - (i + 1))) ELSE r END,
       |         i + 1
       |  FROM s WHERE i < 16),
       |il AS MATERIALIZED (SELECT x, r FROM s WHERE i = 16),
       |model AS MATERIALIZED (
       |  SELECT ${(1 to n).map(i => s"p$n.w$i").mkString(", ")}, $NllCeilQ16 - il.r AS nll
       |  FROM p$n JOIN il ON il.x = p$n.p),
       |scored AS (
       |  SELECT tg.doc_id, count(*) AS n_ngrams, sum(m.nll) AS nll_sum
       |  FROM tg JOIN model m ON ${(1 to n).map(i => s"m.w$i = tg.w$i").mkString(" AND ")}
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(COALESCE(sc.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       |       CAST(COALESCE(sc.nll_sum, 0) AS BIGINT) AS nll_q16,
       |       CAST(sc.nll_sum // sc.n_ngrams AS BIGINT) AS ppl_q16
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN scored sc USING (doc_id)""".stripMargin
  }

  /** The q104c oracle, generated for any (order, minCount, minCtx):
    * the q104b type-CTE chain with levels keyed canonically w1..wk and
    * a `peff` column replaying the pruned-model ladder — the prune
    * thresholds live INSIDE the CTE chain (the verdict's ask), so the
    * hash compare pins exactly which entries a deployed scorer keeps.
    */
  def knPerplexityNPrunedOracleSql(n: Int, minCount: Long, minCtx: Long): String = {
    val ws = (i: Int, j: Int) => (i to j).map(x => s"w$x").mkString(", ")
    val typeCtes = (n - 1 to 1 by -1).map { k =>
      val ren = (2 to k + 1).map(i => s"w$i AS w${i - 1}").mkString(", ")
      s"""l$k AS MATERIALIZED (
         |  SELECT ${ws(1, k)}, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT $ren FROM l${k + 1}) t GROUP BY ${(1 to k).map(_.toString).mkString(", ")})""".stripMargin
    }.mkString(",\n")
    val ladder = (2 to n).map { k =>
      val ctxCols = (1 until k).map(x => s"w$x")
      val lam = s"(((3*c$k.n1t) * $Q30) // (4*c$k.tot))"
      val pExact = s"((4*e.cnt - 3) * $Q30) // (4*c$k.tot) + ($lam * low.p) // $Q30"
      s"""c$k AS (SELECT ${ctxCols.mkString(", ")}, CAST(sum(cnt) AS BIGINT) AS tot,
         |               CAST(count(*) AS BIGINT) AS n1t
         |        FROM l$k GROUP BY ${(1 to ctxCols.size).map(_.toString).mkString(", ")}),
         |p$k AS MATERIALIZED (
         |  SELECT ${(1 to k).map(i => s"e.w$i").mkString(", ")}, e.cnt,
         |         $pExact AS p,
         |         CASE WHEN e.cnt >= $minCount THEN $pExact
         |              WHEN c$k.tot >= $minCtx
         |                THEN greatest(($lam * low.peff) // $Q30, 1)
         |              ELSE low.peff END AS peff
         |  FROM l$k e
         |  JOIN c$k ON ${ctxCols.map(x => s"c$k.$x = e.$x").mkString(" AND ")}
         |  JOIN p${k - 1} low ON ${(1 until k).map(i => s"low.w$i = e.w${i + 1}").mkString(" AND ")})""".stripMargin
    }.mkString(",\n")
    val gramFields = (0 until n).map(i => s"toks[i+$i] AS w${i + 1}").mkString(", ")
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, list_filter(
       |           regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+'),
       |           t -> length(t) > 0) AS toks
       |  FROM documents),
       |tg AS MATERIALIZED (
       |  SELECT doc_id, $gramFields
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - ${n - 2})) AS i
       |        FROM toks WHERE len(toks) >= $n) x),
       |l$n AS MATERIALIZED (
       |  SELECT ${ws(1, n)}, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT ${(0 until n).map(i => s"toks[i+$i] AS w${i + 1}").mkString(", ")}
       |        FROM (SELECT toks, unnest(range(1, len(toks) - ${n - 2})) AS i
       |              FROM toks WHERE len(toks) >= $n) y) t
       |  GROUP BY ${(1 to n).map(_.toString).mkString(", ")}),
       |$typeCtes,
       |tot1 AS (SELECT greatest(CAST(sum(cnt) AS BIGINT), 1) AS t FROM l1),
       |p1 AS (SELECT w1, (cnt * $Q30) // (SELECT t FROM tot1) AS p,
       |              (cnt * $Q30) // (SELECT t FROM tot1) AS peff FROM l1),
       |$ladder,
       |vals AS (SELECT DISTINCT peff AS x FROM p$n),
       |s(x, z, r, i) AS (
       |  SELECT x, (x * 65536) // (1::BIGINT << (length(bin(x)) - 1)),
       |         CAST(length(bin(x)) - 1 AS BIGINT) * 65536, 0
       |  FROM vals
       |  UNION ALL
       |  SELECT x,
       |         CASE WHEN (z*z) // 65536 >= 131072
       |              THEN ((z*z) // 65536) // 2 ELSE (z*z) // 65536 END,
       |         CASE WHEN (z*z) // 65536 >= 131072
       |              THEN r + (1::BIGINT << (16 - (i + 1))) ELSE r END,
       |         i + 1
       |  FROM s WHERE i < 16),
       |il AS MATERIALIZED (SELECT x, r FROM s WHERE i = 16),
       |model AS MATERIALIZED (
       |  SELECT ${(1 to n).map(i => s"p$n.w$i").mkString(", ")}, $NllCeilQ16 - il.r AS nll
       |  FROM p$n JOIN il ON il.x = p$n.peff),
       |scored AS (
       |  SELECT tg.doc_id, count(*) AS n_ngrams, sum(m.nll) AS nll_sum
       |  FROM tg JOIN model m ON ${(1 to n).map(i => s"m.w$i = tg.w$i").mkString(" AND ")}
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(COALESCE(sc.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       |       CAST(COALESCE(sc.nll_sum, 0) AS BIGINT) AS nll_q16,
       |       CAST(sc.nll_sum // sc.n_ngrams AS BIGINT) AS ppl_q16
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN scored sc USING (doc_id)""".stripMargin
  }

  /** q104 oracle: the count/probability chain in integer `//`
    * arithmetic + the shared 16-step recursive log2 replay (the q61
    * CTE program one order up). Sums CAST to BIGINT — DuckDB widens
    * sum() to HUGEINT, and the model joins must key on int64 values.
    */
  def knPerplexityOracleSql: String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, list_filter(
       |           regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+'),
       |           t -> length(t) > 0) AS toks
       |  FROM documents),
       |tg AS MATERIALIZED (
       |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
       |        FROM toks WHERE len(toks) >= 3) x),
       |tgc AS MATERIALIZED (
       |  SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3 FROM tg GROUP BY 1, 2, 3),
       |ctx AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c12,
       |               CAST(count(*) AS BIGINT) AS n3 FROM tgc GROUP BY 1, 2),
       |ct AS MATERIALIZED (
       |  SELECT w2, w3, CAST(count(*) AS BIGINT) AS n1c FROM tgc GROUP BY 1, 2),
       |midc AS (SELECT w2, CAST(sum(n1c) AS BIGINT) AS n1pc,
       |                CAST(count(*) AS BIGINT) AS n1t FROM ct GROUP BY 1),
       |uni AS (SELECT w3, CAST(count(*) AS BIGINT) AS n1u FROM ct GROUP BY 1),
       |nct AS (SELECT greatest(CAST(count(*) AS BIGINT), 1) AS n FROM ct),
       |p1 AS (SELECT w3, (n1u * ${Q30}) // (SELECT n FROM nct) AS p1 FROM uni),
       |p2 AS MATERIALIZED (
       |  SELECT ct.w2, ct.w3,
       |         ((4*ct.n1c - 3) * ${Q30}) // (4*m.n1pc)
       |         + ((((3*m.n1t) * ${Q30}) // (4*m.n1pc)) * p1.p1) // ${Q30} AS p2
       |  FROM ct JOIN midc m USING (w2) JOIN p1 USING (w3)),
       |p3 AS MATERIALIZED (
       |  SELECT t.w1, t.w2, t.w3,
       |         ((4*t.c3 - 3) * ${Q30}) // (4*c.c12)
       |         + ((((3*c.n3) * ${Q30}) // (4*c.c12)) * p2.p2) // ${Q30} AS p3
       |  FROM tgc t
       |  JOIN ctx c ON c.w1 = t.w1 AND c.w2 = t.w2
       |  JOIN p2 ON p2.w2 = t.w2 AND p2.w3 = t.w3),
       |vals AS (SELECT DISTINCT p3 AS x FROM p3),
       |s(x, z, r, i) AS (
       |  SELECT x, (x * 65536) // (1::BIGINT << (length(bin(x)) - 1)),
       |         CAST(length(bin(x)) - 1 AS BIGINT) * 65536, 0
       |  FROM vals
       |  UNION ALL
       |  SELECT x,
       |         CASE WHEN (z*z) // 65536 >= 131072
       |              THEN ((z*z) // 65536) // 2 ELSE (z*z) // 65536 END,
       |         CASE WHEN (z*z) // 65536 >= 131072
       |              THEN r + (1::BIGINT << (16 - (i + 1))) ELSE r END,
       |         i + 1
       |  FROM s WHERE i < 16),
       |il AS MATERIALIZED (SELECT x, r FROM s WHERE i = 16),
       |model AS MATERIALIZED (
       |  SELECT p3.w1, p3.w2, p3.w3, $NllCeilQ16 - il.r AS nll
       |  FROM p3 JOIN il ON il.x = p3.p3),
       |scored AS (
       |  SELECT tg.doc_id, count(*) AS n_trigrams, sum(m.nll) AS nll_sum
       |  FROM tg JOIN model m ON m.w1 = tg.w1 AND m.w2 = tg.w2 AND m.w3 = tg.w3
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(COALESCE(sc.n_trigrams, 0) AS BIGINT) AS n_trigrams,
       |       CAST(COALESCE(sc.nll_sum, 0) AS BIGINT) AS nll_q16,
       |       CAST(sc.nll_sum // sc.n_trigrams AS BIGINT) AS ppl_q16
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN scored sc USING (doc_id)""".stripMargin
}
