package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q99: HYBRID RETRIEVAL with Reciprocal Rank Fusion — the two-leg
  * search every modern RAG / curriculum-mining stack runs (Cormack,
  * Clarke & Büttcher, SIGIR 2009: RRF outperforms Condorcet and
  * per-list score normalization; the BM25+ANN hybrid is the shape
  * Elastic/Vespa/Weaviate all ship). One leg ranks lexically (the
  * q62 integer-BM25 kernel generalized from single-term to
  * MULTI-TERM queries), one leg ranks semantically (the q63 integer
  * squared-L2 over quantized embeddings), and the fusion is pure
  * rank arithmetic — which is exactly why RRF is the right oracle
  * citizen: scores from the two legs are never compared, only ranks,
  * so the whole operator stays in int64 and hash-compares (one
  * caveat: the pool selections pass the int64 score through
  * top_k_by's Double ordinal, exact only while |score| < 2⁵³ — see
  * the semantic-leg bound note in [[hybridRrf]]).
  *
  * Probe queries are nQueries documents drawn by the replayable
  * bottom-k-by-hash protocol (ReplayableHash index 250 over
  * poly_hash('q99:'||doc_id) — the q46/q74 sampling idiom), gated to
  * docs that have BOTH tokens and an embedding (doc_id ≡ vec_id in
  * the corpus contract, Models.Document/Embedding). The draw is a
  * sort-limit (TakeOrdered — a bounded per-partition heap, never a
  * global sort), and the nQueries winners collect to the driver (the
  * trainCodebook bounded-collect protocol: Q rows, Q·dim longs) so
  * both legs consume them as broadcast literals — no join key
  * gymnastics, no nested-loop plan.
  *
  * Each leg retrieves a poolR-deep list:
  *  - LEXICAL: the probe's mTerms highest tf·idf_q16 tokens (ties
  *    token ASC) form the query; candidates come off the inverted
  *    (token, doc_id, tf) index by equi-join on those terms only —
  *    Σ df(term) rows, never the corpus; per-candidate score is the
  *    q62 Lucene-BM25 Q16 formula SUMMED over matched terms (the
  *    multi-term generalization q62 itself doesn't exercise);
  *    self-matches drop; top poolR by (score DESC, doc_id ASC).
  *  - SEMANTIC: integer d2 between each probe vector (a typedLit,
  *    shipped in the task binary like q63's centroid array) and
  *    every other vector — one pure map + explode over the vector
  *    table, Q·N distance rows, LINEAR in the corpus for bounded
  *    nQueries; a corpus-scale-Q deployment swaps in the q63 IVF
  *    candidate generator through the same ranking contract.
  *    Quantization floor(v·2²⁰+0.5) — q60's additive 2²⁰ offset
  *    cancels in differences and is omitted. Top poolR by (d2 ASC,
  *    vec_id ASC).
  *
  * FUSION: rrf_e6 = Σ_legs floor(10⁶ / (rrfK + rank)) over the legs
  * that retrieved the doc (absent leg contributes 0 — the original
  * RRF definition over retrieved lists). The 10⁶ scaling replaces
  * the paper's 1/(k+r) rational with an exact integer both engines
  * truncate identically; ranking by the scaled sum matches ranking
  * by the rational sum whenever distinct rational sums differ by
  * more than 2·10⁻⁶ — true throughout poolR, rrfK ranges like these
  * (HybridSpec pins the equivalence on the registered instance).
  * Final: top topK per query by (rrf_e6 DESC, doc_id ASC).
  *
  * Scale shape: one corpus tokenize→tf aggregation (shared with
  * q62's index build), probe-term selection on a PROBE-BOUNDED frame
  * (nQueries docs' vocab — the only windows sit on probe-bounded or
  * ≤2·poolR-per-query frames), the candidate join driven by a
  * BROADCAST of nQueries·mTerms query terms, both pool selections as
  * TopKBy bounded partial aggregates (no window over a posting
  * list). No corpus window, no cartesian, no BNLJ.
  *
  * Output: (query_id, rank, doc_id, rrf_e6, lex_rank, sem_rank) —
  * leg ranks NULL where the doc was retrieved by the other leg only.
  *
  * Reference framing: the reference (nbuesing/kafka-streams-
  * repartition) has no retrieval surface; this extends the engine's
  * LLM-pipeline family (SURVEY §2) where q62/q63/q94 already live.
  */
object Hybrid {
  /** ReplayableHash index reserved for the q99 probe draw. */
  final val ProbeHashIdx = 250

  /** Shared q99 derivation: corpus frames, scalars, and the collected
    * probe rows [[hybridRrf]] scores against.
    */
  private case class Prep(ta: DataFrame, qv: DataFrame, tf: DataFrame,
                          dl: DataFrame, dfv: DataFrame,
                          nDocs: Long, aTok: Long,
                          probeRows: Array[(Long, Seq[Long])])

  private def prep(documents: DataFrame, embeddings: DataFrame,
                   nQueries: Int): Prep = {
    import graft.functions.{VectorFunctions => VF}
    val P = graft.functions.ReplayableHash.P
    val ha = graft.functions.ReplayableHash.a(ProbeHashIdx)
    val hb = graft.functions.ReplayableHash.b(ProbeHashIdx)
    val ta = TextOps.tokArrays(documents)
    val qv = embeddings.select(col("vec_id"),
      expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT))")
        .as("q"))
    // probe draw: bottom nQueries by (hash, doc_id); bounded collect
    // of (qid, quantized vector) — Q rows
    val probeRows: Array[(Long, Seq[Long])] = ta
      .filter(col("toks").isNotNull && size(col("toks")) > 0)
      .join(qv, col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("qid"), col("q"),
        ((lit(ha) * VF.poly_hash(concat(lit("q99:"), col("doc_id").cast("string")))
          + lit(hb)) % lit(P)).as("h"))
      .orderBy(col("h"), col("qid")).limit(nQueries)
      .select(col("qid"), col("q")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    val tok = ta.select(col("doc_id"), explode(col("toks")).as("token"))
    val tf = tok.groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val dl = ta.filter(col("toks").isNotNull)
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    // both corpus scalars in ONE pass over the token frame (r13
    // verdict nit: documents.count() + a separate sum(dl) action paid
    // two redundant columnar scans): tokArrays is a row-preserving
    // projection, so count(ta) == count(documents), and the null-toks
    // guard reproduces dl's isNotNull filter inside the sum.
    val statsRow = ta.agg(count(lit(1)).as("n"),
      coalesce(sum(when(col("toks").isNotNull,
        size(col("toks")).cast("long"))), lit(0L)).as("a")).collect()(0)
    val nDocs: Long = statsRow.getLong(0)
    val aTok: Long = math.max(statsRow.getLong(1), 1L)
    val dfv = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    Prep(ta, qv, tf, dl, dfv, nDocs, aTok, probeRows)
  }

  /** The (qid, token, idf_q16) probe-term frame: the probes' own
    * postings (nQueries docs × their vocab — probe-bounded) weighted
    * tf·idf_q16, top mTerms per probe (ties token ASC); the window
    * partitions qid over that bounded frame only.
    */
  private def qtermFrame(p: Prep, mTerms: Int): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    val probeIds: Seq[Long] = p.probeRows.map(_._1).toSeq
    p.tf.filter(col("doc_id").isin(probeIds: _*))
      .join(p.dfv, Seq("token"))
      .select(col("doc_id").as("qid"), col("token"), col("tf"),
        (VF.log2_q16(lit(2 * p.nDocs + 2)) - VF.log2_q16(col("df") * 2 + 1))
          .as("idf_q16"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy((col("tf") * col("idf_q16")).desc, col("token").asc)))
      .filter(col("rn") <= mTerms)
      .select(col("qid"), col("token"), col("idf_q16"))
  }

  def hybridRrf(documents: DataFrame, embeddings: DataFrame,
                nQueries: Int = 8, mTerms: Int = 8, poolR: Int = 20,
                topK: Int = 10, rrfK: Int = 60): DataFrame = {
    require(nQueries > 0 && mTerms > 0 && poolR > 0 && topK > 0 && rrfK > 0,
      "q99 parameters must be positive")
    import graft.functions.{VectorFunctions => VF, TopKByFunctions => TK}
    val spark = documents.sparkSession
    val p = prep(documents, embeddings, nQueries)
    val probeRows = p.probeRows

    val outSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "query_id BIGINT, rank BIGINT, doc_id BIGINT, rrf_e6 BIGINT, " +
        "lex_rank BIGINT, sem_rank BIGINT")
    if (probeRows.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)

    val tf = p.tf; val dl = p.dl
    val nDocs = p.nDocs; val aTok = p.aTok
    val qv = p.qv

    // ---- lexical leg -------------------------------------------------
    val qterms = qtermFrame(p, mTerms)

    // candidates: Σ df(term) rows off the inverted index, scored by
    // the q62 formula per term and SUMMED per (qid, doc_id)
    val lexPool = tf.join(broadcast(qterms), Seq("token"))
      .join(dl, Seq("doc_id"))
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"),
        expr(s"(idf_q16 * tf * 22000L) div (tf * 10000L + 3000L + " +
          s"(dl * ${9000L * nDocs}L) div ${aTok}L)").as("score_q16"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("score_q16")).as("score"))
      .groupBy(col("qid"))
      .agg(TK.top_k_by(col("score").cast("double"), col("doc_id"), poolR).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("lex_rank"))

    // ---- semantic leg: Q distance structs per vector row (a pure
    // map — the probe vectors ride the task binary as literals, the
    // q63 centroid protocol), exploded then top-k'd per probe.
    // EXACTNESS BOUND on the double ordinal below (r13 ADVICE): the
    // int64 d2 is exact in top_k_by's Double ordinal only while
    // |d2| < 2⁵³ — i.e. dim · (Δ·2²⁰)² < 2⁵³, components within
    // |v| ≤ Δ/2 of each other. At the registered instance (dim 64,
    // |v| ≤ 1 ⇒ Δ ≤ 2) d2 ≤ 64·2⁴² = 2⁴⁸; the bound first binds at
    // dim·Δ² ≥ 2¹³ (e.g. 8192-dim unit vectors, or |v| ≈ 11 at
    // dim 64). Past it, distinct Longs collapse in the ordinal and
    // ranking can silently diverge from the pure-int64 oracle — the
    // q63 contract documents the same bound for its TopKBy ord.
    val dcols = probeRows.map { case (qid, vec) =>
      struct(lit(qid).as("qid"),
        VF.l2_dist(col("q"), typedLit(vec)).as("d2"))
    }
    val semPool = qv
      .select(col("vec_id"), explode(array(dcols.toSeq: _*)).as("p"))
      .select(col("vec_id"), col("p.qid").as("qid"), col("p.d2").as("d2"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"))
      .agg(TK.top_k_by((-col("d2")).cast("double"), col("vec_id"), poolR).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("sem_rank"))

    // ---- fusion: ≤ 2·poolR rows per query — window-safe by bound
    val M = 1000000L
    lexPool.join(semPool, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(expr(s"${M}L div (${rrfK}L + lex_rank)"), lit(0L)) +
          coalesce(expr(s"${M}L div (${rrfK}L + sem_rank)"), lit(0L))).as("rrf_e6"),
        col("lex_rank"), col("sem_rank"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("rrf_e6").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qid").as("query_id"), col("rank"), col("doc_id"),
        col("rrf_e6"), col("lex_rank"), col("sem_rank"))
  }
}
