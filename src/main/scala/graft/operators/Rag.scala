package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q102: the RAG INDEXING + RETRIEVAL CHAIN — the composed pipeline a
  * retrieval deployment actually runs (the r13 verdict's task #3: the
  * retrieval counterpart of q53's curation chain; every kernel already
  * exists, this registers the COMPOSITION under one chain oracle):
  *
  *   1. normalize (q75): unicode canonicalization BEFORE chunking —
  *      window boundaries must not depend on encoding variants;
  *   2. chunk (q85): sliding `window`-token passages at `stride`
  *      (overlap keeps boundary-straddling answers inside at least one
  *      passage — the DPR recipe, Karpukhin et al. 2020 §3.1);
  *   3. index (q62 structures at PASSAGE granularity): inverted
  *      (token, passage, tf) postings, passage lengths, passage-level
  *      document frequencies — BM25's collection statistics over the
  *      passage collection, the granularity retrieval actually scores;
  *   4. retrieve (q99): probes drawn by the replayable bottom-k-by-hash
  *      protocol (ReplayableHash index 251, salt 'q102:'); the LEXICAL
  *      leg scores passages (q62 integer BM25 summed over the probe's
  *      top `mTerms` doc terms, idf from passage df), then DEDUPES TO
  *      DOC LEVEL — each candidate doc is represented by its best
  *      passage (score DESC, chunk_id ASC), so one long document can
  *      never flood the pool with near-identical windows; the SEMANTIC
  *      leg is q99's doc-vector integer d2 verbatim; integer RRF fuses
  *      the two DOC rankings.
  *
  * SELF-EXCLUSION: every passage of the probe's own document is
  * excluded from its lexical candidates, and its own vector from the
  * semantic leg (the q99 rule lifted to passage granularity) — a
  * retrieval eval that lets the query document answer itself measures
  * nothing.
  *
  * Output: (query_id, rank, doc_id, passage_id, rrf_e6, lex_rank,
  * sem_rank) — passage_id is the best lexical passage's chunk_id (the
  * ATTRIBUTION a RAG answer cites), NULL when the doc was retrieved by
  * the semantic leg only (doc-vector retrieval has no passage opinion).
  *
  * Scale shape (the q99 argument, one level down): one corpus
  * normalize+chunk pass (stateless narrow, zero exchanges), one
  * passage tokenize→tf aggregate, candidates driven by a BROADCAST of
  * nQueries·mTerms terms against the passage postings (Σ df rows, never
  * the collection), per-doc dedup as a hash aggregate (no window over
  * postings), pools as bounded aggregates, fusion on ≤2·poolR rows per
  * query. No corpus window, no cartesian, no BNLJ. All arithmetic
  * int64 (the q99 |score| < 2⁵³ ordinal bound applies unchanged).
  *
  * Reference framing: the reference's topology is itself a composed
  * chain (Streams.java:99-169 — rekey → join → explode → enrich →
  * reassemble); this is that composition for the engine's retrieval
  * family (q62/q63/q85/q99).
  */
object Rag {
  /** ReplayableHash index reserved for the q102 probe draw. */
  final val ProbeHashIdx = 251

  /** The q75 canonicalization applied before chunking. */
  private def normalized(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), TextOps.normalizeCol(col("text")).as("text"))

  /** Passage-level index frames: postings (token, doc_id, chunk_id,
    * tf), passage lengths, passage df, and the two collection scalars
    * (P passages, A total passage tokens) — one pass over the chunked
    * corpus.
    */
  private case class PassageIndex(ptf: DataFrame, pdl: DataFrame,
                                  pdf: DataFrame, nPass: Long, aTok: Long)

  private def passageIndex(passages: DataFrame): PassageIndex = {
    val ptoks = passages.select(col("doc_id"), col("chunk_id"),
      filter(split(lower(col("chunk")), "\\s+"), t => length(t) > 0).as("toks"))
    val tok = ptoks.select(col("doc_id"), col("chunk_id"),
      explode(col("toks")).as("token"))
    val ptf = tok.groupBy(col("token"), col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("tf"))
    // passage length DERIVED from the postings aggregate (r17, guide
    // §2.3 — one fewer full normalize+chunk+tokenize pass over the
    // corpus): Σ tf over a chunk's postings = its non-empty-token
    // count, and the scoring join is INNER against ptf-derived rows,
    // so a chunk with zero tokens (absent here, present in ptoks) can
    // never be probed — value-identical wherever pdl is read. The
    // collection scalars below keep counting tokenless chunks via
    // ptoks (the oracle's P counts them).
    val pdl = ptf.groupBy(col("doc_id"), col("chunk_id"))
      .agg(sum(col("tf")).as("pdl"))
    val stats = ptoks.agg(count(lit(1)).as("p"),
      coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("a")).collect()(0)
    val pdf = ptf.groupBy(col("token")).agg(count(lit(1)).as("pdf"))
    PassageIndex(ptf, pdl, pdf, stats.getLong(0), math.max(stats.getLong(1), 1L))
  }

  /** LEXICAL passage retrieval with EXPLICIT queries — the spec's
    * entry for the boundary-retrievability contract (the registered
    * chain draws its probes by hash; planting a query requires naming
    * it). `queries`: query_id → terms (lowered). Output: (query_id,
    * lex_rank, doc_id, passage_id, score_q16) — docs deduped to their
    * best passage, `excludeDoc` dropping the self doc when the query
    * is a document.
    */
  def ragLexical(documents: DataFrame, queries: Seq[(Long, Seq[String])],
                 window: Int = 64, stride: Int = 32, poolR: Int = 20,
                 excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    require(queries.nonEmpty, "need at least one query")
    val spark = documents.sparkSession
    import spark.implicits._
    val passages = TextOps.chunkPassages(normalized(documents), window, stride)
    val idx = passageIndex(passages)
    val qt = queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
      .toDF("qid", "token")
    val qterms = qt.join(idx.pdf, Seq("token"))
      .select(col("qid"), col("token"),
        (VF.log2_q16(lit(2 * idx.nPass + 2)) - VF.log2_q16(col("pdf") * 2 + 1))
          .as("idf_q16"))
    scoreAndDedup(idx, broadcast(qterms), poolR, excludeSelf)
  }

  /** Shared lexical scoring: postings × broadcast query terms → q62
    * integer BM25 per passage → per-doc best passage → bounded doc
    * pool. The per-(qid, doc) dedup is a hash aggregate over a
    * struct-max (score DESC, chunk ASC — the negated-chunk trick), and
    * the pool is a TopKBy partial aggregate re-joined at pool size for
    * the passage attribution: no window ever touches the postings.
    */
  private def scoreAndDedup(idx: PassageIndex, qterms: DataFrame,
                            poolR: Int, excludeSelf: Boolean): DataFrame = {
    import graft.functions.{TopKByFunctions => TK}
    val scored0 = idx.ptf.join(qterms, Seq("token"))
      .join(idx.pdl, Seq("doc_id", "chunk_id"))
    val scored = (if (excludeSelf) scored0.filter(col("doc_id") =!= col("qid"))
                  else scored0)
      .select(col("qid"), col("doc_id"), col("chunk_id"),
        expr(s"(idf_q16 * tf * 22000L) div (tf * 10000L + 3000L + " +
          s"(pdl * ${9000L * idx.nPass}L) div ${idx.aTok}L)").as("s_q16"))
      .groupBy(col("qid"), col("doc_id"), col("chunk_id"))
      .agg(sum(col("s_q16")).as("score"))
    val docBest = scored.groupBy(col("qid"), col("doc_id"))
      .agg(max(struct(col("score"), (-col("chunk_id")).as("nc"))).as("m"))
      .select(col("qid"), col("doc_id"), col("m.score").as("score"),
        (-col("m.nc")).as("passage_id"))
    val pool = docBest.groupBy(col("qid"))
      .agg(TK.top_k_by(col("score").cast("double"), col("doc_id"), poolR).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("lex_rank"))
    pool.join(docBest, Seq("qid", "doc_id")) // pool-sized re-join for attribution
      .select(col("qid").as("query_id"), col("lex_rank"), col("doc_id"),
        col("passage_id"), col("score").as("score_q16"))
  }

  /** The index+probe preparation [[ragSearch]] runs: probe draw,
    * passage index, probe query terms.
    */
  private case class RagPrep(probes: Array[(Long, Seq[Long])],
                             idx: PassageIndex, qterms: DataFrame, qv: DataFrame)

  private def ragPrep(documents: DataFrame, embeddings: DataFrame,
                      window: Int, stride: Int,
                      nQueries: Int, mTerms: Int): RagPrep = {
    import graft.functions.{VectorFunctions => VF}
    val P = graft.functions.ReplayableHash.P
    val ha = graft.functions.ReplayableHash.a(ProbeHashIdx)
    val hb = graft.functions.ReplayableHash.b(ProbeHashIdx)

    val corpus = normalized(documents)
    val ta = TextOps.tokArrays(corpus)
    val qv = embeddings.select(col("vec_id"),
      expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT))")
        .as("q"))

    // probe draw: the q99 protocol under the q102 salt/index
    val probeRows: Array[(Long, Seq[Long])] = ta
      .filter(col("toks").isNotNull && size(col("toks")) > 0)
      .join(qv, col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("qid"), col("q"),
        ((lit(ha) * VF.poly_hash(concat(lit("q102:"), col("doc_id").cast("string")))
          + lit(hb)) % lit(P)).as("h"))
      .orderBy(col("h"), col("qid")).limit(nQueries)
      .select(col("qid"), col("q")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    if (probeRows.isEmpty)
      return RagPrep(probeRows, PassageIndex(null, null, null, 0L, 1L), null, qv)
    val probeIds: Seq[Long] = probeRows.map(_._1).toSeq

    // ---- the chain: chunk → passage index -----------------------------
    val passages = TextOps.chunkPassages(corpus, window, stride)
    val idx = passageIndex(passages)

    // probe query terms: the probe DOC's tokens weighted tf·idf, idf
    // over the PASSAGE collection (the granularity being scored); the
    // window sits on a probe-bounded frame only
    val dtf = ta.filter(col("doc_id").isin(probeIds: _*))
      .select(col("doc_id").as("qid"), explode(col("toks")).as("token"))
      .groupBy(col("qid"), col("token")).agg(count(lit(1)).as("tf"))
    val qterms = dtf.join(idx.pdf, Seq("token"))
      .select(col("qid"), col("token"), col("tf"),
        (VF.log2_q16(lit(2 * idx.nPass + 2)) - VF.log2_q16(col("pdf") * 2 + 1))
          .as("idf_q16"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy((col("tf") * col("idf_q16")).desc, col("token").asc)))
      .filter(col("rn") <= mTerms)
      .select(col("qid"), col("token"), col("idf_q16"))
    RagPrep(probeRows, idx, qterms, qv)
  }

  def ragSearch(documents: DataFrame, embeddings: DataFrame,
                window: Int = 64, stride: Int = 32,
                nQueries: Int = 8, mTerms: Int = 8, poolR: Int = 20,
                topK: Int = 10, rrfK: Int = 60): DataFrame = {
    require(nQueries > 0 && mTerms > 0 && poolR > 0 && topK > 0 && rrfK > 0,
      "q102 parameters must be positive")
    import graft.functions.{VectorFunctions => VF, TopKByFunctions => TK}
    val spark = documents.sparkSession
    val prep = ragPrep(documents, embeddings, window, stride, nQueries, mTerms)
    val outSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "query_id BIGINT, rank BIGINT, doc_id BIGINT, passage_id BIGINT, " +
        "rrf_e6 BIGINT, lex_rank BIGINT, sem_rank BIGINT")
    if (prep.probes.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val probeRows = prep.probes
    val idx = prep.idx
    val qterms = prep.qterms
    val qv = prep.qv

    // ---- lexical leg: passages scored, docs deduped to best passage
    val lexPool = scoreAndDedup(idx, broadcast(qterms), poolR, excludeSelf = true)
      .select(col("query_id").as("qid"), col("doc_id"), col("passage_id"),
        col("lex_rank"))

    // ---- semantic leg: q99's doc-vector integer d2 verbatim
    val dcols = probeRows.map { case (qid, vec) =>
      struct(lit(qid).as("qid"), VF.l2_dist(col("q"), typedLit(vec)).as("d2"))
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

    // ---- fusion on ≤ 2·poolR rows per query
    val M = 1000000L
    lexPool.join(semPool, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"), col("passage_id"),
        (coalesce(expr(s"${M}L div (${rrfK}L + lex_rank)"), lit(0L)) +
          coalesce(expr(s"${M}L div (${rrfK}L + sem_rank)"), lit(0L))).as("rrf_e6"),
        col("lex_rank"), col("sem_rank"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("rrf_e6").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qid").as("query_id"), col("rank"), col("doc_id"),
        col("passage_id"), col("rrf_e6"), col("lex_rank"), col("sem_rank"))
  }

  /** The q102 chain oracle: normalize → chunk (the q85 CTEs) →
    * passage index → probe draw → passage BM25 → per-doc best passage
    * → doc pools → RRF — one CTE program over the parquet tables,
    * pinning the stage ORDER as well as each stage's semantics (the
    * q53 chain-oracle discipline).
    */
  def ragSearchOracleSql(window: Int = 64, stride: Int = 32,
                         nQueries: Int = 8, mTerms: Int = 8, poolR: Int = 20,
                         topK: Int = 10, rrfK: Int = 60): String = {
    val ha = graft.functions.ReplayableHash.a(ProbeHashIdx)
    val hb = graft.functions.ReplayableHash.b(ProbeHashIdx)
    val polyOf = (e: String) =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(range(1, length($e) + 1),
         |    i -> CAST(unicode(substring($e, CAST(i AS INT), 1)) AS BIGINT))),
         |  (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin
    s"""WITH RECURSIVE
       |corpus0 AS MATERIALIZED (SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(nfc_normalize(text),
       |      '[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}-\\x{009F}\\x{200B}-\\x{200D}\\x{FEFF}]', '', 'g'),
       |      '^\\s+|\\s+$$', '', 'g'), '\\s+', ' ', 'g') AS text
       |  FROM documents),
       |toks AS MATERIALIZED (
       |  SELECT doc_id, list_filter(
       |           regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+'),
       |           t -> length(t) > 0) AS toks
       |  FROM corpus0),
       |qv AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |probes AS MATERIALIZED (
       |  SELECT qid, q FROM (
       |    SELECT t.doc_id AS qid, e.q,
       |           (($ha * ${polyOf(s"'q102:' || CAST(t.doc_id AS VARCHAR)")}
       |             + $hb) % 2147483647) AS h
       |    FROM toks t JOIN qv e ON e.vec_id = t.doc_id
       |    WHERE len(t.toks) > 0
       |    ORDER BY h, t.doc_id LIMIT $nQueries)),
       |rawt AS (
       |  SELECT doc_id,
       |         regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS ws
       |  FROM corpus0 WHERE text IS NOT NULL),
       |pt AS MATERIALIZED (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_id,
       |         array_to_string(list_slice(ws, CAST((i - 1) * $stride + 1 AS INT),
       |                                    CAST((i - 1) * $stride + $window AS INT)), ' ') AS chunk
       |  FROM (SELECT doc_id, ws,
       |          unnest(range(1, 1 + (greatest(len(ws) - $window, 0) + ${stride - 1}) // $stride + 1)) AS i
       |        FROM rawt)),
       |ptoks AS MATERIALIZED (
       |  SELECT doc_id, chunk_id, list_filter(
       |           regexp_split_to_array(lower(chunk), '\\s+'), t -> length(t) > 0) AS toks
       |  FROM pt),
       |ptok AS (SELECT doc_id, chunk_id, unnest(toks) AS token FROM ptoks),
       |ptf AS MATERIALIZED (
       |  SELECT token, doc_id, chunk_id, count(*) AS tf FROM ptok GROUP BY 1, 2, 3),
       |pdl AS MATERIALIZED (
       |  SELECT doc_id, chunk_id, CAST(len(toks) AS BIGINT) AS pdl FROM ptoks),
       |pconsts AS MATERIALIZED (
       |  SELECT (SELECT count(*) FROM ptoks) AS p,
       |         greatest((SELECT count(*) FROM ptok), 1) AS a),
       |pdf AS MATERIALIZED (SELECT token, count(*) AS pdf FROM ptf GROUP BY 1),
       |dtf AS MATERIALIZED (
       |  SELECT p.qid, x.token, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS token FROM toks) x
       |  JOIN probes p ON x.doc_id = p.qid
       |  GROUP BY 1, 2),
       |pqt AS MATERIALIZED (
       |  SELECT d.qid, d.token, d.tf, pdf.pdf FROM dtf d JOIN pdf USING (token)),
       |vals AS (
       |  SELECT DISTINCT x FROM (
       |    SELECT 2 * (SELECT p FROM pconsts) + 2 AS x
       |    UNION SELECT 2 * pdf + 1 AS x FROM pqt) u),
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
       |qterms AS MATERIALIZED (
       |  SELECT qid, token, idf_q16 FROM (
       |    SELECT p.qid, p.token, iln.r - ild.r AS idf_q16,
       |           row_number() OVER (PARTITION BY p.qid
       |             ORDER BY p.tf * (iln.r - ild.r) DESC, p.token ASC) AS rn
       |    FROM pqt p
       |    JOIN il iln ON iln.x = 2 * (SELECT p FROM pconsts) + 2
       |    JOIN il ild ON ild.x = 2 * p.pdf + 1) z WHERE rn <= $mTerms),
       |lexsc AS MATERIALIZED (
       |  SELECT q.qid, ptf.doc_id, ptf.chunk_id,
       |         sum((q.idf_q16 * ptf.tf * 22000) //
       |             (ptf.tf * 10000 + 3000 +
       |              (pdl.pdl * 9000 * (SELECT p FROM pconsts)) // (SELECT a FROM pconsts))) AS score
       |  FROM ptf JOIN qterms q USING (token)
       |  JOIN pdl ON pdl.doc_id = ptf.doc_id AND pdl.chunk_id = ptf.chunk_id
       |  WHERE ptf.doc_id <> q.qid
       |  GROUP BY 1, 2, 3),
       |docbest AS MATERIALIZED (
       |  SELECT qid, doc_id, score, chunk_id AS passage_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid, doc_id
       |      ORDER BY score DESC, chunk_id ASC) AS rn FROM lexsc) z
       |  WHERE rn = 1),
       |lexrk AS MATERIALIZED (
       |  SELECT qid, doc_id, passage_id, CAST(lex_rank AS BIGINT) AS lex_rank FROM (
       |    SELECT qid, doc_id, passage_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY score DESC, doc_id ASC) AS lex_rank FROM docbest) z
       |  WHERE lex_rank <= $poolR),
       |semd AS MATERIALIZED (
       |  SELECT p.qid, v.vec_id AS doc_id,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(range(1, len(v.q) + 1),
       |             i -> (v.q[CAST(i AS INT)] - p.q[CAST(i AS INT)])
       |                * (v.q[CAST(i AS INT)] - p.q[CAST(i AS INT)]))),
       |           (acc, x) -> acc + x) AS d2
       |  FROM qv v CROSS JOIN probes p
       |  WHERE v.vec_id <> p.qid),
       |semrk AS MATERIALIZED (
       |  SELECT qid, doc_id, CAST(sem_rank AS BIGINT) AS sem_rank FROM (
       |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY d2 ASC, doc_id ASC) AS sem_rank FROM semd) z
       |  WHERE sem_rank <= $poolR),
       |fused AS MATERIALIZED (
       |  SELECT coalesce(l.qid, s2.qid) AS qid,
       |         coalesce(l.doc_id, s2.doc_id) AS doc_id,
       |         l.passage_id,
       |         coalesce(1000000 // ($rrfK + l.lex_rank), 0)
       |       + coalesce(1000000 // ($rrfK + s2.sem_rank), 0) AS rrf_e6,
       |         l.lex_rank, s2.sem_rank
       |  FROM lexrk l
       |  FULL OUTER JOIN semrk s2
       |    ON l.qid = s2.qid AND l.doc_id = s2.doc_id)
       |SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank, doc_id, passage_id,
       |       CAST(rrf_e6 AS BIGINT) AS rrf_e6, lex_rank, sem_rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid
       |        ORDER BY rrf_e6 DESC, doc_id ASC) AS rank FROM fused) f
       |WHERE rank <= $topK""".stripMargin
  }
}
