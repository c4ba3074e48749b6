package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** q69: DSIR — Data Selection via Importance Resampling (Xie et al.,
  * NeurIPS 2023, arXiv:2302.03169), the standard recipe for picking
  * pretraining data that "looks like" a target domain: score every
  * document by the log-likelihood RATIO of two hashed-bigram bag
  * models (target vs raw corpus) and keep the top-scoring slice.
  * Here the whole computation runs in the shared integer domain —
  * poly-hashed buckets (the q37 universal-hash discipline, fresh
  * index 216) and Q16 add-one-smoothed log probabilities through
  * Log2Q16Expr — so scores and the keep set are HASH-EXACT against a
  * DuckDB replay (the q61/q62 recursive-CTE log kernel), where the
  * paper's float n-gram models could only be recall-gated.
  */
object Dsir {

  /** Importance per doc: imp = Σ_b n_doc(b)·w_b with
    * w_b = [L(c_t(b)+1) − L(T+B)] − [L(c_r(b)+1) − L(R+B)] — the Q16
    * log-ratio of the smoothed target vs raw bucket probabilities.
    * keep = 1 for the top `keepTop` docs by (imp DESC, doc_id ASC).
    *
    * Scale shape: ONE corpus pass builds the (doc, bucket, n) counts
    * (narrow, checkpointed — reused by both model aggregates and the
    * scoring join); both models are B-sized aggregates off it; the
    * weight table (≤ B rows) BROADCASTS back for the per-doc Σ — no
    * corpus-sized join keys beyond doc_id, no window over the corpus
    * (keep is a bounded TakeOrdered + broadcast-back marker join).
    * |w| ≤ 2·L(R+B) ≈ 2²¹ at Q16 and per-doc Σ n ≤ doc length, so
    * imp stays far inside int64. The registered contract pins
    * targetLang="en", B=1024, keepTop=100.
    */
  def dsirSelect(documents: DataFrame, targetLang: String = "en",
                 buckets: Int = 1024, keepTop: Int = 100): DataFrame = {
    require(keepTop >= 1, "keepTop >= 1")
    val (docB, wt) = dsirModel(documents, targetLang, buckets)
    val scored = docB.join(broadcast(wt), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"), sum(col("n") * col("w")).as("imp_q16"))
    val full = documents.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("imp_q16"), lit(0L)).as("imp_q16"))
      .localCheckpoint(true)
    val kept = full.orderBy(col("imp_q16").desc, col("doc_id").asc).limit(keepTop)
      .select(col("doc_id"), lit(1L).as("k"))
    full.join(broadcast(kept), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"), col("imp_q16"),
        coalesce(col("k"), lit(0L)).as("keep"))
  }

  /** The shared q69 model build: the per-(doc, bucket) count frame
    * (narrow, checkpointed — reused by both model aggregates and the
    * scoring join) and the ≤B-row Q16 weight table.
    */
  private[operators] def dsirModel(documents: DataFrame, targetLang: String,
                                   buckets: Int): (DataFrame, DataFrame) = {
    require(buckets >= 2, "buckets >= 2")
    val P = graft.functions.ReplayableHash.P
    val ha = graft.functions.ReplayableHash.a(216)
    val hb = graft.functions.ReplayableHash.b(216)
    val L = graft.functions.VectorFunctions.log2_q16 _
    val toks = filter(split(lower(TextOps.wsTrim(col("text"))), "\\s+"),
      t => length(t) > 0)
    val bg = documents.select(col("doc_id"), col("lang"), toks.as("toks"))
      .select(col("doc_id"), col("lang"),
        // greatest(...,0): a token-less doc (blank text) must yield an
        // empty pair list, not a negative slice length
        explode(zip_with(
          slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a: Column, b: Column) => concat(a, lit(" "), b))).as("bgram"))
      .select(col("doc_id"), col("lang"),
        ((lit(ha) * graft.functions.VectorFunctions.poly_hash(col("bgram")) + lit(hb))
          % lit(P) % lit(buckets.toLong)).as("bucket"))
    val docB = bg.groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val cr = docB.groupBy(col("bucket")).agg(sum(col("n")).as("c_r"))
    val ct = docB.filter(col("lang") === targetLang)
      .groupBy(col("bucket")).agg(sum(col("n")).as("c_t"))
    val w0 = cr.join(ct, Seq("bucket"), "left")
      .select(col("bucket"), col("c_r"), coalesce(col("c_t"), lit(0L)).as("c_t"))
      .localCheckpoint(true)
    // the two corpus totals: one 1-row collect (the sizing-action class)
    val tot = w0.agg(sum(col("c_t")).as("t"), sum(col("c_r")).as("r")).collect()(0)
    val (tTot, rTot) = (Option(tot.get(0)).fold(0L)(_.asInstanceOf[Long]),
      Option(tot.get(1)).fold(0L)(_.asInstanceOf[Long]))
    val lT = graft.functions.Log2Q16Expr.compute(tTot + buckets)
    val lR = graft.functions.Log2Q16Expr.compute(rTot + buckets)
    val wt = w0.select(col("bucket"),
      (L(col("c_t") + lit(1L)) - lit(lT) - L(col("c_r") + lit(1L)) + lit(lR)).as("w"))
    (docB, wt)
  }

  /** The q69 oracle: bigram buckets via the q37 char-fold + index-216
    * universal hash, both bag models, the Q16 log-ratio through the
    * q61 16-step recursive log2 CTE, and keep as row_number ≤ M.
    */
  def dsirOracleSql(targetLang: String = "en", buckets: Int = 1024,
                    keepTop: Int = 100): String = {
    val P = graft.functions.ReplayableHash.P
    val ha = graft.functions.ReplayableHash.a(216)
    val hb = graft.functions.ReplayableHash.b(216)
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, lang, list_filter(
       |           regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+'),
       |           t -> length(t) > 0) AS toks
       |  FROM documents),
       |bgh AS (
       |  SELECT doc_id, lang,
       |         (($ha * (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(range(1, length(bgram)+1),
       |               i -> CAST(unicode(substring(bgram, CAST(i AS INT), 1)) AS BIGINT))),
       |             (h, c) -> (h * 31 + c) % 1000000007)) + $hb) % $P) % $buckets AS bucket
       |  FROM (
       |    SELECT doc_id, lang, toks[i] || ' ' || toks[i+1] AS bgram
       |    FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i FROM toks) x)),
       |docb AS (
       |  SELECT doc_id, lang, bucket, CAST(count(*) AS BIGINT) AS n
       |  FROM bgh GROUP BY 1, 2, 3),
       |cr AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS c_r FROM docb GROUP BY 1),
       |ct AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS c_t FROM docb
       |       WHERE lang = '$targetLang' GROUP BY 1),
       |w0 AS (SELECT cr.bucket, c_r, coalesce(c_t, 0) AS c_t
       |       FROM cr LEFT JOIN ct USING (bucket)),
       |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS t, CAST(sum(c_r) AS BIGINT) AS r FROM w0),
       |vals AS (
       |  SELECT DISTINCT x FROM (
       |    SELECT c_t + 1 AS x FROM w0
       |    UNION SELECT c_r + 1 FROM w0
       |    UNION SELECT t + $buckets FROM tot
       |    UNION SELECT r + $buckets FROM tot) u),
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
       |il AS (SELECT x, r FROM s WHERE i = 16),
       |wt AS (
       |  SELECT w0.bucket,
       |         (ilt.r - (SELECT il.r FROM il, tot WHERE il.x = tot.t + $buckets))
       |       - (ilr.r - (SELECT il.r FROM il, tot WHERE il.x = tot.r + $buckets)) AS w
       |  FROM w0
       |  JOIN il ilt ON ilt.x = w0.c_t + 1
       |  JOIN il ilr ON ilr.x = w0.c_r + 1),
       |scored AS (
       |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
       |         CAST(sum(n * w) AS BIGINT) AS imp
       |  FROM docb JOIN wt USING (bucket) GROUP BY 1),
       |fullt AS (
       |  SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
       |         coalesce(sc.imp, 0) AS imp_q16
       |  FROM (SELECT doc_id FROM documents) d LEFT JOIN scored sc USING (doc_id)),
       |rk AS (SELECT doc_id, row_number() OVER (ORDER BY imp_q16 DESC, doc_id ASC) AS rn
       |       FROM fullt)
       |SELECT f.doc_id, f.n_bigrams, f.imp_q16,
       |       CAST(rk.rn <= $keepTop AS BIGINT) AS keep
       |FROM fullt f JOIN rk USING (doc_id)""".stripMargin
  }
}
