package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** q72: model-based document classification — the fastText-style
  * linear classifier (Joulin et al., EACL 2017, arXiv:1607.01759)
  * that CCNet-class pipelines (Wenzek et al., LREC 2020,
  * arXiv:1911.00359) train to score document quality/domain before
  * admission. The model is multinomial naive Bayes over HASHED
  * unigram+bigram bag-of-words features (fastText's feature recipe,
  * the q37/q69 universal-hash discipline at fresh index 218), with
  * per-class add-one smoothing and a class PRIOR — trained on the
  * even-doc_id half of the corpus and scored over every document, so
  * the odd half is a genuine holdout (the train/eval split a real
  * classifier deployment runs; the spec gates holdout accuracy).
  *
  * The supervision target is `lang == targetLang` — the corpus's one
  * honest label (CCNet's actual classifier uses "looks like
  * Wikipedia"; the LABEL SOURCE is config, the machinery identical).
  * Distinct from q69 DSIR (unsupervised target/raw importance RATIO,
  * top-M keep, scored IN-sample) and q24 (hand-written n-gram
  * heuristic): this is the supervised train→holdout→argmax shape
  * with priors. Honesty note: the synthetic corpus's langs share one
  * vocabulary with near-identical distributions (holdout AUC ~0.55,
  * probed at sf0.001), so NO classifier separates them out-of-sample
  * — the spec therefore gates learnability on a PLANTED separable
  * corpus and the real-corpus run on mechanics + the hash-exact
  * oracle.
  *
  * All arithmetic is shared-integer: Q16 logs through Log2Q16Expr, so
  * scores, predictions, and the decision boundary are HASH-EXACT
  * against the DuckDB replay — where a float fastText could only be
  * gated on accuracy.
  *
  * Scale shape: ONE corpus pass builds the (doc, bucket, n) feature
  * counts (narrow, checkpointed — reused by the model aggregate and
  * the scoring join); the model is ONE B-row conditional aggregate
  * over the train half (no per-class joins); the ≤B-row weight table
  * broadcasts back for the per-doc Σ. Totals are one 1-row collect
  * (the sizing-action class). No corpus window, no unbounded state.
  */
object Classifier {

  /** Registered contract: targetLang="en", B=2048 buckets, train =
    * even doc_ids. Output per document:
    * (doc_id, is_train, n_feats, score_q16, pred) where
    * score_q16 = prior + Σ_b n_doc(b)·w_b and pred = 1 iff
    * score_q16 >= 0 (the two-class argmax).
    * |w| ≤ 2·L(trainTot+B) ≈ 2²¹ at Q16 and Σ n ≤ 2·doc length, so
    * scores sit far inside int64 at any document size.
    */
  def nbClassify(documents: DataFrame, targetLang: String = "en",
                 buckets: Int = 2048): DataFrame = {
    val (docB, wt, prior) = nbModelFrames(documents, targetLang, buckets)
    val scored = docB.join(broadcast(wt), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_feats"), sum(col("n") * col("w")).as("sum_w"))
    documents.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("doc_id") % 2 === 0).cast("long").as("is_train"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        (coalesce(col("sum_w"), lit(0L)) + lit(prior)).as("score_q16"))
      .withColumn("pred", (col("score_q16") >= 0L).cast("long"))
  }

  /** The shared q72 model build (the Dsir.dsirModel shape): the
    * per-(doc, bucket) feature-count frame (narrow, checkpointed —
    * reused by the model aggregate and the scoring join), the B-row
    * Q16 weight table, and the class prior.
    */
  private[operators] def nbModelFrames(documents: DataFrame, targetLang: String,
                                       buckets: Int): (DataFrame, DataFrame, Long) = {
    require(buckets >= 2, "buckets >= 2")
    val P = graft.functions.ReplayableHash.P
    val ha = graft.functions.ReplayableHash.a(218)
    val hb = graft.functions.ReplayableHash.b(218)
    val L = graft.functions.VectorFunctions.log2_q16 _
    val toks = filter(split(lower(TextOps.wsTrim(col("text"))), "\\s+"),
      t => length(t) > 0)
    val base = documents.select(col("doc_id"), col("lang"), toks.as("toks"))
    def bucketOf(c: Column): Column =
      (lit(ha) * graft.functions.VectorFunctions.poly_hash(c) + lit(hb)) % lit(P) % lit(buckets.toLong)
    // fastText features: every unigram plus every adjacent bigram
    val uni = base.select(col("doc_id"), col("lang"),
      explode(col("toks")).as("feat"))
    val bi = base.select(col("doc_id"), col("lang"),
      explode(zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (x: Column, y: Column) => concat(x, lit(" "), y))).as("feat"))
    val docB = uni.union(bi)
      .select(col("doc_id"), col("lang"), bucketOf(col("feat")).as("bucket"))
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    // model: ONE conditional aggregate over the train half, padded to
    // ALL B buckets (add-one smoothing weights unseen buckets too)
    val trainB = docB.filter(col("doc_id") % 2 === 0)
      .groupBy(col("bucket")).agg(
        sum(when(col("lang") === targetLang, col("n")).otherwise(lit(0L))).as("c_hi"),
        sum(when(col("lang") =!= targetLang, col("n")).otherwise(lit(0L))).as("c_lo"))
    val allB = documents.sparkSession.range(buckets).select(col("id").as("bucket"))
      .join(trainB, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("c_hi"), lit(0L)).as("c_hi"),
        coalesce(col("c_lo"), lit(0L)).as("c_lo"))
      .localCheckpoint(true)
    // totals + class priors: two 1-row collects (the sizing-action class)
    val tot = allB.agg(sum(col("c_hi")), sum(col("c_lo"))).collect()(0)
    val (hiTot, loTot) = (Option(tot.get(0)).fold(0L)(_.asInstanceOf[Long]),
      Option(tot.get(1)).fold(0L)(_.asInstanceOf[Long]))
    val nd = documents.filter(col("doc_id") % 2 === 0)
      .agg(sum(when(col("lang") === targetLang, 1L).otherwise(0L)),
        sum(when(col("lang") =!= targetLang, 1L).otherwise(0L))).collect()(0)
    val (nHi, nLo) = (Option(nd.get(0)).fold(0L)(_.asInstanceOf[Long]),
      Option(nd.get(1)).fold(0L)(_.asInstanceOf[Long]))
    val lHi = graft.functions.Log2Q16Expr.compute(hiTot + buckets)
    val lLo = graft.functions.Log2Q16Expr.compute(loTot + buckets)
    val prior = graft.functions.Log2Q16Expr.compute(nHi + 1) -
      graft.functions.Log2Q16Expr.compute(nLo + 1)
    val wt = allB.select(col("bucket"),
      (L(col("c_hi") + lit(1L)) - lit(lHi) - L(col("c_lo") + lit(1L)) + lit(lLo)).as("w"))
    (docB, wt, prior)
  }

  /** The frozen q72 model as driver-side maps: bucket → w_q16
    * (exactly B entries) plus the prior — the bounded-collect
    * protocol (the weight table is B rows by construction, never
    * corpus-sized).
    */
  case class NbModel(weights: Map[Long, Long], priorQ16: Long, buckets: Int)

  def nbModel(documents: DataFrame, targetLang: String = "en",
              buckets: Int = 2048): NbModel = {
    val (_, wt, prior) = nbModelFrames(documents, targetLang, buckets)
    NbModel(wt.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      prior, buckets)
  }

  /** The q72 oracle: unigram+bigram feature union, index-218 buckets,
    * the one conditional train aggregate padded to all B buckets, the
    * q61 16-step recursive log2 kernel for every smoothed count, the
    * class prior, and the >=0 decision.
    */
  def nbClassifyOracleSql(targetLang: String = "en",
                          buckets: Int = 2048): String = {
    val P = graft.functions.ReplayableHash.P
    val ha = graft.functions.ReplayableHash.a(218)
    val hb = graft.functions.ReplayableHash.b(218)
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, lang, list_filter(
       |           regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+'),
       |           t -> length(t) > 0) AS toks
       |  FROM documents),
       |feats AS (
       |  SELECT doc_id, lang, t AS feat
       |  FROM (SELECT doc_id, lang, unnest(toks) AS t FROM toks) u
       |  UNION ALL
       |  SELECT doc_id, lang, toks[i] || ' ' || toks[i+1] AS feat
       |  FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i FROM toks) b),
       |fb AS (
       |  SELECT doc_id, lang,
       |         (($ha * (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(range(1, length(feat)+1),
       |               i -> CAST(unicode(substring(feat, CAST(i AS INT), 1)) AS BIGINT))),
       |             (h, c) -> (h * 31 + c) % 1000000007)) + $hb) % $P) % $buckets AS bucket
       |  FROM feats),
       |docb AS (
       |  SELECT doc_id, lang, bucket, CAST(count(*) AS BIGINT) AS n
       |  FROM fb GROUP BY 1, 2, 3),
       |trainb AS (
       |  SELECT bucket,
       |         CAST(sum(CASE WHEN lang = '$targetLang' THEN n ELSE 0 END) AS BIGINT) AS c_hi,
       |         CAST(sum(CASE WHEN lang <> '$targetLang' THEN n ELSE 0 END) AS BIGINT) AS c_lo
       |  FROM docb WHERE doc_id % 2 = 0 GROUP BY 1),
       |allb AS (
       |  SELECT r.range AS bucket, coalesce(t.c_hi, 0) AS c_hi, coalesce(t.c_lo, 0) AS c_lo
       |  FROM range(0, $buckets) r LEFT JOIN trainb t ON t.bucket = r.range),
       |tot AS (SELECT CAST(sum(c_hi) AS BIGINT) AS hi, CAST(sum(c_lo) AS BIGINT) AS lo FROM allb),
       |nd AS (
       |  SELECT CAST(sum(CASE WHEN lang = '$targetLang' THEN 1 ELSE 0 END) AS BIGINT) AS nhi,
       |         CAST(sum(CASE WHEN lang <> '$targetLang' THEN 1 ELSE 0 END) AS BIGINT) AS nlo
       |  FROM documents WHERE doc_id % 2 = 0),
       |vals AS (
       |  SELECT DISTINCT x FROM (
       |    SELECT c_hi + 1 AS x FROM allb
       |    UNION SELECT c_lo + 1 FROM allb
       |    UNION SELECT hi + $buckets FROM tot
       |    UNION SELECT lo + $buckets FROM tot
       |    UNION SELECT nhi + 1 FROM nd
       |    UNION SELECT nlo + 1 FROM nd) u),
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
       |  SELECT a.bucket,
       |         (ilh.r - (SELECT il.r FROM il, tot WHERE il.x = tot.hi + $buckets))
       |       - (ill.r - (SELECT il.r FROM il, tot WHERE il.x = tot.lo + $buckets)) AS w
       |  FROM allb a
       |  JOIN il ilh ON ilh.x = a.c_hi + 1
       |  JOIN il ill ON ill.x = a.c_lo + 1),
       |prior AS (
       |  SELECT (SELECT il.r FROM il, nd WHERE il.x = nd.nhi + 1)
       |       - (SELECT il.r FROM il, nd WHERE il.x = nd.nlo + 1) AS p),
       |scored AS (
       |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feats,
       |         CAST(sum(n * w) AS BIGINT) AS sum_w
       |  FROM docb JOIN wt USING (bucket) GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(d.doc_id % 2 = 0 AS BIGINT) AS is_train,
       |       coalesce(sc.n_feats, 0) AS n_feats,
       |       coalesce(sc.sum_w, 0) + prior.p AS score_q16,
       |       CAST(coalesce(sc.sum_w, 0) + prior.p >= 0 AS BIGINT) AS pred
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN scored sc USING (doc_id), prior""".stripMargin
  }
}
