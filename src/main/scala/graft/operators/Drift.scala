package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q100: CORPUS DRIFT by Population Stability Index — the composition
  * monitor every production ingest runs between a baseline release and
  * a candidate (PSI is the industry-standard drift score — Siddiqi,
  * "Credit Risk Scorecards", Wiley 2006, ch. 8 — and algebraically the
  * symmetrized KL / Jeffreys divergence between the two bucket
  * distributions). Features monitored: `lang`, `source` (categorical),
  * and `len` (n_chars bucketed by lenDiv, capped at lenCap — the
  * standard fixed-grid treatment of a continuous feature). A shifted
  * language mix, a source that stopped delivering, or a length
  * distribution collapse all surface as per-bucket contributions, so
  * the report is attributable, not a single opaque score.
  *
  * ORACLE-EXACT BY CONSTRUCTION: the classical PSI needs ln(p/q) —
  * libm territory. This operator keeps every step in int64: shares
  * are add-one-smoothed E8 integers over the UNION bucket grid
  * (p_e8 = greatest((n1+1)·10⁸ div (t1+B), 1) — smoothing makes
  * every share positive BEFORE truncation, the greatest-clamp keeps
  * it positive AFTER (a myriad scale truncates rare-bucket shares to
  * 0 once t1+B > 10⁴, killing the log kernel — the e8 scale pushes
  * that to 10⁸-doc snapshots and the clamp makes even that regime
  * well-defined), and the log ratio runs through the q61 Log2Q16
  * kernel, so the contribution
  *   psi_contrib = (p_e8 − q_e8) · (L(p_e8) − L(q_e8))
  * is PSI in (e8 · Q16 log2) units — order-isomorphic to the
  * ln-based score (log2 = ln · 1/ln2, a positive constant) and
  * non-negative term by term (L is monotone non-decreasing, so the
  * factors never disagree in sign; DriftSpec pins it). Bounds:
  * (n+1)·10⁸ < 2⁶³ up to 9·10¹⁰-doc snapshots; |p−q|·|ΔL| ≤
  * 10⁸·27·2¹⁶ ≈ 1.8·10¹⁴ ≪ 2⁶³.
  *
  * Scale shape: each snapshot explodes to a NARROW 3-row-per-doc
  * (feature, bucket) frame feeding ONE map-side-combined count
  * aggregate (shuffle key (feature, bucket) — bucket-cardinality
  * output, corpus-size input); the grid merge is a full-outer join of
  * two BUCKET-SIZED frames; totals broadcast back; the Log2Q16 kernel
  * runs on the bucket-sized frame, never per corpus row. No window,
  * no driver loop.
  *
  * Output: (feature, bucket, n1, n2, p_e8, q_e8, psi_contrib) —
  * one row per union-grid bucket; Σ psi_contrib per feature is the
  * feature's PSI (the spec's planted-shift assertion; the classical
  * "PSI > 0.2 = major shift" rule of thumb translates by the
  * 10⁸·2¹⁶/ln2-factor, documented rather than baked in).
  */
object Drift {
  /** The length-bucketing rule of [[driftPsi]]'s feats as a JVM
    * function — n_chars maps to the capped fixed grid, a null length
    * to "<null>".
    */
  def lenBucket(nChars: Option[Long], lenDiv: Long, lenCap: Long): String =
    nChars.map(c => math.min(c / lenDiv, lenCap).toString).getOrElse("<null>")

  private def feats(df: DataFrame, lenDiv: Long, lenCap: Long): DataFrame =
    df.select(explode(array(
        struct(lit("lang").as("feature"),
          coalesce(col("lang"), lit("<null>")).as("bucket")),
        struct(lit("source").as("feature"),
          coalesce(col("source"), lit("<null>")).as("bucket")),
        struct(lit("len").as("feature"),
          // explicit null gate: Spark's least() SKIPS nulls (least(NULL,
          // cap) = cap — a null doc would silently land in the top
          // bucket), where the oracle's CASE propagates to '<null>'
          when(col("n_chars").isNull, lit("<null>"))
            .otherwise(expr(s"CAST(least(n_chars div ${lenDiv}L, ${lenCap}L) AS STRING)"))
            .as("bucket")))).as("f"))
      .select(col("f.feature"), col("f.bucket"))

  /** The classical PSI decision thresholds (Siddiqi 2006: < 0.1
    * stable, 0.1–0.2 minor shift, > 0.2 major shift — the rule every
    * scorecard-monitoring deployment applies) translated into this
    * operator's (e8 · Q16 log2) units: 0.1 · 10⁸ · 2¹⁶ / ln 2 —
    * PINNED as an integer literal (the conversion is a convention,
    * not a computation: both engines compare against the same
    * constant, so no libm value ever enters the arithmetic), with
    * MAJOR = 2 · MINOR by construction.
    */
  final val PsiMinorE8Q16: Long = 945484621996L
  final val PsiMajorE8Q16: Long = 2L * PsiMinorE8Q16

  /** The q100b decision rule JVM-side (the column path uses the same
    * literals).
    */
  def alertLevel(psiE8Q16: Long): String =
    if (psiE8Q16 < PsiMinorE8Q16) "stable"
    else if (psiE8Q16 < PsiMajorE8Q16) "minor_shift"
    else "major_shift"

  /** q100b: the DRIFT ALERT — per-feature PSI totals with the decision
    * rule applied (r13 verdict task #6: the report emits attributable
    * contributions, a deployment needs the per-feature verdict, and
    * the threshold unit conversion must live HERE, spec-pinned, not be
    * re-derived downstream). A pure re-aggregation of [[driftPsi]] —
    * zero extra corpus work, bucket-cardinality input.
    *
    * Output: (feature, n_buckets, psi_e8q16, level) — level in
    * {stable, minor_shift, major_shift} per the pinned constants.
    */
  def driftAlert(oldSnap: DataFrame, newSnap: DataFrame,
                 lenDiv: Long = 256L, lenCap: Long = 15L): DataFrame =
    driftPsi(oldSnap, newSnap, lenDiv, lenCap)
      .groupBy(col("feature"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("psi_contrib")).as("psi_e8q16"))
      .select(col("feature"), col("n_buckets"), col("psi_e8q16"),
        when(col("psi_e8q16") < lit(PsiMinorE8Q16), lit("stable"))
          .when(col("psi_e8q16") < lit(PsiMajorE8Q16), lit("minor_shift"))
          .otherwise(lit("major_shift")).as("level"))

  def driftPsi(oldSnap: DataFrame, newSnap: DataFrame,
               lenDiv: Long = 256L, lenCap: Long = 15L): DataFrame = {
    require(lenDiv > 0 && lenCap >= 0, "positive length grid required")
    import graft.functions.{VectorFunctions => VF}
    val c1 = feats(oldSnap, lenDiv, lenCap).groupBy(col("feature"), col("bucket"))
      .agg(count(lit(1)).as("n1"))
    val c2 = feats(newSnap, lenDiv, lenCap).groupBy(col("feature"), col("bucket"))
      .agg(count(lit(1)).as("n2"))
    val grid = c1.join(c2, Seq("feature", "bucket"), "full_outer")
      .select(col("feature"), col("bucket"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
    val tot = grid.groupBy(col("feature"))
      .agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"),
        count(lit(1)).as("nb"))
    grid.join(broadcast(tot), Seq("feature"))
      .select(col("feature"), col("bucket"), col("n1"), col("n2"),
        expr("greatest(((n1 + 1L) * 100000000L) div (t1 + nb), 1L)").as("p_e8"),
        expr("greatest(((n2 + 1L) * 100000000L) div (t2 + nb), 1L)").as("q_e8"))
      .select(col("feature"), col("bucket"), col("n1"), col("n2"),
        col("p_e8"), col("q_e8"),
        ((col("p_e8") - col("q_e8")) *
          (VF.log2_q16(col("p_e8")) - VF.log2_q16(col("q_e8"))))
          .as("psi_contrib"))
  }
}
