package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** q104 / s58: interpolated Kneser-Ney trigram LM. The value-level
  * gate is the driver's DuckDB compare; these pin (1) distributed ==
  * independent sequential integer replay, (2) the probability axioms
  * the fixed-point arithmetic must preserve, (3) degradation contracts,
  * (4) the streaming twin's row-exactness and its backoff ladder.
  */
class NgramLmSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.operators.NgramLm
  import graft.sources.Tables

  lazy val docs = Tables.documents(spark, sfDir)

  /** Independent sequential replay: plain Scala collections, the
    * Chen-Goodman formulas in the same Q30 integer contract — shares
    * no code with the distributed operator (the q60 discipline).
    */
  private def sequentialKn(texts: Seq[(Long, String)]): Map[Long, (Long, Long, Option[Long])] = {
    def toks(t: String): Array[String] =
      if (t == null) Array.empty
      else t.replaceAll("^\\s+|\\s+$", "").toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty)
    val tris = texts.flatMap { case (_, t) =>
      val w = toks(t)
      if (w.length < 3) Nil else (0 to w.length - 3).map(i => (w(i), w(i + 1), w(i + 2)))
    }
    val c3 = tris.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c12 = c3.groupBy { case ((a, b, _), _) => (a, b) }
      .map { case (k, m) => k -> m.values.sum }
    val n3 = c3.groupBy { case ((a, b, _), _) => (a, b) }
      .map { case (k, m) => k -> m.size.toLong }
    val n1c = c3.keys.groupBy { case (_, b, c) => (b, c) }
      .map { case (k, v) => k -> v.map(_._1).toSet.size.toLong }
    val n1pc = n1c.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
    val n1t = n1c.groupBy(_._1._1).map { case (k, m) => k -> m.size.toLong }
    val n1u = n1c.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val nCt = math.max(n1c.size.toLong, 1L)
    val Q = NgramLm.Q30
    def p1(w3: String) = (n1u(w3) * Q) / nCt
    def p2(w2: String, w3: String) =
      ((4 * n1c((w2, w3)) - 3) * Q) / (4 * n1pc(w2)) +
        (((3 * n1t(w2)) * Q) / (4 * n1pc(w2)) * p1(w3)) / Q
    def p3(a: String, b: String, c: String) =
      ((4 * c3((a, b, c)) - 3) * Q) / (4 * c12((a, b))) +
        (((3 * n3((a, b))) * Q) / (4 * c12((a, b))) * p2(b, c)) / Q
    def nll(a: String, b: String, c: String) =
      NgramLm.NllCeilQ16 - graft.functions.Log2Q16Expr.compute(p3(a, b, c))
    texts.map { case (id, t) =>
      val w = toks(t)
      if (w.length < 3) id -> ((0L, 0L, None))
      else {
        val parts = (0 to w.length - 3).map(i => nll(w(i), w(i + 1), w(i + 2)))
        val s = parts.sum; val n = parts.size.toLong
        id -> ((n, s, Some(s / n)))
      }
    }.toMap
  }

  private def microCorpus: Seq[(Long, String)] = Seq(
    1L -> "a b c a b c a b d",
    2L -> "a b c x y z",
    3L -> "b c a b c a",
    4L -> "x y z b c",
    5L -> "two toks",
    6L -> null,
    7L -> "  A  B C a b C  ") // case + whitespace normalization

  test("q104 distributed == independent sequential integer replay (micro corpus)") {
    import spark.implicits._
    val df = microCorpus.toDF("doc_id", "text")
    val got = NgramLm.knPerplexity(df).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    }.toMap
    assert(got == sequentialKn(microCorpus))
  }

  test("q104 distributed == sequential replay on the real corpus") {
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    val got = NgramLm.knPerplexity(docs).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    }.toMap
    assert(got == sequentialKn(texts))
  }

  test("q104 probability axioms: p3 in [1, 2^30], per-context sums bounded") {
    val c = NgramLm.knCounts(docs)
    val (tri, mid, p1) = NgramLm.knProbFrames(c)
    // recover p3 from nll: p3 >= 1 <=> nll <= ceiling; p3 <= 2^30 <=>
    // nll >= 0 — assert on nll directly (monotone bijection via L)
    assert(tri.filter(col("nll_q16") < 0 ||
      col("nll_q16") > lit(NgramLm.NllCeilQ16)).count() == 0)
    // per-context Σ p2 over OBSERVED continuations ≤ 2^30 (truncation
    // only loses mass; the true interpolated sum is < 1)
    val sums = mid.groupBy(col("w2")).agg(sum(col("p2")).as("s"))
    assert(sums.filter(col("s") > lit(NgramLm.Q30)).count() == 0)
    val usums = p1.agg(sum(col("p1"))).head().getLong(0)
    assert(usums <= NgramLm.Q30)
  }

  test("q104 planted repetition of a frequent phrase scores below the corpus median") {
    import spark.implicits._
    // the corpus's most frequent trigram, repeated — maximal-count
    // trigrams are exactly what KN discounts least
    val c = NgramLm.knCounts(docs)
    val top = c.tri.orderBy(col("c3").desc, col("w1"), col("w2"), col("w3"))
      .head()
    val phrase = ((top.getString(0) + " " + top.getString(1) + " " +
      top.getString(2) + " ") * 20).trim
    val planted = docs.select("doc_id", "lang", "text")
      .unionByName(Seq((900001L, "en", phrase)).toDF("doc_id", "lang", "text"))
    val out = NgramLm.knPerplexity(planted)
    val scores = out.filter(col("ppl_q16").isNotNull)
      .select("doc_id", "ppl_q16").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val median = scores.values.toSeq.sorted.apply(scores.size / 2)
    assert(scores(900001L) < median,
      s"repetition doc ppl ${scores(900001L)} should be below median $median")
  }

  test("q104 degradation: <3-token and null docs score (0, 0, null)") {
    import spark.implicits._
    val df = Seq((1L, "one two"), (2L, null: String), (3L, ""), (4L, "a b c"))
      .toDF("doc_id", "text")
    val out = NgramLm.knPerplexity(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.isNullAt(3)))).toMap
    assert(out(1L) == ((0L, 0L, true)))
    assert(out(2L) == ((0L, 0L, true)))
    assert(out(3L) == ((0L, 0L, true)))
    assert(out(4L)._1 == 1L && !out(4L)._3)
  }

  test("q104 repartition determinism") {
    val a = NgramLm.knPerplexity(docs)
    val b = NgramLm.knPerplexity(docs.repartition(7))
    assertSameRows(a, b)
  }

  // ---------------- q104b: the generalized order-n builder ----------------

  /** Independent sequential replay at arbitrary order — collections +
    * the generic continuation recursion, sharing no code with the
    * DataFrame builder.
    */
  private def sequentialKnN(texts: Seq[(Long, String)], n: Int)
      : Map[Long, (Long, Long, Option[Long])] = {
    def toks(t: String): Array[String] =
      if (t == null) Array.empty
      else t.replaceAll("^\\s+|\\s+$", "").toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty)
    val grams = texts.flatMap { case (_, t) =>
      val w = toks(t)
      if (w.length < n) Nil
      else (0 to w.length - n).map(i => w.slice(i, i + n).toVector)
    }
    // L_n raw counts; L_k = continuation counts of L_{k+1}
    val L = collection.mutable.Map[Int, Map[Vector[String], Long]]()
    L(n) = grams.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    for (k <- n - 1 to 1 by -1)
      L(k) = L(k + 1).keys.groupBy(_.tail).map { case (s, v) => s -> v.size.toLong }
    val Q = NgramLm.Q30
    val tot1 = math.max(L(1).values.sum, 1L)
    // context aggregates precomputed per level + p memoized: the naive
    // per-call L(k) scan made this reference replay O(grams × types)
    // (3.5 min at sf0.001); one groupBy per level is the same math
    val C = (2 to n).map { k =>
      k -> L(k).groupBy(_._1.init).map { case (c, m) =>
        c -> ((m.values.sum, m.size.toLong))
      }
    }.toMap
    val memo = collection.mutable.Map[(Int, Vector[String]), Long]()
    def p(k: Int, u: Vector[String]): Long = memo.getOrElseUpdate((k, u),
      if (k == 1) (L(1)(u) * Q) / tot1
      else {
        val (tot, n1t) = C(k)(u.init)
        ((4 * L(k)(u) - 3) * Q) / (4 * tot) +
          (((3 * n1t) * Q) / (4 * tot) * p(k - 1, u.tail)) / Q
      })
    texts.map { case (id, t) =>
      val w = toks(t)
      if (w.length < n) id -> ((0L, 0L, None))
      else {
        val parts = (0 to w.length - n).map { i =>
          NgramLm.NllCeilQ16 -
            graft.functions.Log2Q16Expr.compute(p(n, w.slice(i, i + n).toVector))
        }
        val s = parts.sum; val m = parts.size.toLong
        id -> ((m, s, Some(s / m)))
      }
    }.toMap
  }

  test("q104b generalized builder at n=3 reproduces q104 bit-for-bit") {
    val a = graft.operators.NgramLm.knPerplexity(docs)
    val b = graft.operators.NgramLm.knPerplexityN(docs, 3)
      .withColumnRenamed("n_ngrams", "n_trigrams")
    assertSameRows(a, b)
  }

  test("q104b order-5 distributed == independent sequential replay (micro corpus)") {
    import spark.implicits._
    val texts = microCorpus ++ Seq(
      8L -> "one two three four five six seven one two three four five")
    val df = texts.toDF("doc_id", "text")
    val got = graft.operators.NgramLm.knPerplexityN(df, 5).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    }.toMap
    assert(got == sequentialKnN(texts, 5))
    // <5-token docs degrade: doc 5 has 2 tokens
    assert(got(5L) == ((0L, 0L, None)))
  }

  test("q104b order-5 on the real corpus == sequential replay") {
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    val got = graft.operators.NgramLm.knPerplexityN(docs, 5).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    }.toMap
    assert(got == sequentialKnN(texts, 5))
  }

  // ---------------- s58: the streaming twin ----------------

  private def fitModel(d: org.apache.spark.sql.DataFrame): NgramLm.KnLmModel = {
    val t = NgramLm.knModelFrames(d)
    NgramLm.KnLmModel(
      t("tri").collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap,
      t("ctx").collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
      t("mid").collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
      t("midctx").collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      t("uni").collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("s58 backoff ladder: each rung hand-checked against the frozen tables") {
    import spark.implicits._
    val train = Seq(
      (1L, "a b c a b c"),
      (2L, "b c d"),
      (3L, "c d e"),
      (4L, "z b d x")).toDF("doc_id", "text")
    val m = fitModel(train)
    val L = graft.functions.Log2Q16Expr.compute _
    val ceil = NgramLm.NllCeilQ16
    // rung 1: exact trigram — straight table hit
    assert(m.nll("a", "b", "c") == m.tri(("a", "b", "c")))
    // rung 2: novel trigram, seen context (a,b) + seen bigram (b,d):
    // p = max(λ3(a,b)·p2(b,d) >> 30, 1)
    assert(m.ctxLam.contains(("a", "b")) && m.mid.contains(("b", "d")))
    assert(!m.tri.contains(("a", "b", "d")))
    val p2bd = m.mid(("b", "d"))
    val expected2 = ceil - L(math.max((m.ctxLam(("a", "b")) * p2bd) / NgramLm.Q30, 1L))
    assert(m.nll("a", "b", "d") == expected2)
    // rung 3: unseen context, seen bigram — p2 directly
    assert(!m.ctxLam.contains(("e", "b")))
    assert(m.nll("e", "b", "d") == ceil - L(p2bd))
    // rung 3b (the r15 ADVICE gap): SEEN context (a,b) + UNSEEN bigram
    // (b,e) — λ3 must still apply on top of the bigram-level backoff:
    // p = max(λ3(a,b) · max(λ2(b)·p1(e) >> 30, 1) >> 30, 1)
    assert(m.ctxLam.contains(("a", "b")) && !m.mid.contains(("b", "e")))
    assert(m.midLam.contains("b") && m.uni.contains("e"))
    val p2be = math.max((m.midLam("b") * m.uni("e")) / NgramLm.Q30, 1L)
    val expected3b = ceil - L(math.max((m.ctxLam(("a", "b")) * p2be) / NgramLm.Q30, 1L))
    assert(m.nll("a", "b", "e") == expected3b)
    // rung 4: unseen bigram, seen middle + seen word — λ2(w2)·p1(w3)
    assert(!m.mid.contains(("b", "e")) && m.midLam.contains("b") && m.uni.contains("e"))
    val expected4 = ceil - L(math.max((m.midLam("b") * m.uni("e")) / NgramLm.Q30, 1L))
    assert(m.nll("x", "b", "e") == expected4)
    // rung 5: unseen middle, seen word — p1 directly
    assert(!m.midLam.contains("zz"))
    assert(m.nll("x", "zz", "e") == ceil - L(m.uni("e")))
    // rung 6: OOV word — the floor (maximum representable nll)
    assert(m.nll("x", "y", "unseenword") == ceil - L(1L))
    assert(m.nll("x", "y", "unseenword") == ceil)
  }

  // ---------------- q104c: ARPA-style count pruning ----------------

  /** Independent sequential replay of the PRUNED ladder (r16):
    * probabilities from full counts, then the `peff` recursion — kept
    * entry → exact; pruned entry with a stored context → λ·peff(lower)
    * floored at 1; unstored context → peff(lower) directly.
    */
  private def sequentialKnNPruned(texts: Seq[(Long, String)], n: Int,
                                  mc: Long, mcCtx: Long)
      : Map[Long, (Long, Long, Option[Long])] = {
    def toks(t: String): Array[String] =
      if (t == null) Array.empty
      else t.replaceAll("^\\s+|\\s+$", "").toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty)
    val grams = texts.flatMap { case (_, t) =>
      val w = toks(t)
      if (w.length < n) Nil
      else (0 to w.length - n).map(i => w.slice(i, i + n).toVector)
    }
    val L = collection.mutable.Map[Int, Map[Vector[String], Long]]()
    L(n) = grams.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    for (k <- n - 1 to 1 by -1)
      L(k) = L(k + 1).keys.groupBy(_.tail).map { case (s, v) => s -> v.size.toLong }
    val Q = NgramLm.Q30
    val tot1 = math.max(L(1).values.sum, 1L)
    // same precompute+memo speedup as sequentialKnN (pure functions —
    // value-identical, just not quadratic)
    val C = (2 to n).map { k =>
      k -> L(k).groupBy(_._1.init).map { case (c, m) =>
        c -> ((m.values.sum, m.size.toLong))
      }
    }.toMap
    val memoE = collection.mutable.Map[(Int, Vector[String]), Long]()
    def pExact(k: Int, u: Vector[String]): Long = memoE.getOrElseUpdate((k, u),
      if (k == 1) (L(1)(u) * Q) / tot1
      else {
        val (tot, n1t) = C(k)(u.init)
        ((4 * L(k)(u) - 3) * Q) / (4 * tot) +
          (((3 * n1t) * Q) / (4 * tot) * pExact(k - 1, u.tail)) / Q
      })
    val memoP = collection.mutable.Map[(Int, Vector[String]), Long]()
    def peff(k: Int, u: Vector[String]): Long = memoP.getOrElseUpdate((k, u),
      if (k == 1) pExact(1, u)
      else {
        val (tot, n1t) = C(k)(u.init)
        val lam = ((3 * n1t) * Q) / (4 * tot)
        if (L(k)(u) >= mc) pExact(k, u)
        else if (tot >= mcCtx) math.max((lam * peff(k - 1, u.tail)) / Q, 1L)
        else peff(k - 1, u.tail)
      })
    texts.map { case (id, t) =>
      val w = toks(t)
      if (w.length < n) id -> ((0L, 0L, None))
      else {
        val parts = (0 to w.length - n).map { i =>
          NgramLm.NllCeilQ16 -
            graft.functions.Log2Q16Expr.compute(peff(n, w.slice(i, i + n).toVector))
        }
        val s = parts.sum; val m = parts.size.toLong
        id -> ((m, s, Some(s / m)))
      }
    }.toMap
  }

  private def collectScores(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long, Option[Long])] =
    df.collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    }.toMap

  test("q104c pruned builder at thresholds 1/1 reproduces q104b bit-for-bit") {
    assertSameRows(NgramLm.knPerplexityN(docs, 3),
      NgramLm.knPerplexityNPruned(docs, 3, 1L, 1L))
    assertSameRows(NgramLm.knPerplexityN(docs, 5),
      NgramLm.knPerplexityNPruned(docs, 5, 1L, 1L))
  }

  test("q104c distributed == independent sequential pruned replay, and pruning FIRES") {
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    val got = collectScores(NgramLm.knPerplexityNPruned(docs, 3, 2L, 2L))
    assert(got == sequentialKnNPruned(texts, 3, 2L, 2L))
    // the thresholds must actually change scores (singleton trigrams
    // exist in any natural corpus) — a vacuous prune proves nothing
    val unpruned = collectScores(NgramLm.knPerplexity(docs)
      .withColumnRenamed("n_trigrams", "n_ngrams"))
    assert(got.exists { case (id, v) => unpruned(id) != v },
      "minCount=2 must reroute at least one trigram through the backoff ladder")
  }

  test("q104c order-5 pruned micro corpus == sequential replay") {
    import spark.implicits._
    val texts = microCorpus ++ Seq(
      8L -> "one two three four five six seven one two three four five six seven one two")
    val df = texts.toDF("doc_id", "text")
    val got = collectScores(NgramLm.knPerplexityNPruned(df, 5, 2L, 2L))
    assert(got == sequentialKnNPruned(texts, 5, 2L, 2L))
  }

  // ---------------- KnLmModelN: the generic deployed scorer ----------------

  private def fitModelN(d: org.apache.spark.sql.DataFrame, n: Int,
                        mc: Long, mcCtx: Long): NgramLm.KnLmModelN = {
    val t = NgramLm.knModelFramesN(d, n, mc, mcCtx)
    def keyed(name: String, keys: Int): Map[Seq[String], Long] =
      t(name).collect().map(r =>
        (0 until keys).map(r.getString).toSeq -> r.getLong(keys)).toMap
    NgramLm.KnLmModelN(n,
      (1 to n).map(k => keyed(s"p$k", k)),
      (2 to n).map(k => keyed(s"lam$k", k - 1)))
  }

  test("generic scorer from PRUNED frames == batch q104c per doc (order 3 and 5)") {
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    def norm(t: String): Array[String] =
      if (t == null) Array.empty
      else t.replaceAll("^\\s+|\\s+$", "").toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty)
    for ((n, mc, mcCtx) <- Seq((3, 2L, 2L), (5, 3L, 2L))) {
      val batch = collectScores(NgramLm.knPerplexityNPruned(docs, n, mc, mcCtx))
      val m = fitModelN(docs, n, mc, mcCtx)
      val got = texts.map { case (id, t) => id -> m.score(norm(t)) }.toMap
      assert(got == batch, s"order-$n mc=$mc scorer must equal batch peff ladder")
      // the pruned model is STRICTLY smaller than the type tables
      val full = fitModelN(docs, n, 1L, 1L)
      assert(m.levels.last.size < full.levels.last.size,
        s"order-$n top table must shrink under minCount=$mc")
    }
  }

  test("generic scorer ladder rungs hand-checked, including pruned-away entries") {
    import spark.implicits._
    val train = Seq(
      (1L, "a b c a b c a b c"), // (a,b,c) count 3 — kept at mc=2
      (2L, "a b d"),             // (a,b,d) count 1 — PRUNED at mc=2
      (3L, "z b d x"),
      (4L, "b c a b c a")).toDF("doc_id", "text")
    val m = fitModelN(train, 3, 2L, 1L)
    val full = fitModelN(train, 3, 1L, 1L)
    val Q = NgramLm.Q30
    val ceil = NgramLm.NllCeilQ16
    val Lg = graft.functions.Log2Q16Expr.compute _
    // kept entry: straight table hit
    assert(m.levels(2).contains(Seq("a", "b", "c")))
    assert(m.nll(Seq("a", "b", "c")) == ceil - Lg(m.levels(2)(Seq("a", "b", "c"))))
    // pruned entry with stored context: λ3(a,b)·peff(b,d) — (a,b,d)
    // existed in the corpus (count 1) so this IS the pruned-away path
    assert(!m.levels(2).contains(Seq("a", "b", "d")) &&
      full.levels(2).contains(Seq("a", "b", "d")))
    assert(m.lams(1).contains(Seq("a", "b")))
    val p2bd = m.levels(1).getOrElse(Seq("b", "d"),
      math.max((m.lams(0)(Seq("b")) * m.levels(0)(Seq("d"))) / Q, 1L))
    val want = math.max((m.lams(1)(Seq("a", "b")) * p2bd) / Q, 1L)
    assert(m.nll(Seq("a", "b", "d")) == ceil - Lg(want))
    // novel gram, unstored contexts at BOTH levels: falls straight
    // through to the unigram — no λ applies anywhere on the walk
    assert(!m.lams(1).contains(Seq("q", "q")) && !m.lams(0).contains(Seq("q")))
    assert(m.nll(Seq("q", "q", "d")) == ceil - Lg(m.levels(0)(Seq("d"))))
    // novel gram, stored MIDDLE context (b): λ2 applies on the lower walk
    assert(m.lams(0).contains(Seq("b")) && !m.levels(1).contains(Seq("b", "qq")))
    assert(m.nll(Seq("q", "b", "d")) == ceil - Lg(p2bd))
    // OOV floor
    assert(m.nll(Seq("q", "q", "neverseen")) == ceil)
  }
}
