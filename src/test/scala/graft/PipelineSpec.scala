package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** q53 end-to-end curation pipeline: the value gate is the driver's
  * DuckDB compare of the whole CTE chain; these pin the stage
  * CONTRACTS — what flows, what drops, and that the composition
  * conserves tokens — independent of engine.
  */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.operators.{Pipeline, TextOps}
  import graft.sources.Tables

  private val target = Map("en" -> 2000, "es" -> 2000, "de" -> 2000,
    "fr" -> 2000, "zh" -> 2000)

  /** Eager checkpoint for the hand-recomputed stage frames below: each
    * feeds many separate count()/join() ACTIONS, and a lazy stage chain
    * replays its whole lineage per action (no stage cache across
    * actions) — the r17 test-budget fix: the chain-contract tests ran
    * 19 min / 8 min / 7 min at sf0.001 on pure cross-action recompute,
    * with the q53b leg dying of executor memory pressure under the
    * accumulated giant plans. Values are unchanged (localCheckpoint is
    * value-transparent; the chain tests themselves pin that).
    */
  private def ck(df: org.apache.spark.sql.DataFrame) = df.localCheckpoint(true)

  test("q53 curate: subset chain, token conservation, chunk shape, determinism") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val out = Pipeline.curate(corpus, bench, target)
    out.persist()
    try {
      // stage recomputation for the invariants (the real corpus is
      // stage-0-invariant, so raw text stands in for normalized);
      // each stage frame checkpointed — many actions read each one
      val ruled = ck(graft.operators.QualityRules.gopherRules(corpus)
        .filter(col("pass") === 1L).select("doc_id").join(corpus, "doc_id"))
      val canon = ck(TextOps.dedupExact(ruled).select("doc_id").join(ruled, "doc_id"))
      val cleaned = ck(TextOps.segmentDedup(canon)
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(canon.select("doc_id", "lang"), "doc_id"))
      val subbed = ck(cleaned.select(col("doc_id"), col("lang"), col("text").as("orig"))
        .join(graft.operators.ExactSubstr.substringDedup(cleaned)
          .select(col("doc_id"), col("clean_text")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("orig").isNull, lit(null).cast("string"))
            .otherwise(col("clean_text")).as("text")))
      val (lenCut, alphaCut) = Pipeline.qualityCutoffs(subbed)
      val gated = ck(Pipeline.qualityGate(subbed, lenCut, alphaCut))
      val decon = ck(TextOps.decontaminate(gated, bench)
        .filter(col("contaminated") === 0).select("doc_id").join(gated, "doc_id"))
      val red = ck(TextOps.piiRedact(decon)
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(decon.select("doc_id", "lang"), "doc_id"))
      val mem = ck(TextOps.memorizationRisk(red)
        .filter(col("n_dup") * lit(10000L) <= lit(2000L) * col("n_shingles"))
        .select("doc_id").join(red, "doc_id"))
      val vocab = TextOps.tokenizerVocabSeq(mem, m = 64, maxN = 4)
      val admitted = ck(TextOps.mixtureSolveTokenized(mem, target, vocab))

      // the packed docs are exactly the admitted docs (packCore drops
      // nothing: every admitted doc has n_tokens > 0 by construction)
      val packedIds = out.select("doc_id").distinct()
      assert(packedIds.count() == admitted.count())
      assert(packedIds.join(admitted, "doc_id").count() == admitted.count())
      // ...which are a subset of the decontaminated, canonical corpus
      assert(admitted.join(decon, "doc_id").count() == admitted.count())
      assert(decon.count() <= canon.count() && canon.count() <= ruled.count())
      // the rule battery bites on the real corpus (stage 0b vacuity)
      assert(ruled.count() < corpus.count(), "q70 rule stage vacuous")
      // stages that bite on the real corpus (no exact text dups exist
      // at this SF — q20's bite is covered by the planted test below)
      assert(cleaned.join(corpus.withColumnRenamed("text", "raw"), "doc_id")
        .filter(col("text") =!= col("raw")).count() > 0, "q52 stage vacuous")
      assert(subbed.join(cleaned.withColumnRenamed("text", "pre"), "doc_id")
        .filter(col("text") =!= col("pre")).count() > 0,
        "q71 stage vacuous (unaligned dup spans must survive q52 and be cut here)")
      assert(gated.count() < subbed.count(), "q46 gate vacuous (p5 must bite)")
      assert(decon.count() < gated.count(), "q38 stage vacuous")
      assert(mem.count() < red.count(),
        "q84 memorization gate vacuous (residual short-span duplication must bite)")
      assert(admitted.count() < mem.count(), "mixture stage vacuous")

      // token conservation: each doc's packed spans sum to its
      // admitted token count
      val spanSum = out.groupBy("doc_id").agg(sum("n_toks").as("packed"))
      assert(spanSum.join(admitted, "doc_id")
        .filter(col("packed") =!= col("n_tokens")).count() == 0)
      // chunk shape: within a shard every chunk except the last holds
      // exactly `capacity` tokens
      val byChunk = out.groupBy("shard", "chunk").agg(sum("n_toks").as("t"))
      val lastChunk = byChunk.groupBy("shard").agg(max("chunk").as("last"))
      assert(byChunk.join(lastChunk, "shard")
        .filter(col("chunk") =!= col("last") && col("t") =!= 512).count() == 0)

      // deterministic under repartitioning: `again` runs the same
      // chain on a repartitioned corpus
      val again = Pipeline.curate(corpus.repartition(13), bench, target)
      val a = out.collect().map(_.toString).sorted
      assert(a.toSeq == again.collect().map(_.toString).sorted.toSeq)
    } finally out.unpersist()
  }

  test("q53b sourceQuota knob: admission == q90 over the curated prefix; quota is the allowlist; q96 budgets compose") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val srcTargets = Map("src0" -> 3000, "src1" -> 2500, "src2" -> 1500, "src3" -> 500)
    val out = Pipeline.curate(corpus, bench, target,
      sourceQuotaMyriad = srcTargets)
    out.persist()
    try {
      // recompute the chain's curated prefix (stages 0..6b, as in the
      // q53 contract test) and run q90's admission over it directly —
      // the knob must equal the composition EXACTLY
      val ruled = ck(graft.operators.QualityRules.gopherRules(corpus)
        .filter(col("pass") === 1L).select("doc_id").join(corpus, "doc_id"))
      val canon = ck(TextOps.dedupExact(ruled).select("doc_id").join(ruled, "doc_id"))
      val cleaned = ck(TextOps.segmentDedup(canon)
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(canon.select("doc_id", "lang"), "doc_id"))
      val subbed = ck(cleaned.select(col("doc_id"), col("lang"), col("text").as("orig"))
        .join(graft.operators.ExactSubstr.substringDedup(cleaned)
          .select(col("doc_id"), col("clean_text")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("orig").isNull, lit(null).cast("string"))
            .otherwise(col("clean_text")).as("text")))
      val (lenCut, alphaCut) = Pipeline.qualityCutoffs(subbed)
      val gated = ck(Pipeline.qualityGate(subbed, lenCut, alphaCut))
      val decon = ck(TextOps.decontaminate(gated, bench)
        .filter(col("contaminated") === 0).select("doc_id").join(gated, "doc_id"))
      val red = ck(TextOps.piiRedact(decon)
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(decon.select("doc_id", "lang"), "doc_id"))
      val mem = ck(TextOps.memorizationRisk(red)
        .filter(col("n_dup") * lit(10000L) <= lit(2000L) * col("n_shingles"))
        .select("doc_id").join(red, "doc_id"))
      val vocab = TextOps.tokenizerVocabSeq(mem, m = 64, maxN = 4)
      val admitted = TextOps.sourceQuota(
        mem.select("doc_id", "text").join(corpus.select("doc_id", "source"), "doc_id"),
        srcTargets, vocab).persist()
      val packedIds = out.select("doc_id").distinct()
      assert(packedIds.count() == admitted.count(),
        s"${packedIds.count()} packed docs vs ${admitted.count()} q90-admitted")
      assert(packedIds.join(admitted, "doc_id").count() == admitted.count())
      // token conservation on the quota path too
      val spanSum = out.groupBy("doc_id").agg(sum("n_toks").as("packed"))
      assert(spanSum.join(admitted, "doc_id")
        .filter(col("packed") =!= col("n_tokens")).count() == 0)
      // the quota IS the allowlist: every packed doc's source is listed
      // (and the corpus has 20 sources, so the knob genuinely bites)
      val srcOf = corpus.select("doc_id", "source")
      assert(packedIds.join(srcOf, "doc_id")
        .filter(!col("source").isin(srcTargets.keys.toSeq: _*)).count() == 0)
      assert(corpus.select("source").distinct().count() > srcTargets.size.toLong)
      // non-vacuous: listed sources admit, and rates are non-uniform
      // (distinct targets must produce distinct admitted masses)
      val bySrc = packedIds.join(srcOf, "doc_id").groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(bySrc.keySet.subsetOf(srcTargets.keySet) && bySrc.nonEmpty)
      admitted.unpersist()

      // q96 COMPOSES: UniMax-derived allocations feed the knob as
      // shares (alloc·10⁴ div B) — the release recipe that derives its
      // own budgets instead of hand-specifying them
      val alloc = TextOps.unimaxAlloc(corpus)
        .select(col("source"), col("alloc"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val b = alloc.map(_._2).sum
      val uniShares = alloc
        .map { case (s, a) => s -> ((a * 10000L) / b).toInt }
        .filter(_._2 > 0).toMap
      assert(uniShares.values.sum <= 10000)
      val out2 = Pipeline.curate(corpus, bench, target,
        sourceQuotaMyriad = uniShares)
      val ids2 = out2.select("doc_id").distinct()
      assert(ids2.count() > 0, "unimax-derived quota must admit documents")
      assert(ids2.join(srcOf, "doc_id")
        .filter(!col("source").isin(uniShares.keys.toSeq: _*)).count() == 0)
    } finally out.unpersist()
  }

  test("q53 curate: planted duplicates and contamination drop; clean docs survive") {
    import spark.implicits._
    val uniq = (i: Int) => (0 until 24).map(j => s"w${i}_$j").mkString(" ")
    val benchRows = Seq((9001L, "en", uniq(900)), (9002L, "en", uniq(901)))
    val piiText = s"contact me at alice@mail.example.com about ${uniq(10)}"
    val redText = s"contact me at <EMAIL> about ${uniq(10)}"
    val corpusRows = Seq(
      (1L, "en", uniq(1)),
      (2L, "en", uniq(1)),        // exact dup of 1 -> q20 keeps only doc 1
      (3L, "en", uniq(900)),      // copies a benchmark doc -> q38 drops
      (4L, "en", uniq(4)),
      (5L, "es", uniq(5)), (6L, "de", uniq(6)),
      (7L, "fr", uniq(7)), (8L, "zh", uniq(8)),
      (26L, "en", piiText))       // carries an email -> q58 redacts in-chain
    val out = Pipeline.curate(corpusRows.toDF("doc_id", "lang", "text"),
      benchRows.toDF("doc_id", "lang", "text").select("doc_id", "text"),
      target, capacity = 64, ruleGate = false)
    val ids = out.select("doc_id").distinct().as[Long].collect().toSet
    assert(!ids.contains(2L), "exact dup of an earlier doc must not pack")
    assert(!ids.contains(3L), "benchmark copy must not pack")
    // the scarcest languages bind the mixture at rate ~10000, so the
    // singleton-language docs survive admission
    assert(Set(5L, 6L, 7L, 8L).subsetOf(ids), s"got $ids")

    // in-chain PII redaction, pinned by IDEMPOTENCE: curating the
    // corpus with doc 10's email RAW must equal curating it with the
    // email pre-replaced by <EMAIL> — the chain redacts before
    // tokenizer training, so both corpora are identical from stage 6
    // on. (The p5 gate on this tiny corpus is the min — pass-all in
    // both runs — so the pre-gate length difference cannot reorder
    // anything; the equality is exact, not approximate.)
    val preRedacted = corpusRows.map { case (id, l, t) =>
      (id, l, if (id == 26L) redText else t)
    }
    val outPre = Pipeline.curate(preRedacted.toDF("doc_id", "lang", "text"),
      benchRows.toDF("doc_id", "lang", "text").select("doc_id", "text"),
      target, capacity = 64, ruleGate = false)
    assert(out.collect().map(_.toString).sorted.toSeq ==
      outPre.collect().map(_.toString).sorted.toSeq,
      "chain output must be invariant to pre-redaction (q58 runs in-chain)")
    assert(ids.contains(26L), "the redacted doc itself packs (bucket 21 admits at any en rate)")
  }

  test("q53 curate stage 6b: short-span memorization residue drops; the drop is attributable") {
    import spark.implicits._
    val uniq = (i: Int) => (0 until 24).map(j => s"w${i}_$j").mkString(" ")
    // 5-word phrases shared between docs 10 and 11, each separated by a
    // doc-unique word so no ≥6-word window duplicates (q71 cannot cut
    // them) and no 8-word-aligned segment matches (q52 cannot either):
    // the EXACT residue class the memorization gate exists for
    val phrase = (i: Int) => s"p${i}a p${i}b p${i}c p${i}d p${i}e"
    val memHeavy = (1 to 4).map(phrase).zipWithIndex
      .map { case (p, j) => if (j < 3) s"$p ux$j" else p }.mkString(" ") // 23 words
    val memLight = (1 to 4).map(phrase).zipWithIndex
      .map { case (p, j) => if (j < 3) s"$p uy$j" else p }.mkString(" ") +
      " " + (0 until 40).map(j => s"pad_$j").mkString(" ")               // 63 words
    // non-en languages get 200-word docs so en is strictly the
    // SCARCEST token mass -> its solved rate is exactly 10000 and
    // every surviving en doc admits (survival assertions below cannot
    // be masked by the admission hash)
    val fat = (i: Int) => (0 until 200).map(j => s"f${i}_$j").mkString(" ")
    val corpusRows = Seq(
      (1L, "en", uniq(1)), (4L, "en", uniq(4)),
      (5L, "es", fat(5)), (6L, "de", fat(6)),
      (7L, "fr", fat(7)), (8L, "zh", fat(8)),
      // doc 10: 8 of 20 shingles cross-doc duplicated (40% > 20%) -> drops
      (10L, "en", memHeavy),
      // doc 11: same 8 dup shingles out of 60 (13% < 20%) -> survives
      (11L, "en", memLight))
    val bench = Seq((9001L, uniq(900))).toDF("doc_id", "text")
    val df = corpusRows.toDF("doc_id", "lang", "text")
    val ids = Pipeline.curate(df, bench, target, capacity = 64, ruleGate = false)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(!ids.contains(10L), s"memorization-heavy doc must not pack; got $ids")
    assert(ids.contains(11L), s"light-duplication doc must survive the gate; got $ids")
    // attribution: with the gate OFF the heavy doc packs — nothing
    // upstream was responsible for the drop
    val idsOff = Pipeline.curate(df, bench, target, capacity = 64,
      ruleGate = false, memCutMyriad = -1)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(idsOff.contains(10L), s"gate-off run must keep doc 10; got $idsOff")
  }

  test("q53 curate stage 0b: junk documents drop at the rule battery; the drop is attributable to it") {
    import spark.implicits._
    // battery-PASSING docs: all-alpha 3-char words (wlen_x100 = 300,
    // exactly the MinWlenX100 boundary — pinned passing), two
    // stopwords, 24 words, letters distinct per doc so neither exact
    // dedup nor the q71 window pass collapses them
    def okDoc(i: Int): String =
      (Seq("the", "and") ++ (0 until 22).map(j =>
        "" + ('a' + i).toChar + "w" + ('a' + j).toChar)).mkString(" ")
    val corpusRows = Seq.tabulate(6)(i => ((i + 1).toLong, "en", okDoc(i))) ++ Seq(
      (40L, "en", "x9 y7"),                    // fails words + alpha
      (41L, "en", null.asInstanceOf[String]))  // null text: 0 words
    val benchRows = Seq((9001L, "qaqa qbqb qcqc qdqd qeqe qfqf"))
    val out = Pipeline.curate(corpusRows.toDF("doc_id", "lang", "text"),
      benchRows.toDF("doc_id", "text"), Map("en" -> 10000), capacity = 64)
    val ids = out.select("doc_id").distinct().as[Long].collect().toSet
    assert((1L to 6L).toSet.subsetOf(ids), s"battery-passing docs must pack: $ids")
    assert(!ids.contains(40L) && !ids.contains(41L), s"junk must drop at 0b: $ids")
    // attribution: with the gate OFF the same junk doc packs — the
    // drop above is the battery's, not a later stage's
    val idsOff = Pipeline.curate(corpusRows.toDF("doc_id", "lang", "text"),
      benchRows.toDF("doc_id", "text"), Map("en" -> 10000), capacity = 64,
      ruleGate = false)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(idsOff.contains(40L), s"gate-off run must admit the junk doc: $idsOff")
  }

  test("q53 curate stage 0: encoding-variant duplicates and benchmark copies canonicalize away") {
    import spark.implicits._
    val uniq = (i: Int) => (0 until 24).map(j => s"w${i}_$j").mkString(" ")
    // ZERO-WIDTH + doubled-space copy of doc 1 and a DECOMPOSED copy
    // of the accented doc: both must land in doc 1's/doc 11's exact-
    // dedup group after NFC+strip+collapse (pre-r11 they slipped every
    // digest stage); a zero-width benchmark copy must still register
    // as contamination
    val accented = "caf\u00E9 " + uniq(11)           // composed
    val accentedDec = "cafe\u0301 " + uniq(11)       // decomposed twin
    val benchRows = Seq((9001L, uniq(900)))
    val corpusRows = Seq(
      (1L, "en", uniq(1)),
      (2L, "en", uniq(1).replace(" ", "  \u200B")), // invisible-variant dup of 1
      (3L, "en", uniq(900) + "\u200B"),             // benchmark copy in disguise
      (11L, "en", accented),
      (12L, "en", accentedDec),                     // NFC twin of 11
      (5L, "es", uniq(5)), (6L, "de", uniq(6)),
      (7L, "fr", uniq(7)), (8L, "zh", uniq(8)))
    val out = Pipeline.curate(corpusRows.toDF("doc_id", "lang", "text"),
      benchRows.toDF("doc_id", "text"), target, capacity = 64, ruleGate = false)
    val ids = out.select("doc_id").distinct().as[Long].collect().toSet
    assert(ids.contains(1L) && !ids.contains(2L),
      s"invisible-variant dup must canonicalize into doc 1's group: $ids")
    assert(!ids.contains(3L), "disguised benchmark copy must still be dropped")
    assert(ids.contains(11L) && !ids.contains(12L),
      s"decomposed twin must dedup against the composed doc: $ids")
  }

  test("q53c urlGate: gate == pre-filter (url-dropped docs never reach stage 0); the gate actually drops") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    // attribution contract: the knob is EXACTLY a stage −1 filter —
    // running the gated chain equals running the ungated chain on the
    // pre-filtered corpus (so a url-dropped doc cannot influence any
    // stage: not the dedup groups, not the cutoffs, not the rates)
    val passSet = graft.operators.UrlFilter.urlFilterPlanted(corpus)
      .filter(col("pass") === 1L).select("doc_id")
    val gated = Pipeline.curate(corpus, bench, target, urlGate = true)
    val prefiltered = Pipeline.curate(corpus.join(passSet, "doc_id"), bench, target)
    assertSameRows(gated, prefiltered)
    // the gate fires: blocked domains / flag words exist in the plant
    val nAll = corpus.count()
    val nPass = passSet.count()
    assert(nPass < nAll && nPass > 0,
      s"planted url gate must drop some docs and keep some ($nPass/$nAll)")
    // and gated output is NOT the ungated output (the knob matters)
    val ungated = Pipeline.curate(corpus, bench, target)
    assert(gated.count() != ungated.count() ||
      gated.exceptAll(ungated).count() > 0,
      "urlGate=true must change the chain's output on the planted corpus")
  }

  test("q103 incremental == full q53 re-run restricted to the delta (stages 0-6b, divergences engineered out)") {
    import spark.implicits._
    import graft.operators.TextOps
    // letter-only words: the frozen v1 quality cutoffs must not gate
    // the delta for incidental reasons (digit-bearing ids shift
    // alpha_ratio), so every corpus word is alphabetic
    val abc = (n: Int) => n.toString.map(c => ('a' + (c - '0')).toChar).mkString
    val uniq = (i: Int) => (0 until 24).map(j => s"w${abc(i)}q${abc(j)}").mkString(" ")
    // doc 8 is BOTH corpora's p5 cutoff donor: shortest n_chars AND
    // lowest alpha_ratio, and it lives in v1 — so the frozen v1
    // cutoffs EQUAL the full re-run's union cutoffs exactly, and the
    // quality-gate divergence is engineered out of this corpus
    val cutoffDonor = (0 until 20).map(j => s"a$j").mkString(" ")
    val winRun = "k1w k2w k3w k4w k5w k6w" // a 6-token run, never 8 aligned words
    val phrase = (i: Int) => s"p${i}a p${i}b p${i}c p${i}d p${i}e"
    val v1Rows = Seq(
      (1L, "en", uniq(1)), (2L, "es", uniq(2)), (3L, "de", uniq(3)),
      (4L, "fr", uniq(4)), (5L, "zh", uniq(5)),
      (6L, "en", s"${uniq(6)} $winRun"),
      (7L, "en", (1 to 4).map(phrase).zipWithIndex
        .map { case (p, j) => s"$p uq$j" }.mkString(" ")),
      (8L, "en", cutoffDonor))
    val deltaRows = Seq(
      (101L, "en", uniq(1)),            // exact dup of shipped doc 1 -> drops
      (102L, "en", uniq(102)),          // clean -> survives verbatim
      (104L, "en", uniq(102)),          // within-delta dup of 102 -> drops
      (105L, "en", uniq(900)),          // benchmark copy -> decon drops
      // repeats v1 doc 6's 6-token window inside otherwise-unique text
      // (no 8-word aligned segment matches) -> exactly that span cut
      (103L, "en", s"${uniq(31)} $winRun ${uniq(32)}"),
      // shares doc 7's four 5-word phrases: 8+ of ~28 distinct shingles
      // duplicated against v1 (> 20%) -> memorization gate drops
      (106L, "en", (1 to 4).map(phrase).zipWithIndex
        .map { case (p, j) => s"$p ur$j" }.mkString(" ")))
    val bench = Seq((9001L, uniq(900))).toDF("doc_id", "text")
    val v1df = v1Rows.toDF("doc_id", "lang", "text")
    val ddf = deltaRows.toDF("doc_id", "lang", "text")

    val st = Pipeline.curateState(v1df, bench, target, ruleGate = false)
    val inc = Pipeline.curateDeltaDocs(ddf, st)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val full = Pipeline.chainStages(v1df.union(ddf), bench,
        segWords = 8, shingleN = 4, gatePct = 5, subK = 6,
        ruleGate = false, memCutMyriad = 2000)
      .mem.filter(col("doc_id") >= 100L)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(inc == full,
      s"incremental must equal the full re-run on the delta:\n inc-only=${inc -- full}\n full-only=${full -- inc}")
    // the planted behaviors, named
    val ids = inc.map(_._1)
    assert(ids == Set(102L, 103L), s"survivors: $ids")
    assert(!inc.exists(_._3.contains("k1w")),
      "the v1-repeated window must be cut from doc 103")
  }

  test("q103c advance: month-3 over (v1 + delta2) state == full re-run on delta3; stale v1 state provably misses month-2 dups") {
    import spark.implicits._
    val abc = (n: Int) => n.toString.map(c => ('a' + (c - '0')).toChar).mkString
    val uniq = (i: Int) => (0 until 24).map(j => s"w${abc(i)}q${abc(j)}").mkString(" ")
    val cutoffDonor = (0 until 20).map(j => s"a$j").mkString(" ")
    val winRunB = "m1w m2w m3w m4w m5w m6w" // delta2's 6-token run
    val phraseB = (i: Int) => s"r${i}a r${i}b r${i}c r${i}d r${i}e"
    val v1Rows = Seq(
      (1L, "en", uniq(1)), (2L, "es", uniq(2)), (3L, "de", uniq(3)),
      (4L, "fr", uniq(4)), (5L, "zh", uniq(5)),
      (8L, "en", cutoffDonor)) // the p5 cutoff donor for EVERY corpus
    val d2Rows = Seq(
      (101L, "en", uniq(102)),                          // ships in month 2
      (102L, "en", s"${uniq(41)} $winRunB ${uniq(42)}"), // ships, carries the run
      (103L, "en", (1 to 4).map(phraseB).zipWithIndex
        .map { case (p, j) => s"$p vq$j" }.mkString(" "))) // ships, carries the phrases
    val d3Rows = Seq(
      (201L, "en", uniq(102)),  // exact dup of SHIPPED month-2 doc 101
                                //   -> drops ONLY with the advanced state
      (202L, "en", uniq(202)),  // clean -> survives
      (205L, "en", uniq(1)),    // exact dup of v1 doc 1 -> drops under BOTH states
      // repeats month-2's window run inside otherwise-unique text
      (203L, "en", s"${uniq(51)} $winRunB ${uniq(52)}"),
      // shares month-2 doc 103's four phrases (> 20% of its shingles)
      (204L, "en", (1 to 4).map(phraseB).zipWithIndex
        .map { case (p, j) => s"$p vr$j" }.mkString(" ")))
    val bench = Seq((9001L, uniq(900))).toDF("doc_id", "text")
    val v1df = v1Rows.toDF("doc_id", "lang", "text")
    val d2df = d2Rows.toDF("doc_id", "lang", "text")
    val d3df = d3Rows.toDF("doc_id", "lang", "text")

    val st1 = Pipeline.curateState(v1df, bench, target, ruleGate = false)
    val st2 = Pipeline.advanceState(d2df, st1)
    val inc = Pipeline.curateDeltaDocs(d3df, st2)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val full = Pipeline.chainStages(v1df.union(d2df).union(d3df), bench,
        segWords = 8, shingleN = 4, gatePct = 5, subK = 6,
        ruleGate = false, memCutMyriad = 2000)
      .mem.filter(col("doc_id") >= 200L)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(inc == full,
      s"month-3 over advanced state must equal the full re-run on delta3:\n" +
        s" inc-only=${inc -- full}\n full-only=${full -- inc}")
    val ids = inc.map(_._1)
    assert(ids == Set(202L, 203L), s"survivors: $ids")
    assert(!inc.exists(_._3.contains("m1w")),
      "the month-2-repeated window must be cut from doc 203")
    // the DIFFERENTIAL: against the stale v1-only state, the month-2
    // dup (201) and the month-2 window/phrase repeats all slip through
    val stale = Pipeline.curateDeltaDocs(d3df, st1)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(stale.contains(201L),
      "stale v1 state must MISS the month-2 exact dup (that is the bug advance fixes)")
    assert(stale(203L).contains("m1w"),
      "stale v1 state must miss the month-2 window repeat")
    assert(stale.contains(204L),
      "stale v1 state must miss the month-2 phrase memorization")
  }

  test("q103 frozen stage 7/8: delta admits under v1 rates + vocab; state round-trips through ModelStore") {
    import spark.implicits._
    val abc = (n: Int) => n.toString.map(c => ('a' + (c - '0')).toChar).mkString
    val uniq = (i: Int) => (0 until 24).map(j => s"w${abc(i)}q${abc(j)}").mkString(" ")
    val v1Rows = (1 to 10).map(i =>
      (i.toLong, Seq("en", "es", "de", "fr", "zh")(i % 5), uniq(i)))
    val deltaRows = (101 to 108).map(i => (i.toLong, "en", uniq(i)))
    val bench = Seq((9001L, uniq(900))).toDF("doc_id", "text")
    val v1df = v1Rows.toDF("doc_id", "lang", "text")
    val ddf = deltaRows.toDF("doc_id", "lang", "text")
    val st = Pipeline.curateState(v1df, bench, target, ruleGate = false)
    assert(st.vocab.nonEmpty && st.ratesMyriad.keySet == target.keySet)
    val spans = Pipeline.curateDelta(ddf, st).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // only delta docs pack, into the delta's OWN shards from offset 0
    assert(spans.nonEmpty && spans.forall(_._3 >= 101L))
    // admission is the frozen 'mixtok:' rule at v1's en rate: replay it
    val enRate = st.ratesMyriad("en")
    import graft.operators.Dedup.ReplayableHash.{a, b, P}
    val admittedIds = deltaRows.map(_._1).filter { id =>
      val h = graft.functions.PolyHashExpr.hash("mixtok:" + id)
      ((a(214) * h + b(214)) % P) % 10000L < enRate
    }.toSet
    assert(spans.map(_._3).toSet == admittedIds,
      s"packed docs must be exactly the frozen-rate admissions: ${spans.map(_._3).toSet} vs $admittedIds")

    // ModelStore round trip: the loaded artifact reproduces the spans
    val dir = java.nio.file.Files.createTempDirectory("curate_state").toString
    ModelStore.saveCurateState(spark, dir, st, version = 2L)
    val loaded = ModelStore.loadCurateState(spark, dir)
    assert(loaded.vocab == st.vocab && loaded.ratesMyriad == st.ratesMyriad &&
      loaded.lenCut == st.lenCut && loaded.alphaCut == st.alphaCut)
    val spans2 = Pipeline.curateDelta(ddf, loaded).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(spans2.sorted.toSeq == spans.sorted.toSeq,
      "the LOADED curate_state must reproduce the delta spans exactly")
  }
}
