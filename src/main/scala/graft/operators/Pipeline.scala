package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q53: the end-to-end curation pipeline — the stage chain a real
  * training-data run executes, composed from the library's own
  * operators so a user gets the whole corpus→sequences path in one
  * call (the reference's topology is likewise a composition,
  * streams/src/main/java/dev/buesing/ksd/streams/Streams.java:99-169 —
  * rekey → join → explode → enrich → reassemble; this is that idea at
  * training-data scale):
  *
  *   0. unicode canonicalization (q75, since late r11): NFC +
  *      control/zero-width strip + whitespace collapse on corpus AND
  *      benchmark text before any hashing — encoding-variant
  *      duplicates must land in the same digest groups, and a
  *      decomposed benchmark copy must still register as
  *      contamination;
  *   0b. rule battery (q70, since post-r76): the rule-FIRST drop —
  *      Gopher-style document-shape gates (word count, mean word
  *      length, symbol/alpha ratios, stopword presence) as a
  *      stateless conjunction, run before any hashing so the
  *      expensive stages never pay for junk documents (rule-first
  *      ordering is the battery's whole point at 100 TB);
  *   1. exact dedup (q20): canonical doc per normalized-text group;
  *   2. segment dedup (q52): cross-document boilerplate stripped,
  *      cleaned text REPLACES the original downstream;
  *   3. substring dedup (q71, since late r11): unaligned duplicated
  *      spans the 8-word-aligned segment pass cannot see are cut by
  *      the ExactSubstr keep-first rule — the RefinedWeb/Lee et al.
  *      residue pass, run on the segment-cleaned text so the two
  *      dedup stages compose (aligned boilerplate first, unaligned
  *      residue second);
  *   4. quality gate (q46, since r11): corpus-percentile admission on
  *      the CLEANED text — docs below the p`gatePct` length or alpha
  *      cutoff drop (the "drop the bottom 5%" rule a production
  *      filter is specified with); cutoffs come from the q46
  *      deterministic bottom-k-by-hash sketch, so the gate replays
  *      exactly in the oracle;
  *   5. decontamination (q38): docs sharing any `shingleN`-gram with
  *      the benchmark dropped — on the CLEANED text (boilerplate
  *      removed first means boilerplate alone cannot shield or cause
  *      a contamination hit);
  *   6. PII redaction (q58, since r11): emails/IPs/phones replaced by
  *      fixed tokens BEFORE tokenizer training — the production order
  *      (a vocab must never memorize an email), and the redacted text
  *      is what tokenizes and packs;
  *   6b. memorization gate (q84, since r12): docs whose residual
  *      cross-document shingle-duplication ratio exceeds
  *      `memCutMyriad`/10⁴ drop before tokenizer training and packing
  *      — the duplication-risk pass a release pipeline runs last
  *      (Lee et al. 2022 / Carlini et al. 2022: duplicated training
  *      text is what models memorize; the dedup stages 1–3 REMOVE
  *      aligned and ≥subK-word duplication, this gate DROPS the docs
  *      still dominated by shorter cross-doc repetition those passes
  *      cannot cut). Integer predicate n_dup·10⁴ ≤ cut·n_shingles —
  *      no float threshold to drift; docs with no shingles carry no
  *      signal and pass. `memCutMyriad < 0` disables; the REGISTERED
  *      config runs it at 2000 (drop when >20% of a doc's distinct
  *      shingles are cross-doc duplicated);
  *   7. tokenizer-budget mixture (q51 + q48b): the subword vocab
  *      trains on the CURATED corpus (not the raw one — tokenizer
  *      training after cleaning is the production order), per-language
  *      token budgets solved and admitted by the replayable hash rule;
  *   8. sequence packing (q47b): admitted docs packed into
  *      fixed-capacity chunks on their REAL token counts.
  *
  * Output: q47's span schema (shard, chunk, doc_id, tok_start,
  * n_toks). Every stage is individually oracle-exact and the whole
  * chain replays in DuckDB as one CTE pipeline — the composition is
  * itself hash-checked against the oracle, which pins the stage
  * ORDER, not just each stage's semantics.
  *
  * Scale: the stages share no state beyond the flowing frame; the
  * chain is exactly as distributed as its parts (q20 one hash
  * exchange; q52 narrow-hash + one text exchange; q38 a broadcast of
  * the benchmark shingle set; q48b one tiny rate aggregate over the
  * checkpointed token frame; q47 shard-local windows — no global
  * sort anywhere). The only driver-side materialization is the
  * tokenizer vocab (≤ m short strings, q51's documented collect).
  *
  * Execution: the chain functions ([[curate]], [[curateState]],
  * [[curateDeltaDocs]], [[curateDelta]], [[advanceState]]) EXECUTE
  * their stages while building the frame. Every stage that feeds two or
  * more consumers is computed once through [[Materializer]] before the
  * next stage is planned (left lazy, each consumer replays the whole
  * upstream lineage), so construction runs the chain's jobs and the
  * returned frame's plan starts at the last checkpoint. The checkpoints
  * are `localCheckpoint` blocks: single-node semantics, held in executor
  * storage with the lineage truncated, so they do NOT survive an
  * executor loss — a lost executor fails the job instead of recomputing
  * the stage. Blocks are freed when their frames are GC'd or unpersisted
  * (`spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())`,
  * the bench's per-slot hygiene). A multi-job production run writes the
  * stages to the distributed store between jobs instead
  * (ModelStore.saveCurateState is that path for the release state).
  */
object Pipeline {
  import Materializer.materialize

  /** The chain's stage-0..6b intermediates — ONE definition (r14)
    * shared by [[curate]], [[curateState]] (q103's frozen-artifact
    * builder), and the specs, so the full chain and the incremental
    * path cannot drift in any stage's semantics.
    */
  private[graft] case class ChainOut(
      ruled: DataFrame, canon: DataFrame, cleaned: DataFrame,
      subbed: DataFrame, lenCut: Option[Double], alphaCut: Option[Double],
      gated: DataFrame, decon: DataFrame, red: DataFrame, mem: DataFrame)

  def curate(documents: DataFrame, benchmark: DataFrame,
             targetMyriad: Map[String, Int],
             segWords: Int = 8, shingleN: Int = 4,
             vocabM: Int = 64, maxN: Int = 4,
             capacity: Int = 512, shards: Int = 8,
             gatePct: Int = 5, subK: Int = 6,
             ruleGate: Boolean = true,
             memCutMyriad: Int = 2000,
             sourceQuotaMyriad: Map[String, Int] = Map.empty,
             urlGate: Boolean = false): DataFrame = {
    // stage −1 (q105, r15 verdict task #3): URL/domain filtering — the
    // RefinedWeb ordering, BEFORE any content stage: origin-level junk
    // never reaches normalization, hashing, or the corpus statistics
    // (cutoffs, vocab, rates all derive from the GATED corpus, exactly
    // as a crawl pipeline that never fetched those pages). The knob
    // plants urls from doc_id (the documents table carries none — the
    // q58 planted-PII discipline); a corpus with a real url column
    // composes UrlFilter.urlRules directly instead.
    // inline predicate (r17): the planted-url rules are a pure per-row
    // function of doc_id, so the gate is a direct filter — no second
    // scan, no join (expression shared with urlFilterPlanted)
    val corpus =
      if (!urlGate) documents
      else documents.filter(UrlFilter.plantedPassCol(col("doc_id")))
    val c = chainStages(corpus, benchmark, segWords, shingleN, gatePct,
      subK, ruleGate, memCutMyriad)
    // 7. vocab trained on the curated corpus; token-budget admission —
    // per-LANGUAGE (q48b, the default) or per-SOURCE (q90, the
    // `sourceQuotaMyriad` knob, r13): release recipes increasingly
    // specify budgets by SOURCE (DoReMi / Pile domain weights), so a
    // non-empty source-quota map REPLACES the language mixture with
    // q90's admission — same shared solveRates/admitAtRates machinery
    // (index 236, 'srcq:'), so the two paths cannot drift in rate
    // arithmetic. The chain dropped `source` at stage 0 (it is
    // immutable per doc_id), so the quota stage re-attaches it with
    // ONE key-only join against the raw table — keys and a short
    // string in the exchange, never text (the q97 shape). UniMax
    // (q96) composes: feed its allocations as shares
    // (alloc·10⁴ div B) — PipelineSpec exercises exactly that.
    val vocab = TextOps.tokenizerVocabSeq(c.mem, vocabM, maxN)
    val admitted =
      if (sourceQuotaMyriad.isEmpty)
        TextOps.mixtureSolveTokenized(c.mem, targetMyriad, vocab, maxN)
      else
        TextOps.sourceQuota(
          c.mem.select("doc_id", "text")
            .join(documents.select("doc_id", "source"), "doc_id"),
          sourceQuotaMyriad, vocab, maxN)
    // 8. pack the admitted docs on their tokenizer counts
    TextOps.packCore(
      admitted.select(col("doc_id"), col("n_tokens").as("n_tok")),
      capacity, shards)
  }

  private[graft] def chainStages(
      documents: DataFrame, benchmark: DataFrame,
      segWords: Int, shingleN: Int, gatePct: Int, subK: Int,
      ruleGate: Boolean, memCutMyriad: Int): ChainOut = {
    // 0. unicode canonicalization (q75, since late r11) — the
    // production opening move: NFC + control/zero-width strip +
    // whitespace collapse BEFORE any hashing, so encoding-variant
    // duplicates ("café" composed vs decomposed) land in the same
    // dedup groups instead of slipping every digest-keyed stage.
    // A stateless narrow projection (zero-copy on full-ASCII rows);
    // null text propagates.
    val docs0 = documents.select(col("doc_id"), col("lang"),
      TextOps.normalizeCol(col("text")).as("text"))
    // 0b. rule battery (q70, since post-r76) — the rule-FIRST drop
    // every web curation pipeline runs before any expensive stage:
    // a stateless conjunction of document-shape gates, cheapest
    // filter first so dedup/shingling never pay for junk documents.
    // Runs on the canonicalized text (metrics must not see control
    // chars); null text fails the word-count rule and drops here,
    // in both engines.
    // `ruleGate = false` bypasses the battery for corpora whose
    // synthetic vocabularies can't satisfy it (hand-planted spec
    // corpora use digit-bearing words that fail the alpha rule) —
    // the registered configuration keeps it ON.
    // INLINE filter (r17): the battery is a pure per-row predicate, so
    // running gopherRules on a second copy of docs0 and joining the
    // pass set back evaluated the stage-0 normalize prefix TWICE and
    // paid a join; gopherFilter keeps one pass and zero joins
    // (identical rows — the rule expressions are shared).
    // ruled/canon each feed TWO+ consumers (the dedup pair below, plus
    // curateState's digest projections): un-checkpointed they replayed
    // the stage-0/0b prefix once per consumer (r16 measurement: q103's
    // single executed plan carried 516 parquet scans — the recompute
    // cascade, not ReuseExchange, is what lazy sharing buys here).
    val ruled = materialize(
      if (!ruleGate) docs0
      else QualityRules.gopherFilter(docs0))
    // 1. exact dedup — survivors keep their canonical text and lang
    val canon = materialize(TextOps.dedupExact(ruled).select("doc_id")
      .join(ruled, "doc_id"))
    // 2. segment dedup — cleaned text replaces the original
    val cleaned = materialize(TextOps.segmentDedup(canon, segWords)
      .select(col("doc_id"), col("clean_text").as("text"))
      .join(canon.select("doc_id", "lang"), "doc_id"))
    // 3. substring dedup — unaligned duplicated spans cut from the
    // segment-cleaned text (q71 keep-first)
    val subbed = cutSubstrings(cleaned, ExactSubstr.windowStarts(cleaned, subK), subK)
    // 4. quality gate: p`gatePct` cutoffs from the cut corpus
    // (2-row driver collect — the trainCodebook scalar protocol),
    // applied as a filter. q103 freezes these SAME cutoffs for a delta.
    val (lenCut, alphaCut) = qualityCutoffs(subbed, gatePct)
    val gated = qualityGate(subbed, lenCut, alphaCut)
    // 5. decontamination against the CANONICALIZED benchmark (stage-0
    // form on both sides: a decomposed benchmark copy still hits)
    val bench0 = benchmark.select(col("doc_id"),
      TextOps.normalizeCol(col("text")).as("text"))
    val decon = materialize(TextOps.decontaminate(gated, bench0, shingleN)
      .filter(col("contaminated") === 0).select("doc_id")
      .join(gated, "doc_id"))
    // 6. PII redaction — the redacted text is what trains + tokenizes
    // (checkpointed: the vocab collect and the mixture solve both act
    // on it).
    // INLINE projection (r17): redaction is a pure per-row transform;
    // stage 6 only needs the redacted text, so the piiRedact
    // counts (three extra regexp passes over the corpus) and the
    // join-back are skipped — same rows, same (doc_id, text, lang).
    val red = materialize(decon.select(col("doc_id"),
      TextOps.piiRedactCol(col("text")).as("text"), col("lang")))
    // 6b. memorization gate (q84) — the duplication-risk drop before
    // training: risk computed ON the redacted corpus (both the df
    // table and the ratios — the stage sees exactly what would train),
    // integer myriad predicate so the oracle replays it. The postings
    // machinery is q38's (narrow hash frame, text never shuffles).
    // Materialized like the other text stages (r17): mem feeds TWO
    // heavy consumers downstream (the vocab aggregate and the
    // mixture/quota tokenizer pass), which otherwise each replay the
    // whole stage-6b postings machinery on top of red.
    val mem =
      if (memCutMyriad < 0) red
      else materialize(TextOps.memorizationRisk(red, shingleN)
        .filter(col("n_dup") * lit(10000L) <=
          lit(memCutMyriad.toLong) * col("n_shingles"))
        .select("doc_id")
        .join(red, "doc_id"))
    ChainOut(ruled, canon, cleaned, subbed, lenCut, alphaCut,
      gated, decon, red, mem)
  }

  /** Stage 3's cut, shared by the batch and delta chains: every token
    * covered by a marked `subK`-word window start drops; a NULL
    * original stays NULL (the stage-2 discipline), and the cut text is
    * what every later stage sees. The marked-start frame is narrow
    * (doc_id + int positions, no text — the q69 docB class) and is
    * checkpointed: without it every downstream consumer would re-derive
    * the whole window machinery on top of the stage-1/2 lineage
    * (measured past single-JVM execution memory at 10× bench scale).
    * The cut itself is then one broadcast-scale join + a pure map, so
    * each downstream pass still evaluates the corpus text exactly as
    * often as it did before this stage existed.
    */
  private def cutSubstrings(cleaned: DataFrame, starts: DataFrame,
                            subK: Int): DataFrame =
    materialize(cleaned
      .join(materialize(starts), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("text"),
        coalesce(col("starts"), array().cast("array<int>")).as("st"),
        filter(split(lower(TextOps.wsTrim(col("text"))), "\\s+"),
          t => length(t) > 0).as("toks"))
      .select(col("doc_id"), col("lang"),
        when(col("text").isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ", expr(
            s"filter(toks, (t, j) -> NOT exists(st, p -> j+1 >= p AND j+1 < p + $subK))")))
          .as("text")))

  /** The frozen p`pct` quality cutoffs (n_chars, alpha_ratio) of a
    * corpus, from the q46 sketch — the pair batch stage 3 applies and
    * q103 freezes from the v1 release. None = the metric's
    * sample was empty (no distribution → no gate on that metric).
    * Driver-side cost: ONE 2-row collect.
    */
  def qualityCutoffs(corpus: DataFrame, pct: Int = 5,
                     k: Int = 1024): (Option[Double], Option[Double]) = {
    val rows = TextOps.quantileGate(corpus, k = k, percentiles = Seq(pct))
      .select(col("metric"), col("cutoff")).collect()
    def cut(m: String): Option[Double] = rows.find(_.getString(0) == m)
      .flatMap(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    (cut("n_chars"), cut("alpha_ratio"))
  }

  /** Stage-4 admission: docs whose cleaned n_chars and alpha_ratio
    * clear the cutoffs (>= — the cutoff value itself passes). A doc
    * with a NULL ratio (empty cleaned text) fails a present cutoff,
    * exactly as in SQL three-valued logic — the oracle's WHERE clause
    * is the same predicate.
    */
  def qualityGate(cleaned: DataFrame, lenCut: Option[Double],
                  alphaCut: Option[Double]): DataFrame = {
    val keep = TextOps.qualityScore(cleaned)
      .select(col("doc_id"), col("n_chars"), col("alpha_ratio"))
      .filter(
        lenCut.map(c => col("n_chars") >= lit(c)).getOrElse(lit(true)) &&
        alphaCut.map(c => col("alpha_ratio") >= lit(c)).getOrElse(lit(true)))
    cleaned.join(keep.select("doc_id"), "doc_id")
  }

  // ------------------------------------------------------------------
  // q103: INCREMENTAL RELEASE CURATION (r13 verdict task #4) — a
  // monthly 100 TB release never recurates from scratch: curate ONLY
  // the delta (v2's added/changed docs, the q83 diff) against the v1
  // release's FROZEN artifacts, emitting the same span schema.
  // ------------------------------------------------------------------

  /** Everything q103 freezes from the v1 release — the chain's
    * offline-solved scalars (vocab, rates, quality cutoffs, gate knobs)
    * plus the cross-document state the batch chain's dedup stages
    * need, read as tables:
    *
    *  - `canonDigests` (h): md5 of every v1 RULED doc's normalized
    *    text — a delta doc matching one is an exact dup of shipped
    *    content and drops at stage 1;
    *  - `segDigests` (h): every distinct aligned segment of v1's canon
    *    corpus — a delta copy is cross-document boilerplate (v1 plus
    *    this doc = two docs) and is stripped at stage 2;
    *  - `winDigests` (h): every distinct q71 window of v1's
    *    segment-cleaned corpus — every v1 occurrence precedes every
    *    delta occurrence, so a delta window matching one is never the
    *    keep-first copy (ALL its delta occurrences cut at stage 3);
    *  - `corpusShingles` (shingle): every distinct q38-family shingle
    *    of v1's REDACTED corpus — a delta doc's shingle matching one
    *    has document frequency ≥ 2 across the combined release, so it
    *    counts toward the stage-6b memorization ratio (note this is
    *    the FULL distinct set, not only the df>1 shingles: the df=1
    *    shingles are exactly the ones a single delta re-occurrence
    *    flips to duplicated);
    *  - `benchShingles` (shingle): the frozen benchmark set (stage 5);
    *  - `vocab`/`ratesMyriad`/`lenCut`/`alphaCut` and the gate knobs:
    *    the frozen scalars — a delta must admit
    *    under the release's published tokenizer, mixture, and quality
    *    percentiles, not re-derive them from its own skewed sample.
    *
    * Frame fields are DataFrames end to end (duplication-sized state
    * never collects); persist and
    * reload the whole bundle via ModelStore family `curate_state`.
    *
    * DOCUMENTED DIVERGENCES from a full q53 re-run on v1 ∪ delta,
    * restricted to the delta (PipelineSpec pins equality outside them):
    * vocab/rates/cutoffs are frozen (above); v1's own text is frozen —
    * a NEW v1↔delta segment duplication re-cleans the v1 doc in a full
    * re-run (changing its windows) but never retroactively here (v1
    * is shipped and never retracted); and the delta packs into its OWN
    * shards from offset 0 (an incremental release ships new shard
    * files, never rewrites v1's).
    */
  case class CurateState(vocab: Seq[String], ratesMyriad: Map[String, Long],
                         lenCut: Option[Double], alphaCut: Option[Double],
                         memCutMyriad: Int, ruleGate: Boolean,
                         segWords: Int, shingleN: Int, maxN: Int,
                         capacity: Int, shards: Int, subK: Int,
                         benchShingles: DataFrame, canonDigests: DataFrame,
                         segDigests: DataFrame, winDigests: DataFrame,
                         corpusShingles: DataFrame)

  /** Freeze the v1 release's curation state: ONE chain run (the shared
    * [[chainStages]] — the same stages [[curate]] executes) plus the
    * digest projections of its intermediates.
    */
  def curateState(v1docs: DataFrame, benchmark: DataFrame,
                  targetMyriad: Map[String, Int],
                  segWords: Int = 8, shingleN: Int = 4,
                  vocabM: Int = 64, maxN: Int = 4,
                  capacity: Int = 512, shards: Int = 8,
                  gatePct: Int = 5, subK: Int = 6,
                  ruleGate: Boolean = true,
                  memCutMyriad: Int = 2000): CurateState = {
    val c = chainStages(v1docs, benchmark, segWords, shingleN, gatePct,
      subK, ruleGate, memCutMyriad)
    // the mem stage feeds BOTH the vocab collect and the rate solve —
    // chainStages materializes it once, so both read the checkpoint
    val vocab = TextOps.tokenizerVocabSeq(c.mem, vocabM, maxN)
    val rates = TextOps.tokenMixtureRates(c.mem, targetMyriad, vocab, maxN)
    val bench0 = benchmark.select(col("doc_id"),
      TextOps.normalizeCol(col("text")).as("text"))
    // Digest frames are NARROW (one digest/shingle column, the q69
    // docB class) but their lineage is the whole v1 chain: left lazy,
    // every delta-pass consumer (and advanceState's unions) re-ran the
    // v1 stages per reference (the r16 516-scan plan). Materializing
    // them makes the frozen state actually FROZEN in-session — the
    // production analog persists these tables to the store (which
    // ModelStore.saveCurateState does), so the checkpoint is the
    // single-node stand-in, not a new storage class.
    CurateState(vocab, rates, c.lenCut, c.alphaCut, memCutMyriad, ruleGate,
      segWords, shingleN, maxN, capacity, shards, subK,
      benchShingles = materialize(Dedup.postings(bench0, shingleN)
        .select(col("shingle")).distinct()),
      canonDigests = materialize(c.ruled
        .select(md5(TextOps.normText(col("text"))).as("h")).distinct()),
      segDigests = materialize(TextOps.segmentHashFrame(c.canon, segWords)
        .select(col("h")).distinct()),
      winDigests = materialize(ExactSubstr.windowHashFrame(c.cleaned, subK)
        .select(col("h")).distinct()),
      corpusShingles = materialize(Dedup.postings(c.red, shingleN)
        .select(col("shingle")).distinct()))
  }

  /** The delta chain's stage-0..6b intermediates (the incremental
    * [[ChainOut]] analog, r16) — exposed so [[advanceState]] can fold
    * exactly the frames the v1 state builder folds: ruled digests,
    * canon segments, cleaned windows, redacted shingles.
    */
  private[graft] case class DeltaChainOut(
      ruled: DataFrame, canon: DataFrame, cleaned: DataFrame,
      red: DataFrame, mem: DataFrame)

  /** The delta corpus after stages 0–6b against the frozen state —
    * exposed for the spec's "incremental == full re-run restricted to
    * the delta" assertion (stage 7/8 diverge by the frozen vocab/rates
    * contract, so the equality claim lives here).
    */
  def curateDeltaDocs(delta: DataFrame, st: CurateState): DataFrame =
    deltaChainStages(delta, st).mem

  /** The delta chain's text stages each feed two consumers (the
    * composed-select pair per stage), and the frozen state frames are
    * themselves referenced through every stage's lineage — left lazy,
    * the registered q103 plan carried 516 parquet scans / 870 exchanges
    * (q103c: 1354 / 2075) from the recompute cascade (r16), so every
    * stage is checkpointed. The delta is increment-sized (a monthly
    * run's NEW docs), so the eager per-stage checkpoint is cheap by
    * construction and is exactly the persist-stages-between-jobs
    * pattern a production incremental release runs.
    */
  private[graft] def deltaChainStages(delta: DataFrame,
                                      st: CurateState): DeltaChainOut = {
    // 0 + 0b: stateless, delta only — inline filter, one text pass,
    // no join (the r17 batch-chain rewrite, shared expressions)
    val docs0 = delta.select(col("doc_id"), col("lang"),
      TextOps.normalizeCol(col("text")).as("text"))
    val ruled =
      if (!st.ruleGate) docs0
      else QualityRules.gopherFilter(docs0)
    // 1. exact dedup: a v1-digest match drops (shipped content);
    // within the delta the smallest doc_id is canonical (batch q20)
    val withH = ruled.select(col("doc_id"), col("lang"), col("text"),
      md5(TextOps.normText(col("text"))).as("h"))
    val fresh = materialize(withH.join(st.canonDigests, Seq("h"), "left_anti"))
    val canon = materialize(fresh.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .join(fresh.drop("h"), "doc_id"))
    // 2. segment strip vs (within-delta dups ∪ v1 segments)
    val cleaned = materialize(TextOps.segmentDedupVs(canon, st.segWords, Some(st.segDigests))
      .select(col("doc_id"), col("clean_text").as("text"))
      .join(canon.select("doc_id", "lang"), "doc_id"))
    // 3. substring cut vs (within-delta keep-first ∪ v1 windows)
    val subbed = cutSubstrings(cleaned,
      ExactSubstr.windowStartsVs(cleaned, st.subK, st.winDigests), st.subK)
    // 4. quality gate at the FROZEN v1 cutoffs
    val gated = materialize(qualityGate(subbed, st.lenCut, st.alphaCut))
    // 5. decontamination against the frozen benchmark shingle set
    val dirty = Dedup.postings(gated, st.shingleN)
      .join(st.benchShingles, Seq("shingle"))
      .select(col("doc_id")).distinct()
    val decon = materialize(gated.join(dirty, Seq("doc_id"), "left_anti"))
    // 6. PII redaction (stateless) — inline projection, no counts, no
    // join (the r17 batch-chain rewrite)
    val red = materialize(decon.select(col("doc_id"),
      TextOps.piiRedactCol(col("text")).as("text"), col("lang")))
    // 6b. memorization gate: a shingle is duplicated when the delta
    // repeats it (df>1 within) OR v1 already contains it (that doc +
    // this one = df ≥ 2 across the release)
    val mem =
      if (st.memCutMyriad < 0) red
      else {
        val post = materialize(Dedup.postings(red, st.shingleN))
        val dupSh = post.groupBy(col("shingle")).agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).select(col("shingle"))
          .union(st.corpusShingles.select(col("shingle"))).distinct()
        val dup = post.join(dupSh, Seq("shingle"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
        val sizes = post.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
        red.join(sizes, Seq("doc_id"), "left")
          .join(dup, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_shingles", "n_dup"))
          .filter(col("n_dup") * lit(10000L) <=
            lit(st.memCutMyriad.toLong) * col("n_shingles"))
          .select(col("doc_id"), col("lang"), col("text"))
      }
    DeltaChainOut(ruled, canon, cleaned, red, mem)
  }

  /** q103c (r15 verdict task #2): ADVANCE the release state —
    * state_{k+1} = state_k ⊕ delta_k, the fold a production MONTHLY
    * release runs so month k+2's increment curates against everything
    * shipped through month k+1 instead of stale v1 state. Folds
    * EXACTLY the frames [[curateState]] folds, taken from the delta's
    * own incremental chain (so the advanced state describes the
    * release as actually shipped — v1 text frozen, delta text as
    * incrementally cleaned):
    *
    *  - `canonDigests` ∪ the delta's RULED-doc normalized digests
    *    (ruled level, not shipped level — mirrors the v1 builder, and
    *    matches a full re-run's canonical choice: an earlier cohort's
    *    copy is always the canonical one);
    *  - `segDigests`   ∪ the delta's post-dedup canon segments;
    *  - `winDigests`   ∪ the delta's segment-cleaned windows;
    *  - `corpusShingles` ∪ the delta's redacted shingles.
    *
    * vocab/rates/cutoffs stay FROZEN at v1's published values (the
    * q103 release contract: a release cycle re-derives those at major
    * versions, not per increment). Persist the result as a SUPERSEDING
    * ModelStore `curate_state` version (save with version k+1; the
    * resolve/pin lifecycle handles rollback).
    */
  def advanceState(delta: DataFrame, st: CurateState): CurateState = {
    val c = deltaChainStages(delta, st)
    // the advanced digest frames are the next increment's join sides —
    // materialize the unions (narrow frames) so month k+2's chain
    // reads frozen tables instead of replaying month k+1's delta chain
    // per reference (the production analog re-SAVES the superseding
    // ModelStore version, which is this checkpoint done durably)
    st.copy(
      canonDigests = materialize(st.canonDigests
        .union(c.ruled.select(md5(TextOps.normText(col("text"))).as("h")))
        .distinct()),
      segDigests = materialize(st.segDigests
        .union(TextOps.segmentHashFrame(c.canon, st.segWords).select(col("h")))
        .distinct()),
      winDigests = materialize(st.winDigests
        .union(ExactSubstr.windowHashFrame(c.cleaned, st.subK).select(col("h")))
        .distinct()),
      corpusShingles = materialize(st.corpusShingles
        .union(Dedup.postings(c.red, st.shingleN).select(col("shingle")))
        .distinct()))
  }

  /** Version constant for [[loadOrBuildReleaseState]]'s cached
    * artifact — BUMP whenever any chain stage's semantics change, or a
    * stale on-disk state would silently serve the old chain.
    */
  final val ReleaseStateVersion: Long = 1L

  /** q103b (r14 verdict task #5): the v1 `curate_state` built and
    * PERSISTED once per (sf dir, [[ReleaseStateVersion]]) under the
    * JVM tmpdir, then only LOADED — so the registered q103b entry (and
    * its bench pin) measures the INCREMENTAL pass alone, the
    * operator's true marginal cost in the monthly-release deployment,
    * where q103 deliberately rebuilds v1 inline every run (its
    * documented bench-cost note: ~⅔ of that wall is state
    * construction a production run loads from the store). Loading
    * skips the duplication-sized digest recompute by default (the
    * ModelStore `DuplicationSizedFamilies` trade), so the load cost is
    * the manifest + lazy parquet handles. Identical output to q103 by
    * the ModelStore round-trip contract (PipelineSpec) — the
    * registered oracle IS q103's SQL, the strongest same-semantics
    * statement.
    */
  /** Fingerprint of the SOURCE parquet behind a cached state: every
    * file's (name, length, mtime) folded into one long. Part of the
    * cache KEY (r16) — regenerated data at the same path changes the
    * fingerprint and so gets a fresh state dir instead of silently
    * serving the stale one.
    */
  private def dirFingerprint(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) return 0L
    var h = 1125899906842597L
    val it = f.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      h = h * 31 + st.getPath.getName.hashCode
      h = h * 31 + st.getLen
      h = h * 31 + st.getModificationTime
    }
    h
  }

  def loadOrBuildReleaseState(spark: org.apache.spark.sql.SparkSession,
                              sfDir: String,
                              targetMyriad: Map[String, Int]): CurateState = {
    // key = readable sanitized path + a hash of the RAW path (distinct
    // dirs can't collide through sanitization) + the source-data
    // fingerprint (regenerated data at the same path gets a fresh key)
    val fp = dirFingerprint(spark, s"$sfDir/documents.parquet")
    val disc = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(sfDir).toLong * 2654435761L + fp)
    val key = sfDir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + disc
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_curate_state/$key"
    val dir = graft.ModelStore.versionDir(base, ReleaseStateVersion)
    def committed = graft.ModelStore.listVersions(spark, base)
      .contains(ReleaseStateVersion)
    if (!committed) {
      val f = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.mkdirs(new org.apache.hadoop.fs.Path(base))
      // concurrent runs: exactly one builder wins the atomic
      // create-exclusive lock; the rest poll for the winner's commit
      // marker (the manifest) instead of racing the save
      val lock = new org.apache.hadoop.fs.Path(base, "build.lock")
      val acquired =
        try { f.create(lock, false).close(); true }
        catch { case _: java.io.IOException => false }
      if (acquired) {
        try {
          if (!committed) {
            val docs = graft.sources.Tables.documents(spark, sfDir)
            val bench = docs.filter(col("doc_id") % 97 === 0)
            val v1 = docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 7 =!= 0)
            val st = curateState(v1, bench, targetMyriad)
            graft.ModelStore.saveCurateState(spark, dir, st, ReleaseStateVersion)
          }
        } finally f.delete(lock, false)
      } else {
        val deadline = System.currentTimeMillis() + 600000L
        while (!committed && System.currentTimeMillis() < deadline)
          Thread.sleep(1000L)
        require(committed,
          s"curate_state build at $base held by another run did not commit " +
            "within 10 min — remove its build.lock if that run crashed")
      }
    }
    graft.ModelStore.loadCurateState(spark, dir)
  }

  /** q103 registered entry: stages 0–6b via [[curateDeltaDocs]], then
    * the FROZEN stage 7 (v1 vocab + v1 rates through the shared
    * index-214 'mixtok:' admission) and q47 packing of the delta into
    * its own shards.
    */
  def curateDelta(delta: DataFrame, st: CurateState): DataFrame = {
    val mem = curateDeltaDocs(delta, st)
    val admitted = TextOps.mixtureAdmitFrozen(mem, st.ratesMyriad,
      st.vocab, st.maxN)
    TextOps.packCore(
      admitted.select(col("doc_id"), col("n_tokens").as("n_tok")),
      st.capacity, st.shards)
  }
}
