package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-data-pipeline surface
  * (SURVEY.md §2 q20–q24) over the `documents` table.
  *
  * All ops are pure `functions._` column expressions — no UDFs — so the
  * whole pipeline stays inside whole-stage codegen and scales as a
  * single scan→project(→agg) plan: at 100 TB these are embarrassingly
  * parallel per-row transforms (bounded only by parquet scan
  * throughput) plus, for dedup, one hash-partitioned exchange on the
  * normalized-text hash.
  */
object TextOps {

  /** Trim ALL whitespace (built-in `trim` strips only 0x20 spaces —
    * tab/newline-padded text would otherwise tokenize wrong).
    */
  def wsTrim(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  /** Whitespace-normalized lowercase form used for exact dedup. */
  private[operators] def normText(c: Column): Column =
    regexp_replace(lower(wsTrim(c)), "\\s+", " ")

  /** Whitespace token count; 0 for blank text. */
  def wsTokens(c: Column): Column =
    when(length(wsTrim(c)) === 0, lit(0L))
      .otherwise(size(split(wsTrim(c), "\\s+")).cast("long"))

  /** q20: exact deduplication — hash-group documents on normalized text,
    * keep the smallest doc_id as the canonical representative.
    * One shuffle keyed by md5(norm) (fixed-width key, never the full
    * text) with map-side partial aggregation; at 100 TB this is the
    * standard first dedup pass before any fuzzy matching.
    */
  def dedupExact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(normText(col("text"))).as("text_hash"))
      .agg(
        min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_dups"))
      .select(col("doc_id"), col("text_hash"), col("n_dups"))

  /** q21: document fingerprinting — md5 of the raw text plus a 64-bit
    * polynomial rolling hash (base 31, mod 1e9+7, over code points).
    * The rolling hash is an order-sensitive content fingerprint (same
    * family the reference's changelog-compaction keys rely on: equal
    * content ⇒ equal key); computed by the codegen'd PolyHashExpr
    * kernel — ONE pass over the string. The original
    * `aggregate(transform(sequence(1, length(text)), i ->
    * ascii(substring(text, i, 1))), …)` formulation was O(len²):
    * UTF8String.substring walks from the string start per position
    * (the q27 r4 lesson, resurfaced by an r9 bench audit — q21 read
    * 1.7 s for a projection; kernel swap: ~0.4 s). Identical
    * arithmetic — the DuckDB oracle's per-character list_reduce
    * replay is unchanged and still hash-compares.
    */
  def docFingerprint(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5(col("text")).as("fp_md5"),
      graft.functions.VectorFunctions.poly_hash(col("text")).as("fp_poly"))

  /** q83: DATASET SNAPSHOT DIFF — the versioning audit every dataset
    * release ships (what changed between corpus v1 and v2: the HF
    * dataset-revision / DVC-style delta table): per doc_id one of
    * added / removed / changed / unchanged, decided by CONTENT digest
    * (md5 of the text), not by metadata.
    *
    * Scale shape: each side reduces to a (doc_id, digest, presence)
    * frame BEFORE the join, so the one shuffle carries fixed-width
    * digests — corpus text never enters the exchange (the q20
    * fixed-width-key rule). Presence is tracked by explicit flags,
    * NOT digest nullness: a document with NULL text still EXISTS in a
    * snapshot, and null-safe digest equality (`<=>` ↔ IS NOT DISTINCT
    * FROM) classifies null→null as unchanged in both engines.
    *
    * Output: (doc_id, status, h_old, h_new).
    */
  def datasetDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val a = oldSnap.select(col("doc_id"), md5(col("text")).as("h_old"),
      lit(1L).as("in_old"))
    val b = newSnap.select(col("doc_id"), md5(col("text")).as("h_new"),
      lit(1L).as("in_new"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(col("h_old") <=> col("h_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("h_old"), col("h_new"))
  }

  /** q22: token counting — whitespace tokens and a BPE-ish regex
    * tokenization (letter runs | digit runs | single punctuation), the
    * usual cheap proxy for subword token counts in corpus budgeting.
    */
  def tokenCount(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      wsTokens(col("text")).as("ws_tokens"),
      regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long").as("bpe_tokens"))

  /** q23: quality scoring — length plus alpha / punctuation / stopword /
    * whitespace ratios; integer counts divided once at the end so the
    * doubles are bit-identical across engines and partitionings.
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val stop = array(Seq("the", "a", "of", "and", "to", "in", "is", "it").map(lit): _*)
    // nullif'd denominators: an EMPTY (or whitespace-only) document is
    // routine in a web corpus, and under Spark 4's default ANSI mode a
    // raw 0/0 here is DIVIDE_BY_ZERO — one degenerate row would abort
    // the whole 100 TB job. Division by NULL is NULL in both ANSI
    // modes AND in DuckDB (the oracle SQL carries the same nullif), so
    // the ratios are NULL for such rows — which downstream consumers
    // (q46's sketch, filters) already skip.
    val n = nullif(length(col("text")).cast("double"), lit(0d))
    val w = nullif(wsTokens(col("text")).cast("double"), lit(0d))
    documents.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      wsTokens(col("text")).as("n_words"),
      (length(regexp_replace(col("text"), "[^A-Za-z]", "")) / n).as("alpha_ratio"),
      (length(regexp_replace(col("text"), "[^.,;:!?'\"]", "")) / n).as("punct_ratio"),
      (size(filter(split(lower(wsTrim(col("text"))), "\\s+"),
        t => array_contains(stop, t))).cast("double") / w).as("stopword_ratio"))
  }

  /** q33: vocabulary building — corpus-wide term frequency + document
    * frequency with a deterministic top-k cut. The workhorse of
    * tokenizer training and quality filtering at corpus scale: one
    * explode, one combined tf/df aggregation (df via countDistinct),
    * and a global TakeOrdered for the cut — no full sort of the vocab.
    */
  def vocabulary(documents: DataFrame, topK: Int = 100): DataFrame =
    documents
      .select(col("doc_id"), explode(split(lower(wsTrim(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(topK)

  /** q37: deterministic stratified sampling — the data-mixing primitive
    * of training-corpus construction (keep 100% of English, 50% of
    * Spanish, …). The keep decision is a PURE FUNCTION of the row key:
    * universal-hash(poly_hash("strat:" + doc_id)) mod 10000 < rate —
    * the (a·s + b) mod (2³¹−1) post-mix matters because the raw
    * polynomial hash of sequential id strings has no avalanche
    * (consecutive ids land in consecutive buckets, starving whole
    * strata). Rates are parts-per-myriad INTEGERS so no floating-point
    * rate arithmetic can drift between engines. Reproducible across
    * runs, partitionings,
    * and cluster sizes — no RNG state, unlike `df.sample`/`sampleBy`
    * whose per-partition seeds change under repartitioning. One narrow
    * scan, no shuffle; at 100 TB this is the cheapest possible mixing
    * pass and composes with any upstream filter pushdown.
    */
  def stratifiedSample(documents: DataFrame,
                       ratesPerMyriad: Map[String, Int]): DataFrame = {
    require(ratesPerMyriad.values.forall(r => r >= 0 && r <= 10000),
      "rates are parts-per-myriad in [0, 10000]")
    // deterministic fold order so the generated plan is stable
    val rateCol = ratesPerMyriad.toSeq.sortBy(_._1)
      .foldLeft(lit(0): Column) { case (acc, (lang, r)) =>
        when(col("lang") === lang, lit(r)).otherwise(acc)
      }
    val s = graft.functions.VectorFunctions.poly_hash(
      concat(lit("strat:"), col("doc_id").cast("string")))
    documents
      .withColumn("bucket",
        (lit(Dedup.ReplayableHash.a(200)) * s + lit(Dedup.ReplayableHash.b(200)))
          % lit(Dedup.ReplayableHash.P) % lit(10000L))
      .filter(col("bucket") < rateCol)
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  /** Per-language stopword marker lists for the n-gram/stopword
    * language-ID heuristic (q24). Tiny, broadcast as literals.
    */
  private val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por", "con"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "les", "des", "une", "est", "dans", "pour", "sur"),
    "zh" -> Seq("de5", "shi4", "bu4", "wo3", "zhe4", "le5", "ren2", "ni3"))

  /** q24: language identification — scores each language by stopword
    * hits over whitespace tokens, argmax with deterministic
    * lexicographic tie-break (greatest(struct…) orders by hits then
    * lang: ties resolve to the lexicographically LAST lang — the DuckDB
    * oracle's max-of-struct uses the identical field order). One row
    * per document; a per-row O(tokens × langs) expression, no shuffle.
    * The winning struct is hoisted into ONE column before field
    * extraction so the greatest-of-structs tree is built (and
    * evaluated) once, not per extracted field.
    */
  def langId(documents: DataFrame): DataFrame = {
    val toks = split(lower(wsTrim(col("text"))), "\\s+")
    val scored = langStops.map { case (lang, stops) =>
      val arr = array(stops.map(lit): _*)
      struct(
        size(filter(toks, t => array_contains(arr, t))).as("hits"),
        lit(lang).as("lang"))
    }
    documents.select(
        col("doc_id"),
        greatest(scored: _*).as("g"),
        col("lang").as("claimed_lang"))
      .select(
        col("doc_id"),
        col("g.lang").as("pred_lang"),
        col("g.hits").cast("long").as("stopword_hits"),
        col("claimed_lang"))
  }

  /** q38: train/eval DECONTAMINATION — the overlap check every
    * training-data pipeline runs before a model ships: flag corpus
    * documents sharing word n-grams with a benchmark/eval set (the
    * GPT-3/PaLM data papers use exactly this n-gram membership test).
    * Reuses the q25 posting machinery (distinct word n-grams as
    * SQL-replayable poly_hash keys), so the full pipeline is
    * oracle-checked.
    *
    * Scale: benchmark shingle sets are small next to the corpus (eval
    * sets are thousands of docs, the corpus billions) — the overlap
    * join broadcasts the benchmark side below the AQE threshold and
    * shuffle-joins above it; per-doc counting is one map-side-partial
    * aggregation. Output one row per corpus doc: n_shingles,
    * n_overlap, contaminated (0/1).
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    shingleN: Int = 4, minOverlap: Int = 1): DataFrame = {
    val corpusSh = Dedup.postings(corpus, shingleN)
    val benchSh = Dedup.postings(benchmark, shingleN)
      .select(col("shingle")).distinct()
    val overlap = corpusSh.join(benchSh, Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    val sizes = corpusSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    corpus.select(col("doc_id"))
      .join(sizes, Seq("doc_id"), "left")
      .join(overlap, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_shingles", "n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (col("n_overlap") >= minOverlap).cast("long").as("contaminated"))
  }

  /** q73: BLOOM-PREFILTERED decontamination — q38's semantics bit-for-bit
    * (same shingles, same counts, same contaminated flag; the oracle IS
    * q38's SQL), restructured around the classic bloom-join so the
    * corpus side never shuffles its full posting set:
    *
    *   1. benchmark shingles → ONE Spark `BloomFilterAggregate` (the
    *      engine's own runtime-filter sketch, reused as a declared
    *      operator — merge-invariant bitwise-OR combine, so the build
    *      is partition-deterministic);
    *   2. the serialized filter rides the plan as a foldable binary
    *      literal and `BloomFilterMightContain` (codegen'd, constant
    *      deserialized once per task) prefilters corpus postings
    *      map-side — only might-contain survivors enter the join;
    *   3. the exact confirm join against the benchmark shingle set
    *      kills the false positives, restoring q38's exact output.
    *
    * Why it exists next to q38: q38 broadcasts the benchmark SHINGLE
    * SET into the join — fine while the eval suite is thousands of
    * docs, but an all-benchmarks suite at 100 TB corpus scale can
    * reach 10⁸ shingles (~800 MB of long keys — past broadcast
    * comfort), forcing the join to shuffle EVERY corpus posting. The
    * bloom at ~10 bits/item is 64× smaller than the 8-byte key set
    * (10⁸ shingles ≈ 125 MB — still a broadcast), and after the ~0.8%
    * FP prefilter the confirm join's corpus side is contamination-
    * sized, not corpus-sized: either side now broadcasts, and the
    * corpus text/posting mass never enters an exchange. This is the
    * declared-operator form of the bloom Spark's own
    * InjectRuntimeFilter would only apply under a shuffle join, with
    * the threshold choices (bits/item, confirm side) in the
    * operator's hands.
    *
    * Sizing: one tiny count(distinct) action over the benchmark side
    * fixes the filter size (the trainCodebook scalar-sizing
    * protocol); the benchmark shingle frame is localCheckpoint'd once
    * and reused by the sizing count, the bloom build, and the confirm
    * join (the §8 eager-checkpoint rule — no CacheManager leak).
    *
    * Determinism: the bloom's BITS depend only on the inserted set
    * (fixed hash family, OR-combine), and false positives only ever
    * ADD rows to the confirm join's input, never decide the output —
    * so the result is exactly `decontaminate`'s for every input, which
    * the spec asserts frame-vs-frame and the driver hash-checks
    * against the shared oracle.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         shingleN: Int = 4, minOverlap: Int = 1,
                         bitsPerItem: Int = 10): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    require(bitsPerItem >= 2, "a usable bloom needs >= 2 bits per item")
    val corpusSh = Dedup.postings(corpus, shingleN)
    val benchSh = Dedup.postings(benchmark, shingleN)
      .select(col("shingle")).distinct().localCheckpoint(true)
    val nItems = math.max(benchSh.count(), 1L)
    val bloom = benchSh.agg(Bridge.column(
      BloomFilterAggregate(Bridge.expression(col("shingle")),
        Literal(nItems), Literal(nItems * bitsPerItem), 0, 0)
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pre = corpusSh.filter(Bridge.column(BloomFilterMightContain(
      Literal.create(bloom, org.apache.spark.sql.types.BinaryType),
      Bridge.expression(col("shingle")))))
    val overlap = pre.join(benchSh, Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    val sizes = corpusSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    corpus.select(col("doc_id"))
      .join(sizes, Seq("doc_id"), "left")
      .join(overlap, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_shingles", "n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (col("n_overlap") >= minOverlap).cast("long").as("contaminated"))
  }

  /** q81: per-BENCHMARK-ITEM contamination report — the flip side of
    * q38/q73 (those answer "which corpus docs are dirty?"; this
    * answers "how contaminated is each EVAL ITEM?"), i.e. the
    * eval-overlap table a dataset release publishes per benchmark
    * (the GPT-3 appendix-C / PaLM-style dirty-vs-clean accounting).
    * Per benchmark doc: its distinct-shingle count, how many of those
    * shingles appear anywhere in the corpus (n_hit_shingles), how
    * many distinct corpus docs share at least one shingle
    * (n_dirty_docs), and a `clean` flag (no corpus doc overlaps).
    *
    * Scale shape (the q38 inversion is what makes it cheap): the
    * BENCHMARK side is eval-suite-sized, so it broadcasts and the
    * corpus posting stream is filtered MAP-SIDE — only actual hits
    * (contamination-sized, not corpus-sized) ever enter an exchange.
    * The hit frame is localCheckpoint'd once (§8 eager-checkpoint
    * rule) because both aggregates consume it; re-deriving it would
    * re-shingle the corpus twice. Reference for the shingle contract:
    * Dedup.postings (q21 poly-hash fingerprint family), so the whole
    * report replays in DuckDB and hash-compares.
    */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
                          shingleN: Int = 4): DataFrame = {
    val corpusSh = Dedup.postings(corpus, shingleN)
    val benchSh = Dedup.postings(benchmark, shingleN)
      .withColumnRenamed("doc_id", "bench_id")
      .localCheckpoint(true)
    val hits = corpusSh
      .join(broadcast(benchSh), Seq("shingle"))
      .select(col("bench_id"), col("doc_id"), col("shingle"))
      .localCheckpoint(true)
    val dirty = hits.select(col("bench_id"), col("doc_id")).distinct()
      .groupBy(col("bench_id")).agg(count(lit(1)).as("n_dirty_docs"))
    val hitSh = hits.select(col("bench_id"), col("shingle")).distinct()
      .groupBy(col("bench_id")).agg(count(lit(1)).as("n_hit_shingles"))
    val sizes = benchSh.groupBy(col("bench_id")).agg(count(lit(1)).as("n_shingles"))
    benchmark.select(col("doc_id").as("bench_id"))
      .join(sizes, Seq("bench_id"), "left")
      .join(hitSh, Seq("bench_id"), "left")
      .join(dirty, Seq("bench_id"), "left")
      .na.fill(0L, Seq("n_shingles", "n_hit_shingles", "n_dirty_docs"))
      .select(col("bench_id"), col("n_shingles"), col("n_hit_shingles"),
        col("n_dirty_docs"),
        (col("n_dirty_docs") === 0L).cast("long").as("clean"))
  }

  /** q84: MEMORIZATION-RISK scoring — the duplication-driven signal
    * from the dedup literature (sequences repeated across a corpus
    * are the ones models memorize; Lee et al. 2021 §6, Carlini et al.
    * 2022): per document, the fraction of its distinct word
    * `shingleN`-grams that occur in MORE than `dfCap` distinct corpus
    * documents. High ratio = the document is mostly corpus-repeated
    * content (boilerplate, licenses, chain letters) — the docs to
    * drop or downweight before training even when no single near-dup
    * partner exists (the signal q25/q27 pairwise dedup cannot see).
    *
    * Three linear exchanges, each on narrow frames: postings → df
    * aggregate keyed by the 8-byte shingle hash (map-side partials),
    * postings⋈df equi-join on the hash (text never enters an
    * exchange — the q20 fixed-width-key rule), per-doc count
    * aggregate. dup_ratio is one double division replayed identically
    * in DuckDB (IEEE, both engines).
    *
    * Output: (doc_id, n_shingles, n_dup, dup_ratio); docs with no
    * shingles (null/short text) keep n_shingles=0 and a NULL ratio —
    * attributable, the q74 discipline.
    */
  def memorizationRisk(documents: DataFrame, shingleN: Int = 4,
                       dfCap: Int = 1): DataFrame = {
    // null-text docs contribute NO shingles (they keep their summary
    // row with n_shingles=0 / NULL ratio): made EXPLICIT because the
    // engines disagree on the implicit path — Spark's concat_ws
    // skips nulls and manufactures one empty shingle where DuckDB's
    // lambda chain propagates NULL to zero rows (probed r11).
    val post = Dedup.postings(documents.filter(col("text").isNotNull), shingleN)
    val df = post.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
    val dup = post.join(df, Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    val sizes = post.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    documents.select(col("doc_id"))
      .join(sizes, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_shingles", "n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        when(col("n_shingles") > 0,
          col("n_dup").cast("double") / col("n_shingles").cast("double"))
          .otherwise(lit(null).cast("double")).as("dup_ratio"))
  }

  /** q85: RETRIEVAL PASSAGE CHUNKING — the corpus→passages transform
    * every retrieval/RAG indexing pipeline runs before embedding:
    * sliding word windows of `window` tokens at `stride` (overlap =
    * window − stride keeps answers that straddle a boundary inside
    * at least one passage — the standard recipe; cf. the DPR-style
    * 100-word passage convention, Karpukhin et al. 2020 §3.1).
    * Chunk count k = 1 + ceil(max(len − window, 0) / stride) covers
    * every token; the tail chunk may be shorter. Text is preserved
    * VERBATIM (no lowering — retrieval passages embed the original
    * text; only the q22 whitespace-trim/split tokenization is shared).
    *
    * Scale: a stateless narrow projection — tokens materialized in a
    * projection BEFORE the transform lambda (the §8 per-element
    * re-evaluation rule), one generate, zero exchanges: the cheapest
    * operator class at 100 TB. Ceil is (a + stride − 1) div stride on
    * nonnegative ints — floor-div, identical in both engines.
    *
    * Output: (doc_id, chunk_id, n_words, chunk); null-text docs
    * produce no passages (explicit filter — the q84 engine-agreement
    * rule).
    */
  def chunkPassages(documents: DataFrame, window: Int = 64,
                    stride: Int = 32): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      "need 1 <= stride <= window")
    documents.filter(col("text").isNotNull)
      .select(col("doc_id"),
        split(wsTrim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), col("toks"),
        expr(s"1 + (greatest(size(toks) - $window, 0) + ${stride - 1}) div $stride").as("k"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, CAST(k - 1 AS INT)),
            i -> struct(size(slice(toks, i * $stride + 1, $window)) AS n,
                        concat_ws(' ', slice(toks, i * $stride + 1, $window)) AS c))""")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        col("col.n").cast("long").as("n_words"), col("col.c").as("chunk"))
  }

  /** q88: SOURCE-MIX composition table — the per-(source × lang)
    * breakdown every data-mixing run starts from (DoReMi, the Pile /
    * RedPajama composition tables weight by SOURCE; q48's mixture
    * solver consumes exactly these masses): doc counts, token mass,
    * and each cell's share of the corpus in myriad integer units
    * (`share_myriad` = tokens·10⁴ div total — replayable where a
    * float share would drift). The full 2-D CUBE — per (source,lang)
    * cell, per-source and per-lang marginals, and the corpus total —
    * in ONE grouping-sets aggregate, the shape both engines execute
    * natively; rollup tags are the literal "__total__" via grouping()
    * (never colliding with genuinely-null dimensions — the q76
    * discipline). The share denominator is the cube's own global row,
    * read by ONE bounded scalar collect (the trainCodebook protocol —
    * a constant-key self-join constant-folds into a BNLJ, probed r11)
    * and applied as a literal: the share pass is a pure map.
    * Overflow: 10¹³ corpus tokens × 10⁴ ≪ 2⁶³.
    */
  def sourceMix(documents: DataFrame): DataFrame = {
    val perDoc = documents.select(col("source"), col("lang"),
      when(col("text").isNull, lit(null).cast("long"))
        .otherwise(size(filter(split(lower(wsTrim(col("text"))), "\\s+"),
          t => length(t) > 0)).cast("long")).as("nt"))
    val cube = perDoc.cube(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("nt")), lit(0L)).as("n_tokens"),
        grouping(col("source")).as("gs"), grouping(col("lang")).as("gl"))
      .select(
        when(col("gs") === 1, lit("__total__")).otherwise(col("source")).as("source"),
        when(col("gl") === 1, lit("__total__")).otherwise(col("lang")).as("lang"),
        col("n_docs"), col("n_tokens"))
      .localCheckpoint(true) // consumed twice: the rows + the global row
    val tot: Long = cube
      .filter(col("source") === "__total__" && col("lang") === "__total__")
      .collect().headOption.map(_.getAs[Long]("n_tokens")).getOrElse(0L)
    cube.select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
      (if (tot > 0) expr(s"n_tokens * 10000 div ${tot}L")
       else lit(0L)).as("share_myriad"))
  }

  /** q75: canonical Unicode text normalization — the stage every
    * hashing/dedup pipeline runs FIRST (a decomposed "café" and a
    * composed one must hash identically, or exact dedup (q20),
    * shingle dedup (q25/q27) and substring dedup (q71) all silently
    * miss duplicates that differ only in encoding):
    *
    *   1. NFC canonical composition (NfcNormalizeExpr — the q75
    *      kernel; Spark has no built-in, the JDK and utf8proc both
    *      implement the stabilized Unicode algorithm, so the step is
    *      oracle-checkable);
    *   2. control / zero-width stripping: C0 (except \t \n \r), DEL,
    *      C1, ZWSP..ZWJ, BOM — the invisible characters that defeat
    *      text-identity comparisons (the pattern is in the Java∩RE2
    *      identical subset, the q58 discipline);
    *   3. whitespace canonicalization: trim + collapse runs to one
    *      space (post-strip the surviving whitespace alphabet is
    *      common to both regex engines).
    *
    * Output per doc: (doc_id, norm_text, n_removed, changed) —
    * n_removed counts stripped codepoints (step 2), changed flags any
    * difference from the input (null-safe: null text → null outputs,
    * changed 0). Stateless narrow projection — no shuffle, no join,
    * scan prunes to (doc_id, text): the q70 cheapest-possible
    * pre-pass class, and the ASCII fast path makes the NFC step free
    * on the rows that cannot change.
    */
  /** The q75 strip class: C0 (less \t \n \r), DEL, C1, ZWSP..ZWJ, BOM
    * — in the Java∩RE2-identical subset (the q58 discipline). Shared
    * by the operator and the q53 chain's stage 0.
    */
  private[graft] val CtrlClass =
    "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}" +
      "\\x{007F}-\\x{009F}\\x{200B}-\\x{200D}\\x{FEFF}]"

  /** The q75 canonical form as ONE column expression (NFC → strip →
    * trim+collapse) — the composition the chain's stage 0 applies.
    */
  private[graft] def normalizeCol(text: Column): Column =
    regexp_replace(wsTrim(regexp_replace(
      graft.functions.VectorFunctions.nfc_normalize(text), CtrlClass, "")),
      "\\s+", " ")

  def normalizeText(documents: DataFrame): DataFrame = {
    val ctrl = CtrlClass
    documents
      .select(col("doc_id"), col("text"),
        graft.functions.VectorFunctions.nfc_normalize(col("text")).as("nfc"))
      .select(col("doc_id"), col("text"), col("nfc"),
        regexp_replace(col("nfc"), ctrl, "").as("stripped"))
      .select(col("doc_id"), col("text"), col("nfc"), col("stripped"),
        regexp_replace(wsTrim(col("stripped")), "\\s+", " ").as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        (length(col("nfc")) - length(col("stripped"))).cast("long").as("n_removed"),
        (!(col("norm_text") <=> col("text"))).cast("long").as("changed"))
  }

  /** q39: repetition-based quality stats — the Gopher/C4 family of
    * repetitiousness filters: distinct-token ratio, the fraction of
    * 2-gram occurrences claimed by the single most frequent 2-gram,
    * and the fraction of 3-gram occurrences that are duplicates.
    * Every ratio is a division of two exactly-computed integer counts
    * (IEEE double division of small integers is bit-identical across
    * engines), so the operator is fully oracle-checked. One explode +
    * aggregation per gram width, no joins wider than doc_id.
    */
  def repetitionStats(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"),
      filter(split(lower(wsTrim(col("text"))), "\\s+"), t => length(t) > 0).as("toks"))

    val tokStats = toks.select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("t")).as("n_distinct"))

    def gramStats(n: Int, top: String, dup: String) = {
      val grams = toks.filter(size(col("toks")) >= n)
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(1, size(toks) - ${n - 1}),
              i -> concat_ws(' ', slice(toks, i, $n)))""")).as("g"))
      grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("total"),
          max(col("c")).as("mx"),
          sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dups"))
        .select(col("doc_id"),
          (col("mx").cast("double") / col("total").cast("double")).as(top),
          (col("dups").cast("double") / col("total").cast("double")).as(dup))
    }
    val g2 = gramStats(2, "top2gram_frac", "dup2gram_frac")
      .select(col("doc_id"), col("top2gram_frac"))
    val g3 = gramStats(3, "top3gram_frac", "dup3gram_frac")
      .select(col("doc_id"), col("dup3gram_frac"))

    documents.select(col("doc_id"))
      .join(tokStats, Seq("doc_id"), "left")
      .join(g2, Seq("doc_id"), "left")
      .join(g3, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_tokens", "n_distinct"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        when(col("n_tokens") > 0,
          col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("distinct_ratio"),
        coalesce(col("top2gram_frac"), lit(0.0)).as("top2gram_frac"),
        coalesce(col("dup3gram_frac"), lit(0.0)).as("dup3gram_frac"))
  }

  /** q40: per-document salient terms — top-k tokens ranked by
    * (tf DESC, df ASC, token ASC): high in-document frequency, low
    * corpus frequency, the tf-idf ORDER without tf-idf's
    * transcendental math (log() is not bit-stable across engines;
    * integer ranks are). The topic-tagging primitive of corpus
    * curation. df comes from one corpus-wide aggregation of the same
    * (doc, token) tf frame — exchange reuse, no second scan.
    */
  /** q45: heavy hitters through a Count-Min sketch — the top-k tokens'
    * exact counts beside their SKETCH estimates, from ONE fixed-memory
    * mergeable aggregate (CmsSketchAgg: width·depth counters, map-side
    * partials summing counter-wise). At 100 TB the sketch replaces the
    * full token aggregation wherever an εN-bounded overestimate
    * suffices (admission control, hot-key detection, stream state);
    * here the exact tf rides beside it so the bound is ASSERTED, and —
    * because the row hashes are the SQL-replayable family — the DuckDB
    * oracle reproduces every counter and every estimate exactly. The
    * sketch estimate can only overestimate: tf_est ≥ tf always, within
    * εN ≈ (e/width)·N w.h.p.
    */
  def heavyHitters(documents: DataFrame, k: Int = 20,
                   width: Int = 1024, depth: Int = 4): DataFrame = {
    val tok = documents
      .select(explode(split(lower(wsTrim(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .select(col("token"), graft.functions.VectorFunctions.poly_hash(col("token")).as("s"))
    val sketch = tok.agg(
      graft.functions.CmsFunctions.cms_sketch(col("s"), width, depth).as("sk"))
    val topk = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), min(col("s")).as("s"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(k)
    topk.crossJoin(sketch) // one sketch row — broadcastable by construction
      .select(col("token"), col("tf"),
        graft.functions.CmsFunctions.cms_estimate(col("sk"), col("s"), width, depth)
          .as("tf_est"))
  }

  /** q46: percentile-based quality gating — the distribution cutoffs a
    * corpus filter is actually specified with ("drop documents below
    * the p5 length / above the p99 punctuation ratio"). HLL answers
    * distinct-count, CMS answers frequency; this answers QUANTILES —
    * the last of the three standard mergeable sketches an LLM-data
    * pipeline needs, and the one that turns q23's per-document scores
    * into corpus-level admission thresholds.
    *
    * The sketch is the deterministic bottom-k-by-hash sample
    * (functions/QuantileSketch.scala): one scan, map-side-combinable
    * partials of ≤ k rows, no shuffle wider than partitions×k — and,
    * because the row-key hash is the SQL-replayable family, the DuckDB
    * oracle reproduces the sample (and every cutoff) EXACTLY. Rank
    * error vs the true quantile is O(1/√k) (property-gated in
    * QuantileSpec); with N ≤ k the sample IS the data and cutoffs are
    * exact order statistics.
    *
    * The hash is 62-bit (two independent 31-bit universal hashes of
    * the row key, h₁·P + h₂ — products stay < 2⁶³ for the oracle): a
    * single 31-bit draw collides at the bottom of the order for
    * corpus-scale N, and the value tie-break would then bias the
    * boundary of the sample toward SMALL values. Indices 210/211 of
    * the ReplayableHash stream are reserved for q46.
    *
    * Output: (metric, pct, cutoff, n_sample) — cutoff for percentile p
    * is sample[p·(n−1) div 100 + 1], pure integer rank arithmetic on
    * both engines. Both metrics sample the SAME rows (same hash), so
    * the two sketches describe one consistent row sample.
    */
  def quantileGate(documents: DataFrame, k: Int = 1024,
                   percentiles: Seq[Int] = Seq(1, 5, 10, 25, 50, 75, 90, 95, 99)): DataFrame = {
    import graft.operators.Dedup.ReplayableHash.{a, b, P}
    val s = graft.functions.VectorFunctions.poly_hash(
      concat(lit("q46:"), col("doc_id").cast("string")))
    val h1 = (lit(a(210)) * s + lit(b(210))) % lit(P)
    val h2 = (lit(a(211)) * s + lit(b(211))) % lit(P)
    val scored = qualityScore(documents)
    val sk = scored
      .select((h1 * lit(P) + h2).as("h"),
        col("n_chars").cast("double").as("len_v"), col("alpha_ratio").as("alpha_v"))
      .agg(
        graft.functions.QuantileFunctions.quantile_sketch(col("h"), col("len_v"), k).as("len_s"),
        graft.functions.QuantileFunctions.quantile_sketch(col("h"), col("alpha_v"), k).as("alpha_s"))
    sk.select(explode(array(
        struct(lit("n_chars").as("metric"), col("len_s").as("sample")),
        struct(lit("alpha_ratio").as("metric"), col("alpha_s").as("sample")))).as("m"))
      .select(col("m.metric").as("metric"), col("m.sample").as("sample"),
        explode(array(percentiles.map(p => lit(p.toLong)): _*)).as("pct"))
      .select(col("metric"), col("pct"),
        // try_element_at: an EMPTY corpus yields a 0-element sample,
        // where the rank expression indexes position 1 — emit a null
        // cutoff (the empty distribution has no percentiles), don't
        // throw (EdgeCaseSpec)
        expr("try_element_at(sample, CAST(pct * (size(sample) - 1) DIV 100 AS INT) + 1)")
          .as("cutoff"),
        size(col("sample")).cast("long").as("n_sample"))
  }

  def keywords(documents: DataFrame, k: Int = 3): DataFrame = {
    // Materialize tf ONCE (eager localCheckpoint, SURVEY §8): df derives
    // from tf and then joins back to it, and the two subtrees do NOT
    // share an exchange — Catalyst plans the df branch's inner aggregate
    // as distinct-only (functions=[]) vs tf's count(1), so the
    // (doc_id, token) exchanges are not structurally identical and
    // ReuseExchange never fires. Without the checkpoint the corpus is
    // scanned, exploded and shuffled TWICE (plan-verified r6); with it,
    // once — at 100 TB that halves the dominant cost of the query.
    val tf = documents
      .select(col("doc_id"), explode(split(lower(wsTrim(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // top-k per doc through the bounded top_k_lex aggregate, NOT a
    // row_number window (SURVEY §8): the window would shuffle + sort
    // EVERY (doc, token, tf, df) row; the aggregate's map-side partials
    // carry k rows per doc per partition and nothing sorts the full set.
    // (A fused alternative — df riding a collect_list postings
    // aggregate, no join — measured within noise of this shape and
    // trades whole-stage codegen for an object aggregate; see §8.)
    tf.join(df, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.TopKLexFunctions
        .top_k_lex(col("tf"), col("df"), col("token"), k).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.key").as("token"), col("t.ord_desc").as("tf"),
        col("t.ord_asc").as("df"))
  }

  /** q47: sequence packing — the step that turns a cleaned corpus into
    * fixed-capacity training sequences: shuffle the corpus into a
    * deterministic order, concatenate, and split every `capacity`
    * tokens (the standard concat-then-chunk batching of LM training).
    * A document that straddles a boundary emits one row per chunk it
    * touches, with its in-document token span — the exact assignment a
    * loader needs to materialize sequences.
    *
    * The global order is replaced by SHARD-local orders: docs route to
    * `shards` shards by avalanche-mixed hash and are packed within
    * their shard by (hash, doc_id). A single global concatenation
    * would serialize the whole corpus through one task's sort; sharded
    * packing gives the same statistical shuffle (the hash IS the
    * shuffle) with `shards` as the parallelism knob — at 100 TB, set
    * shards so one shard's tokens fit a task's sort budget; each shard
    * sorts independently after one exchange. The within-shard running
    * offset is the one inherently order-dependent quantity, so the
    * window is unavoidable — but it partitions by shard, never a
    * global sort.
    *
    * Everything is integer arithmetic on the SQL-replayable hash
    * family (index 212), so the DuckDB oracle reproduces every chunk
    * assignment exactly. Output: (shard, chunk, doc_id, tok_start,
    * n_toks) — chunk is shard-local; (chunk·capacity) is the chunk's
    * global token offset within its shard's stream.
    */
  def packSequences(documents: DataFrame, capacity: Int = 2048,
                    shards: Int = 32): DataFrame =
    packCore(documents.select(col("doc_id"), wsTokens(col("text")).as("n_tok")),
      capacity, shards)

  /** q47b: q47's packing driven by REAL tokenizer counts (q51's greedy
    * subword tokenization) instead of whitespace tokens — whitespace
    * counts run 1.3–2× off tokenizer counts depending on language, so
    * capacity-sized chunks packed on them are systematically mis-sized.
    * Same shard routing, same hash, same chunk arithmetic; only the
    * per-document length changes. `vocab` comes from tokenizerVocab
    * (or any 2..maxN-gram vocabulary).
    */
  def packSequencesTokenized(documents: DataFrame, vocab: Seq[String],
                             capacity: Int = 2048, shards: Int = 32,
                             maxN: Int = 4): DataFrame =
    packCore(tokenStatsWith(documents, vocab, maxN)
      .select(col("doc_id"), col("n_tokens").as("n_tok")), capacity, shards)

  private[graft] def packCore(docTokens: DataFrame, capacity: Int,
                       shards: Int): DataFrame = {
    require(capacity >= 1 && shards >= 1)
    import Dedup.ReplayableHash.{a, b, P}
    val s = graft.functions.VectorFunctions.poly_hash(
      concat(lit("pack:"), col("doc_id").cast("string")))
    val base = docTokens
      .select(col("doc_id"),
        ((lit(a(212)) * s + lit(b(212))) % lit(P)).as("h"),
        col("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("shard", col("h") % lit(shards.toLong))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    base
      .withColumn("off", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("shard"), col("doc_id"), col("off"), col("n_tok"),
        explode(sequence(expr(s"off div $capacity"),
          expr(s"(off + n_tok - 1) div $capacity"))).as("chunk"))
      .select(col("shard"), col("chunk"), col("doc_id"),
        greatest(lit(0L), col("chunk") * capacity - col("off")).as("tok_start"),
        (least(col("n_tok"), (col("chunk") + 1) * capacity - col("off")) -
          greatest(lit(0L), col("chunk") * capacity - col("off"))).as("n_toks"))
  }

  /** q78: DETERMINISTIC EPOCH SHUFFLE — the global training-order
    * permutation every LM run materializes before reading a corpus:
    * a pseudo-random bijection doc → (shard, pos, global_pos) that
    * breaks source/domain ordering, is reproducible across runs and
    * cluster sizes (pure function of doc_id — no RNG state, unlike
    * `orderBy(rand(seed))` whose sampling depends on partitioning),
    * and never global-sorts. q47 routes docs to shards to PACK
    * token chunks; this emits the document-level PERMUTATION itself —
    * the epoch order a doc-granular loader consumes, with a bijective
    * `global_pos` q47 has no analog of.
    *
    * Shape: shard = universal-hash(index 230) of the poly-hashed id;
    * within-shard order by an INDEPENDENT draw (index 231 — ordering
    * by the routing key would order within a shard by the same
    * residue classes that routed it) with doc_id tie-break;
    * `global_pos` = shard offset + within-shard rank, where offsets
    * are the prefix sum of the `shards` per-shard counts — a bounded
    * driver-side fold (the k-means centroid-collect discipline)
    * broadcast back onto a pure map. The result is a global order
    * with NO global sort: one narrow scan, ONE exchange on shard,
    * each shard sorts independently (set `shards` so one shard fits a
    * task's sort budget at 100 TB), and the S-row offset table rides
    * the closure.
    */
  def epochShuffle(documents: DataFrame, shards: Int = 32): DataFrame = {
    require(shards >= 1 && shards <= (1 << 20), "shards must be sane")
    import Dedup.ReplayableHash.{a, b, P}
    val s = graft.functions.VectorFunctions.poly_hash(
      concat(lit("epoch:"), col("doc_id").cast("string")))
    val keyed = documents
      .select(col("doc_id"), s.as("s"))
      .select(col("doc_id"),
        (((lit(a(230)) * col("s") + lit(b(230))) % lit(P)) % lit(shards.toLong)).as("shard"),
        ((lit(a(231)) * col("s") + lit(b(231))) % lit(P)).as("h2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h2"), col("doc_id"))
    val ranked = keyed
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .localCheckpoint(true) // counts + output both read it; never re-derive the sort
    val counts = ranked.groupBy(col("shard")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var acc = 0L
    val offsets = (0L until shards.toLong).map { sh =>
      val o = (sh, acc); acc += counts.getOrElse(sh, 0L); o
    }
    val spark = documents.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toDF("shard", "off"))
    ranked.join(offDf, "shard")
      .select(col("doc_id"), col("shard"), col("pos"),
        (col("off") + col("pos")).as("global_pos"))
  }

  /** The q78 oracle: identical char-fold poly-hash + universal
    * post-mix draws, row_number per shard, and a window prefix-sum
    * standing in for the driver-side offset fold.
    */
  def epochShuffleOracleSql(shards: Int = 32): String = {
    import Dedup.ReplayableHash.{a, b, P}
    s"""WITH k AS (
       |  SELECT doc_id,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(range(1, length(kk)+1),
       |             i -> CAST(unicode(substring(kk, CAST(i AS INT), 1)) AS BIGINT))),
       |           (h, c) -> (h * 31 + c) % 1000000007) AS s
       |  FROM (SELECT doc_id, 'epoch:' || CAST(doc_id AS VARCHAR) AS kk
       |        FROM documents) t),
       |r AS (
       |  SELECT doc_id,
       |         (${a(230)} * s + ${b(230)}) % $P % $shards AS shard,
       |         (${a(231)} * s + ${b(231)}) % $P AS h2
       |  FROM k),
       |p AS (
       |  SELECT doc_id, shard,
       |         CAST(row_number() OVER (PARTITION BY shard ORDER BY h2, doc_id) - 1 AS BIGINT) AS pos
       |  FROM r),
       |o AS (SELECT shard, count(*) AS c FROM p GROUP BY 1),
       |off AS (
       |  SELECT shard,
       |         CAST(coalesce(sum(c) OVER (ORDER BY shard
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM o)
       |SELECT p.doc_id, p.shard, p.pos, off.off + p.pos AS global_pos
       |FROM p JOIN off USING (shard)""".stripMargin
  }

  /** q51 TRAINING half: the tokenizer vocabulary — the top-`m`
    * 2..maxN code-point grams of the corpus's whitespace-split
    * lowercased words by frequency, ties broken by gram (binary UTF-8
    * order in both engines — deterministic selection). Frequent grams
    * are what BPE merges converge to, so this is the BPE-flavored
    * vocab buildable as ONE relational aggregate: explode per-word
    * gram positions, count, TakeOrdered top-m — no iterative merge
    * loop, no full sort (limit plans TakeOrderedAndProject).
    *
    * Grams are generated per WORD, so the per-position `substring`
    * (O(position) on UTF8String, the q27 lesson) runs over ~10-char
    * words, not documents — O(word²) with tiny words, linear overall.
    * At 100 TB this is one explode + one hash aggregation on short
    * string keys; m bounds the result, not the corpus.
    */
  def tokenizerVocab(documents: DataFrame, m: Int = 256,
                     maxN: Int = 4): DataFrame = {
    require(m >= 1 && maxN >= 2)
    documents
      .select(explode(split(lower(wsTrim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("w"), explode(sequence(lit(2), lit(maxN))).as("n"))
      // guard BEFORE building the position sequence: Spark's
      // sequence(1, len-n+1) runs DESCENDING when len < n (it infers
      // step -1), which would fabricate out-of-range positions
      .filter(length(col("w")) >= col("n"))
      .select(col("w"), col("n"),
        explode(sequence(lit(1), length(col("w")) - col("n") + lit(1))).as("i"))
      .select(expr("substring(w, i, n)").as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(m)
  }

  /** q51: tokenizer-faithful token counting — greedy longest-match
    * (maximal munch) tokenization of each document over the corpus
    * vocabulary, the WordPiece/BPE inference rule. Output per doc:
    * n_tokens (every consumed token, matched or fallback) and
    * n_fallback (positions no vocab gram covered — the OOV rate, a
    * corpus-quality signal in its own right). q22's whitespace/regex
    * counts are budget PROXIES; these are the counts a training run
    * actually packs and mixes on (q47b consumes them).
    *
    * Scale shape: vocab training is one aggregate; its top-m result
    * (≤ m short strings — a BOUNDED, documented driver collect, the
    * tokenizer-training step) ships inside the expression to every
    * task, and inference is a pure per-row scan — zero exchanges, no
    * join, embarrassingly parallel at any corpus size.
    *
    * Oracle-exact: integer counts over code points; DuckDB rebuilds
    * the same vocab relationally and replays the greedy scan as a
    * recursive walk over per-position match lengths.
    */
  def tokenStats(documents: DataFrame, m: Int = 256,
                 maxN: Int = 4): DataFrame =
    tokenStatsWith(documents, tokenizerVocabSeq(documents, m, maxN), maxN)

  /** tokenizerVocab's grams as a driver-side Seq — THE bounded collect
    * of the tokenizer family (≤ m short strings, training's output);
    * one definition so the contract lives in one place.
    */
  def tokenizerVocabSeq(documents: DataFrame, m: Int = 256,
                        maxN: Int = 4): Seq[String] =
    tokenizerVocab(documents, m, maxN).collect().map(_.getString(0)).toSeq

  /** q51 inference over a GIVEN vocabulary (training decoupled — the
    * production shape: train once, tokenize many corpora).
    */
  def tokenStatsWith(documents: DataFrame, vocab: Seq[String],
                     maxN: Int = 4): DataFrame =
    documents
      .select(col("doc_id"),
        graft.functions.GreedyTokenizerFunctions
          .token_stats(lower(col("text")), vocab, maxN).as("ts"))
      .select(col("doc_id"), col("ts.n_tokens").as("n_tokens"),
        col("ts.n_fallback").as("n_fallback"))

  /** q48: mixture solving — q37 computes a sample for GIVEN rates;
    * this DERIVES the rates: given a target language mixture, find the
    * largest corpus satisfying it without upsampling (every per-lang
    * admission rate ≤ 1), then admit documents with the q37 hash rule
    * at those rates. This is how a mixture spec ("20% per language")
    * becomes an executable sampling plan: the scarcest language binds
    * the total, everything else downsamples to match.
    *
    * All rate arithmetic is INTEGER (parts-per-myriad targets and
    * rates; feasible total T = min over langs of c_l·10000 div t_l;
    * rate_l = (T·t_l div 10000)·10000 div c_l), so the DuckDB oracle
    * reproduces every admitted row exactly. The plan stays fully
    * distributed: one tiny per-lang count aggregate, a broadcast join
    * of the L-row rate table back onto the corpus, and a narrow
    * hash-threshold filter (index 213) — no collect, no second scan of
    * the corpus; at 100 TB the cost is one aggregation plus the q37
    * admission pass. Hash admission hits each target count to within
    * sampling noise (|Δ|/n_l ~ 1/√n_l) — the price of a single-pass,
    * order-free, replayable rule; exact-count selection would need a
    * per-lang bottom-k of corpus-sized k.
    *
    * Output: admitted (doc_id, lang, rate_myriad, bucket).
    */
  def mixtureSolve(documents: DataFrame,
                   targetMyriad: Map[String, Int]): DataFrame = {
    requireMixture(targetMyriad)
    val rates = solveRates(targetMyriad,
      documents.groupBy(col("lang")).agg(count(lit(1)).as("c")))
    admitAtRates(documents, rates, hashIndex = 213, keyPrefix = "mix:", Nil)
  }

  /** q48b: mixture solving on TOKEN budgets — q48 solves the mixture
    * in DOCUMENT counts, but training budgets are set in tokens, and
    * per-doc token mass varies 1.3–2× by language (the q51 point), so
    * a doc-count mixture systematically over-weights verbose
    * languages. Same integer derivation with c_l = the per-language
    * TOKEN total from q51's greedy tokenizer; admission is still the
    * per-DOC hash rule (index 214), so each lang's admitted token
    * mass lands on its target within token-mass concentration noise
    * (σ² ~ Σ_docs w² — the price of never splitting a document).
    *
    * The tokenizer kernel runs ONCE: the rate aggregate and the
    * admission side are different consumers of the same expensive
    * scan, which ReuseExchange never unifies (the q40 lesson), so the
    * per-doc (doc_id, lang, n_tokens) frame is localCheckpoint'd and
    * both sides read the 3-narrow-column frame from memory — the
    * final plan has zero parquet scans. Integer domain: exact while
    * c_l·10⁴·(t_max/t_min) < 2⁶³; 100 TB ≈ 2.5e13 tokens would need a
    * target ratio > 3.6e4 to overflow.
    *
    * Output: admitted (doc_id, lang, n_tokens, rate_myriad, bucket).
    */
  def mixtureSolveTokenized(documents: DataFrame,
                            targetMyriad: Map[String, Int],
                            vocab: Seq[String], maxN: Int = 4): DataFrame = {
    requireMixture(targetMyriad)
    val toks = tokenFrame(documents, vocab, maxN).localCheckpoint(true)
    admitAtRates(toks, tokenRates(targetMyriad, toks),
      hashIndex = 214, keyPrefix = "mixtok:", Seq(col("n_tokens")))
  }

  /** q48b admission at FROZEN rates (q103's stage 7): the same
    * tokenFrame + index-214 'mixtok:' hash rule as
    * [[mixtureSolveTokenized]], but the rate table is GIVEN (solved on
    * the prior release) instead of re-solved — an incremental delta
    * must admit under the release's published mixture, not re-derive
    * one from its own skewed composition.
    */
  def mixtureAdmitFrozen(documents: DataFrame, ratesMyriad: Map[String, Long],
                         vocab: Seq[String], maxN: Int = 4): DataFrame = {
    require(ratesMyriad.nonEmpty, "frozen admission needs a rate table")
    val sp = documents.sparkSession
    import sp.implicits._
    val rates = ratesMyriad.toSeq.sortBy(_._1).toDF("lang", "rate_myriad")
    admitAtRates(tokenFrame(documents, vocab, maxN), rates,
      hashIndex = 214, keyPrefix = "mixtok:", Seq(col("n_tokens")))
  }

  /** The q48b rate table as a driver-side map — the configuration
    * q103 freezes from a release and [[mixtureAdmitFrozen]] applies to
    * a delta. L rows, one per target language — a documented bounded
    * collect (the same class as the tokenizer vocab). Shares
    * tokenFrame/tokenRates with mixtureSolveTokenized so frozen
    * admission can never drift from batch q48b's.
    */
  def tokenMixtureRates(documents: DataFrame, targetMyriad: Map[String, Int],
                        vocab: Seq[String], maxN: Int = 4): Map[String, Long] = {
    requireMixture(targetMyriad)
    tokenRates(targetMyriad, tokenFrame(documents, vocab, maxN))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** q90: SOURCE-QUOTA curation — the DoReMi / Pile recipe the q88
    * composition table exists to feed: training mixtures are specified
    * per SOURCE ("15% web crawl, 30% books, ..."; Gao et al. 2020
    * table 1, Xie et al. 2023's domain weights), so the q48b machinery
    * is re-keyed from lang to the `source` column q88 unlocked —
    * given target corpus shares per source (parts-per-myriad), solve
    * the largest token budget no source must upsample for
    * (T = min_s c_s·10⁴ div t_s over per-source q51 token totals),
    * then admit documents by the q37 hash rule at the solved
    * per-source rates (fresh index 236, key "srcq:"). Sources outside
    * the target map are DROPPED (rate-table inner join) — the quota
    * is also the allowlist, the practical shape of a release recipe.
    *
    * Scale shape is q48b's verbatim: the tokenizer kernel runs ONCE
    * over the corpus (the narrow (doc_id, source, n_tokens) frame is
    * checkpointed for its two consumers), the rate table is S rows
    * broadcast, admission is a pure narrow filter; integer domain
    * throughout, so the DuckDB oracle replays every admitted row.
    *
    * Output: admitted (doc_id, source, n_tokens, rate_myriad, bucket).
    */
  def sourceQuota(documents: DataFrame, targetMyriad: Map[String, Int],
                  vocab: Seq[String], maxN: Int = 4): DataFrame = {
    requireMixture(targetMyriad)
    val toks = documents
      .select(col("doc_id"), col("source"),
        graft.functions.GreedyTokenizerFunctions
          .token_stats(lower(col("text")), vocab, maxN).as("ts"))
      .select(col("doc_id"), col("source"), col("ts.n_tokens").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .localCheckpoint(true)
    val rates = solveRates(targetMyriad,
      toks.groupBy(col("source")).agg(sum(col("n_tokens")).as("c")), "source")
    admitAtRates(toks, rates, hashIndex = 236, keyPrefix = "srcq:",
      Seq(col("n_tokens")), "source")
  }

  /** q96: UNIMAX BUDGET ALLOCATION (Chung et al., ICLR 2023,
    * arXiv:2304.09151) — the multi-epoch training-mix scheduler: given
    * a token budget B and a per-source epoch cap E, allocate budget to
    * sources by WATERFILLING — every source is capped at E epochs of
    * its own corpus (c_s = E·n_s), and the remaining budget spreads
    * UNIFORMLY over uncapped sources (the paper's fairness objective:
    * maximize the minimum allocation subject to the caps). Where q48
    * and q90 hit externally-chosen target SHARES, UniMax derives the
    * shares from the budget and the cap alone — the published recipe
    * for "don't over-epoch the small languages, don't let the big one
    * eat the budget".
    *
    * Closed form, all integer: sources sorted by capacity ascending
    * (ties on name), the capped set is the maximal PREFIX where each
    * capacity fits under the running fair share
    * (c_i ≤ (B − P_{i−1}) div (m − i + 1), made robustly prefix-closed
    * by a cumulative AND — the float waterfill's prefix property can
    * tie-break differently under integer div); uncapped sources split
    * the remainder R = B − P_k as level = R div u each, with the
    * leftover R mod u distributed +1 to the first (R mod u) uncapped
    * sources in the same order (deterministic; Σ alloc = B exactly —
    * spec-pinned). An infeasible budget (B ≥ ΣC) caps everyone.
    *
    * Scale shape: corpus-side work is ONE map-side-combined aggregate
    * to S source rows; the waterfill window runs on that S-row frame
    * (a driver-scale constant), never on the corpus.
    *
    * Registered contract: E = 3 epochs, B = (3·T) div 2 for corpus
    * total T (deterministic from the data — no external constant).
    * Output: (source, n_tokens, capacity, alloc, epochs_myriad).
    */
  def unimaxAlloc(documents: DataFrame, epochCap: Int = 3,
                  budgetNum: Long = 3L, budgetDen: Long = 2L): DataFrame = {
    require(epochCap >= 1 && budgetNum >= 1 && budgetDen >= 1)
    val src = documents.groupBy(col("source"))
      .agg(coalesce(sum(wsTokens(col("text"))), lit(0L)).as("n_tokens"))
      .withColumn("capacity", col("n_tokens") * epochCap)
    // S-row frame from here on: single-partition windows are free
    val wOrd = org.apache.spark.sql.expressions.Window
      .orderBy(col("capacity"), col("source"))
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(col("capacity"), col("source"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val staged = src
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("b", expr(s"(sum(n_tokens) OVER () * $budgetNum) DIV $budgetDen"))
      .withColumn("p", sum(col("capacity")).over(wOrd)) // cumsum incl. self
      .withColumn("cond",
        col("capacity") <= expr("(b - (p - capacity)) DIV (m - i + 1)"))
      .withColumn("capped", min(when(col("cond"), 1).otherwise(0)).over(wOrd) === 1)
    val levels = staged
      .withColumn("k", sum(when(col("capped"), 1L).otherwise(0L)).over(wAll))
      .withColumn("pk", sum(when(col("capped"), col("capacity")).otherwise(0L)).over(wAll))
      .withColumn("u", col("m") - col("k"))
      .withColumn("r", col("b") - col("pk"))
      .withColumn("urank",
        sum(when(col("capped"), 0L).otherwise(1L)).over(wOrd))
    levels.select(col("source"), col("n_tokens"), col("capacity"),
      when(col("capped") || col("u") === 0, col("capacity"))
        .otherwise(expr("r DIV u") +
          when(col("urank") <= expr("r % u"), 1L).otherwise(0L)).as("alloc"))
      .withColumn("epochs_myriad",
        expr("CASE WHEN n_tokens = 0 THEN NULL ELSE (10000 * alloc) DIV n_tokens END"))
  }

  /** The q90 rate table as a driver-side map (the
    * tokenMixtureRates protocol keyed by source; S rows, bounded).
    */
  def sourceQuotaRates(documents: DataFrame, targetMyriad: Map[String, Int],
                       vocab: Seq[String], maxN: Int = 4): Map[String, Long] = {
    requireMixture(targetMyriad)
    val toks = documents
      .select(col("doc_id"), col("source"),
        graft.functions.GreedyTokenizerFunctions
          .token_stats(lower(col("text")), vocab, maxN).as("ts"))
      .select(col("source"), col("ts.n_tokens").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    solveRates(targetMyriad,
      toks.groupBy(col("source")).agg(sum(col("n_tokens")).as("c")), "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The per-doc (doc_id, lang, n_tokens > 0) frame both token-budget
    * paths derive from — ONE definition of which docs count and how
    * they tokenize.
    */
  private def tokenFrame(documents: DataFrame, vocab: Seq[String],
                         maxN: Int): DataFrame =
    documents
      .select(col("doc_id"), col("lang"),
        graft.functions.GreedyTokenizerFunctions
          .token_stats(lower(col("text")), vocab, maxN).as("ts"))
      .select(col("doc_id"), col("lang"), col("ts.n_tokens").as("n_tokens"))
      .filter(col("n_tokens") > 0)

  private def tokenRates(targetMyriad: Map[String, Int],
                         toks: DataFrame): DataFrame =
    solveRates(targetMyriad,
      toks.groupBy(col("lang")).agg(sum(col("n_tokens")).as("c")))

  private def requireMixture(targetMyriad: Map[String, Int]): Unit =
    require(targetMyriad.nonEmpty &&
      targetMyriad.values.forall(t => t > 0 && t <= 10000) &&
      targetMyriad.values.sum <= 10000,
      "targets are positive parts-per-myriad summing to <= 10000")

  /** Shared q48/q48b admission: the q37 hash rule at the solved rates
    * — per-doc replayable bucket in [0, 10000), L-row rate table
    * broadcast, narrow threshold filter. One definition so the
    * admission semantics (hash family, modulus, join shape) cannot
    * drift between the doc-budget and token-budget mixtures.
    */
  private def admitAtRates(corpus: DataFrame, rates: DataFrame,
                           hashIndex: Int, keyPrefix: String,
                           carry: Seq[Column], keyCol: String = "lang"): DataFrame = {
    import Dedup.ReplayableHash.{a, b, P}
    val s = graft.functions.VectorFunctions.poly_hash(
      concat(lit(keyPrefix), col("doc_id").cast("string")))
    corpus
      .withColumn("bucket",
        (lit(a(hashIndex)) * s + lit(b(hashIndex))) % lit(P) % lit(10000L))
      .join(broadcast(rates), Seq(keyCol))
      .filter(col("bucket") < col("rate_myriad"))
      .select(Seq(col("doc_id"), col(keyCol)) ++ carry ++
        Seq(col("rate_myriad"), col("bucket")): _*)
  }

  /** Shared q48/q48b rate derivation from per-language weights
    * (`(lang, c)` — doc counts for q48, token totals for q48b):
    * T = min_l c_l·10000 div t_l; rate_l = (T·t_l div 10000)·10000
    * div c_l.
    *
    * LEFT join from the TARGETS: a target language absent from the
    * corpus must bind the feasible total to 0 (no corpus satisfies a
    * mixture that demands a language it doesn't have) — an inner join
    * would silently drop the constraint instead. Langs outside the
    * target get rate 0 implicitly (the admission join is inner on
    * rates). The feasible total attaches per-row through an
    * empty-partition window over the L-row counts frame — L is the
    * number of target languages (tiny by construction), so the
    * single-partition window is free, and no cross join ever appears
    * (a broadcast cross join of the 1-row aggregate plans
    * BroadcastNestedLoopJoin, banned repo-wide outside declared
    * kernels; a literal-key equi-join constant-folds straight back
    * into one).
    */
  private def solveRates(targetMyriad: Map[String, Int],
                         weights: DataFrame,
                         keyCol: String = "lang"): DataFrame = {
    val sp = weights.sparkSession
    import sp.implicits._
    val targets = targetMyriad.toSeq.sortBy(_._1).toDF(keyCol, "t_myriad")
    val counts = targets
      .join(weights, Seq(keyCol), "left")
      .select(col(keyCol), coalesce(col("c"), lit(0L)).as("c"), col("t_myriad"))
    counts
      .withColumn("t_total",
        min(expr("c * 10000 div t_myriad"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col(keyCol),
        when(col("c") === 0, lit(0L)) // 0 div 0 would throw under ANSI
          .otherwise(expr("(t_total * t_myriad div 10000) * 10000 div c"))
          .as("rate_myriad"))
  }

  /** q52: segment-level deduplication — the RefinedWeb/CCNet/
    * MassiveText "remove duplicated lines/paragraphs across
    * documents" pass, which catches boilerplate (headers, footers,
    * license blocks, navigation chrome) that document-level dedup
    * (q20/q25) never sees because the SURROUNDING document is unique.
    * The corpus has no newlines, so a "segment" is a fixed window of
    * `segWords` normalized words (q20's normalization: lower,
    * whitespace-collapsed); the last segment per doc may be shorter.
    *
    * Rule: a segment whose CONTENT occurs in more than one distinct
    * document is dropped from every document (the MassiveText
    * exact-substring discipline — keeping one copy would need a
    * global arbitrary winner; boilerplate is noise in every copy).
    * A segment repeated only WITHIN one document stays (that is
    * q39's repetition signal, not cross-doc boilerplate).
    *
    * Scale shape — SEGMENT TEXT NEVER SHUFFLES OR MATERIALIZES:
    * scan A explodes to a NARROW (doc_id, seg_idx, md5) frame — the
    * text is dropped before any exchange (q20's fixed-width-key
    * discipline) — localCheckpoint'd because it feeds two consumers
    * (the dup-count aggregate and the dropped-index join; the q40
    * lesson, and like q40's tf frame it is narrow: ~44 B/row, NOT the
    * corpus). The dup decision and the per-doc dropped-index sets are
    * narrow-frame shuffles; clean_text is then rebuilt PER ROW from a
    * second parquet scan (scan B) left-joined with the dropped sets —
    * one corpus-text exchange total, no corpus-sized executor
    * storage. (A first draft checkpointed the exploded SEGMENT-TEXT
    * frame and reassembled through collect_list: one scan, but a
    * corpus-sized checkpoint plus TWO corpus-text shuffles — at
    * 100 TB a second parquet scan is throughput-cheap, executor
    * storage is the constraint.) No window over the corpus, no
    * global sort, no per-group text buffering.
    *
    * Output: (doc_id, n_segments, n_dup_segments, clean_text) — NULL
    * text passes through as NULL counts/text (the q51 convention),
    * blank text yields (0, 0, "").
    */
  def segmentDedup(documents: DataFrame, segWords: Int = 8): DataFrame =
    segmentDedupVs(documents, segWords, None)

  /** The per-document (doc_id, seg_idx, h) md5 frame of `segWords`
    * aligned segments — q52's scan-A hash frame exposed for q103's
    * frozen-state builder (v1's segment digests ARE this frame's
    * distinct h column).
    */
  private[graft] def segmentHashFrame(documents: DataFrame,
                                      segWords: Int): DataFrame = {
    val norm = normText(col("text"))
    val df = documents.select(
      col("doc_id"),
      when(col("text").isNull, lit(null))
        .otherwise(when(length(norm) === 0, array())
          .otherwise(split(norm, " "))).as("ws"))
    val ws = col("ws")
    val segments = when(ws.isNull, lit(null))
      .otherwise(when(size(ws) === 0, array())
        .otherwise(transform(
          sequence(lit(0), ((size(ws) - 1) / segWords).cast("int")),
          i => array_join(slice(ws, i * segWords + 1, lit(segWords)), " "))))
    df.select(col("doc_id"), posexplode(segments).as(Seq("seg_idx", "seg")))
      .select(col("doc_id"), col("seg_idx"), md5(col("seg")).as("h"))
  }

  /** q52 with an optional FROZEN prior-corpus dup set (q103's
    * incremental stage 2): a segment is boilerplate when it appears in
    * more than one document of THIS corpus — or, incrementally, when
    * the prior release already contains its digest (`priorDigests`,
    * one `h` column: a v1 copy plus this one is cross-document
    * duplication by definition; v1's own text is frozen and never
    * re-cleaned).
    */
  private[operators] def segmentDedupVs(documents: DataFrame, segWords: Int,
                                        priorDigests: Option[DataFrame]): DataFrame = {
    require(segWords > 0, "segWords must be positive")
    // materialize the word array BEFORE the transform lambda — a
    // column captured by a higher-order function re-evaluates per
    // element (§8's q27 lesson: the normText regex chain would run
    // once per SEGMENT, not once per doc)
    val norm = normText(col("text"))
    def withWords(df: DataFrame): DataFrame = df.select(
      col("doc_id"),
      when(col("text").isNull, lit(null))
        .otherwise(when(length(norm) === 0, array())
          .otherwise(split(norm, " "))).as("ws"))
    val ws = col("ws")
    val segments = when(ws.isNull, lit(null))
      .otherwise(when(size(ws) === 0, array())
        .otherwise(transform(
          sequence(lit(0), ((size(ws) - 1) / segWords).cast("int")),
          i => array_join(slice(ws, i * segWords + 1, lit(segWords)), " "))))
    // scan A → narrow hash frame (nullable/blank docs carry no segments)
    val segsNarrow = segmentHashFrame(documents, segWords)
      .localCheckpoint(true)
    val dupWithin = segsNarrow
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("h"))
    val dupH = priorDigests match {
      case None => dupWithin
      case Some(prior) => dupWithin.union(prior.select(col("h"))).distinct()
    }
    // per-doc dropped segment indices — only docs that lose something
    val dropped = segsNarrow
      .join(dupH, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("seg_idx"))).as("drop_idx"))
    // scan B → per-row reassembly; the corpus text crosses ONE
    // exchange (the doc_id join; AQE broadcasts `dropped` when the
    // boilerplate set is small)
    withWords(documents)
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(ws.isNull, lit(null)).otherwise(
          when(size(ws) === 0, lit(0L))
            .otherwise(((size(ws) - 1) / segWords).cast("long") + 1L))
          .as("n_segments"),
        when(ws.isNull, lit(null))
          .otherwise(coalesce(size(col("drop_idx")).cast("long"), lit(0L)))
          .as("n_dup_segments"),
        when(ws.isNull, lit(null)).otherwise(
          array_join(
            filter(segments, (s, i) =>
              not(array_contains(coalesce(col("drop_idx"),
                array().cast("array<int>")), i))),
            " "))
          .as("clean_text"))
  }

  /** q58: PII detection + redaction — the standard curation stage the
    * family was missing (C4/RefinedWeb-style scrubbing): emails, IPv4
    * addresses, and NNN-NNN-NNNN phone numbers are counted and
    * replaced by fixed tokens. Patterns are restricted to the regex
    * subset Java (Spark codegen'd `regexp_count`/`regexp_replace`) and
    * RE2 (the DuckDB oracle) interpret IDENTICALLY — character
    * classes, bounded repetition, `\b`, no backtracking-dependent
    * constructs — so the byte-level clean_text hash-compares.
    *
    * The three classes are processed as a CHAIN (count on the current
    * text, then redact, then the next class): an email whose domain
    * looks like an IP is counted once, as an email — both engines
    * replay the same chain, so the ordering is part of the contract.
    * NULL text propagates NULL counts and NULL clean_text (the q39
    * convention).
    *
    * Scale: a stateless projection — three codegen'd regex passes over
    * the text column, no shuffle, no UDF, no state; the plan is
    * scan→project and the zero-exchange shape is PlanAudit-asserted.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** The redaction chain as ONE column expression — shared by
    * [[piiRedact]] and the q53/q103 chains' stage 6, which only needs
    * the redacted text (the counts are the q58 report surface): the
    * chains apply this inline instead of running piiRedact (three
    * extra regexp_count passes) and joining the result back.
    */
  private[graft] def piiRedactCol(t0: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      t0, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>")

  def piiRedact(documents: DataFrame): DataFrame = {
    val t0 = col("text")
    val t1 = regexp_replace(t0, EmailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, Ipv4Re, "<IP>")
    documents.select(col("doc_id"),
      regexp_count(t0, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(t1, lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(t2, lit(PhoneRe)).cast("long").as("n_phones"),
      piiRedactCol(t0).as("clean_text"))
  }

  /** The (doc_id, toks) frame every LM-family op starts from:
    * lowercased whitespace tokens, empties dropped (the q33 recipe as
    * an ARRAY per doc).
    */
  private[operators] def tokArrays(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      filter(split(lower(wsTrim(col("text"))), "\\s+"), t => length(t) > 0).as("toks"))

  /** Exploded adjacent-bigram frame (doc_id, w1, w2) — one row per
    * token pair. `sequence` is NOT used unguarded: Spark's
    * sequence(1, 0) counts DOWN, so a 1-token doc would fabricate
    * pairs; the when() guard maps <2-token docs to zero rows.
    */
  private def bigrams(documents: DataFrame): DataFrame = {
    val pairs = when(size(col("toks")) >= 2,
      expr("transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))"))
      .otherwise(expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))
    tokArrays(documents)
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /** Corpus distinct-token count — the LM smoothing constant V. */
  private def vocabSize(corpus: DataFrame): Long =
    tokArrays(corpus)
      .select(explode(col("toks")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
      .collect()(0).getLong(0)

  /** (w1, c1) — bigram-prefix occurrence counts (vocab-sized). */
  private def bigramPrefixCounts(corpus: DataFrame): DataFrame =
    bigrams(corpus).groupBy(col("w1")).agg(count(lit(1)).as("c1"))

  /** The add-one-smoothed bigram LM over a corpus, scored in Q16
    * fixed-point: one row per observed bigram with its negative log2
    * probability `nll_q16 = log2_q16(c1(w1) + V) - log2_q16(c12 + 1)`
    * where c1 = prefix occurrences, c12 = bigram occurrences, V =
    * corpus distinct-token count. Built once, joined by the q61
    * scorer. V is a single driver-collected scalar
    * (one row — the trainCodebook collect protocol).
    */
  def bigramModel(corpus: DataFrame): DataFrame = {
    val vocabV = vocabSize(corpus)
    val uniIl = bigramPrefixCounts(corpus)
      .select(col("w1"),
        graft.functions.VectorFunctions.log2_q16(col("c1") + lit(vocabV)).as("il_den"))
    bigrams(corpus).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .join(uniIl, Seq("w1"))
      .select(col("w1"), col("w2"),
        (col("il_den") -
          graft.functions.VectorFunctions.log2_q16(col("c12") + lit(1L))).as("nll_q16"))
  }

  /** q61: bigram-LM perplexity scoring — the CCNet-style quality
    * filter (score every document by how surprising its token stream
    * is under a language model; high perplexity ⇒ boilerplate/garbage,
    * low ⇒ fluent text). The LM here is self-trained on the corpus
    * (add-one-smoothed bigrams).
    *
    * ORACLE-EXACT BY CONSTRUCTION: perplexity needs logarithms, and
    * `Math.log`'s last ulp differs between engines — so the entire
    * computation runs in Q16 fixed-point via the Log2Q16Expr
    * shift-and-square kernel (pure int64 truncating arithmetic,
    * replayed verbatim by a 16-step WITH RECURSIVE in the DuckDB
    * oracle). Output per doc: bigram count, summed negative log2
    * probability, and the mean `ppl_q16` (truncating integer division
    * — log2 of the perplexity, Q16-scaled).
    *
    * Scale shape: two corpus-scale aggregations build the model
    * (shuffles on w1 and (w1,w2) — both linear, map-side-combined),
    * one probe join of the exploded bigram frame against the model on
    * (w1,w2), one per-doc aggregation. The exploded frame is
    * recomputed per consumer rather than persisted (the q53
    * recompute-lineage default — a corpus-sized token cache is
    * hostile at 100 TB). The log kernel runs on the VOCAB-sized count
    * tables, never per corpus row.
    */
  /** q62: BM25 top-k document retrieval — the inverted-index search
    * primitive (find the best training examples for a probe term;
    * the retrieval side of decontamination and curriculum mining),
    * with REAL BM25 weighting made oracle-exact by the same Log2Q16
    * kernel as q61 (a libm-log BM25 could never hash-compare).
    *
    * Query terms are self-contained and deterministic: the
    * `nQueryTerms` highest-total-frequency tokens appearing in at
    * least `minDf` docs; ties break on token ASC.
    *
    * Integer BM25 (k1 = 1.2, b = 0.75, the LUCENE idf
    * `ln(1 + (N−df+0.5)/(df+0.5))` — algebraically (N+1)/(df+0.5),
    * so in log2 units with the ×2 clearing the halves:
    *   idf_q16   = L(2N + 2) − L(2df + 1)
    *               (non-negative for ANY df ≤ N — the classical RSJ
    *               form goes negative past df > N/2, which on a
    *               small-vocab corpus would flip rankings. Exactly 0
    *               is reachable: Q16 truncation collides L(2N+2) with
    *               L(2df+1) once the true log2 gap drops under 2^-16,
    *               i.e. df within ~N/(N·ln2·2^-16) of N — roughly
    *               N ≳ 47k with a near-ubiquitous term)
    *   denom_myr = 10000·tf + 3000 + (9000·dl·N) div A
    *               (= 10000·(tf + k1(1−b) + k1·b·dl/avgdl), one
    *               truncating div, part of the contract)
    *   score_q16 = (idf_q16 · tf · 22000) div denom_myr
    * All int64; every div is truncating on positive operands, so
    * DuckDB `//` replays it. Bound: needs 9000·dl·N < 2⁶³ — at
    * trillion-doc×100k-token extremes, rescale the myriad to Q8.
    *
    * Scale shape: one (token, doc_id) aggregation (the inverted
    * index), the 20-term query set BROADCAST against it (candidates
    * ≈ Σ df(term) rows, never the corpus), one doc_id join for
    * lengths, and a TopKBy partial aggregation per term — no full
    * sort, no window over a term's whole posting list. N and A are
    * two bounded driver scalars (the trainCodebook collect protocol).
    */
  /** Shared q62 pieces: (qIdf frame, tf frame, dl frame, N, A). */
  private def bm25Parts(documents: DataFrame, nQueryTerms: Int,
                        minDf: Long): (DataFrame, DataFrame, DataFrame, Long, Long) = {
    val ta = tokArrays(documents)
    val tok = ta.select(col("doc_id"), explode(col("toks")).as("token"))
    val tf = tok.groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val dl = ta.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val nDocs: Long = documents.count()
    val aTok: Long = dl.agg(coalesce(sum(col("dl")), lit(0L))).collect()(0).getLong(0)
    val dfv = tf.groupBy(col("token")).agg(count(lit(1)).as("df"), sum(col("tf")).as("ttf"))
    val qIdf = dfv
      .filter(col("df") >= minDf)
      .orderBy(col("ttf").desc, col("token").asc).limit(nQueryTerms)
      .select(col("token"),
        (graft.functions.VectorFunctions.log2_q16(lit(2 * nDocs + 2)) -
          graft.functions.VectorFunctions.log2_q16(col("df") * 2 + 1)).as("idf_q16"))
    (qIdf, tf, dl, nDocs, aTok)
  }

  def bm25Search(documents: DataFrame, nQueryTerms: Int = 20, k: Int = 10,
                 minDf: Long = 5L): DataFrame = {
    val (qIdf, tf, dl, nDocs, aTok) = bm25Parts(documents, nQueryTerms, minDf)
    val scored = tf.join(broadcast(qIdf), Seq("token"))
      .join(dl, Seq("doc_id"))
      .select(col("token"), col("doc_id"),
        expr(s"(idf_q16 * tf * 22000L) div (tf * 10000L + 3000L + " +
          s"(dl * ${9000L * nDocs}L) div ${math.max(aTok, 1L)}L)").as("score_q16"))
    // TopKBy orders (ord DESC, id ASC) in partial aggregates — the
    // double ord carries the long score exactly (|score| ≪ 2^53)
    scored.groupBy(col("token"))
      .agg(graft.functions.TopKByFunctions
        .top_k_by(col("score_q16").cast("double"), col("doc_id"), k).as("top"))
      .select(col("token"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("token"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("doc_id"), col("t.ord").cast("long").as("score_q16"))
  }

  /** q74: CCNet-style perplexity bucketing (Wenzek et al., LREC 2020,
    * arXiv:1911.00359 §4.3) — the head/middle/tail corpus partition
    * every CCNet-descended pipeline ships: per LANGUAGE, documents are
    * split at the 33rd/67th perplexity percentiles of that language's
    * distribution (lower perplexity = closer to the LM's training
    * register = "head"). Composes two existing kernels: the q61
    * Q16-integer bigram-LM perplexity (no libm — scores hash-compare)
    * and the q46 deterministic bottom-k-by-hash quantile sketch
    * (per-lang cutoffs replay exactly in SQL, where a sampled or
    * t-digest percentile could not).
    *
    * Scale shape: the per-doc (doc_id, lang, ppl) frame is NARROW
    * (the q69 docB checkpoint class) and feeds two consumers (the
    * sketch and the final bucket map), so it is localCheckpoint'd
    * once — the bigram model join never re-derives. The sketch is one
    * bounded aggregate (k doubles per language, map-side partials
    * combine); the cutoff table is languages-count rows and
    * BROADCASTS back; the bucket decision is a pure map. No global
    * sort, no corpus window — the per-lang percentile a naive build
    * would compute with rank() OVER (PARTITION BY lang) (a full
    * shuffle of the corpus into language partitions, with the
    * dominant language's partition a straggler at 100 TB) costs one
    * k-row sketch here.
    *
    * Docs with no bigrams have NULL perplexity and NULL bucket
    * (CCNet drops them; the flag is attributable). Cutoff membership
    * is inclusive: ppl <= c33 → head, <= c67 → middle, else tail.
    */
  def ccnetBuckets(documents: DataFrame, k: Int = 1024): DataFrame = {
    val withLang = documents.select(col("doc_id"), col("lang"))
      .join(perplexity(documents), Seq("doc_id"))
      .localCheckpoint(true)
    withLang.join(broadcast(ccnetCutFrame(withLang, k)), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("ppl_q16"),
        when(col("ppl_q16").isNull, lit(null).cast("string"))
          .when(col("ppl_q16") <= col("c33"), lit("head"))
          .when(col("ppl_q16") <= col("c67"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** The per-language (c33, c67) cutoff frame over a (lang, ppl_q16)
    * carrying frame — the q46 bottom-k-by-hash sketch per language.
    */
  private def ccnetCutFrame(withLang: DataFrame, k: Int): DataFrame = {
    import graft.operators.Dedup.ReplayableHash.{a, b, P}
    val s = graft.functions.VectorFunctions.poly_hash(
      concat(lit("q74:"), col("doc_id").cast("string")))
    val h1 = (lit(a(220)) * s + lit(b(220))) % lit(P)
    val h2 = (lit(a(221)) * s + lit(b(221))) % lit(P)
    withLang.filter(col("ppl_q16").isNotNull)
      .select(col("lang"), (h1 * lit(P) + h2).as("h"),
        col("ppl_q16").cast("double").as("v"))
      .groupBy(col("lang"))
      .agg(graft.functions.QuantileFunctions
        .quantile_sketch(col("h"), col("v"), k).as("sample"))
      .select(col("lang"),
        expr("try_element_at(sample, CAST(33 * (size(sample) - 1) DIV 100 AS INT) + 1)")
          .cast("long").as("c33"),
        expr("try_element_at(sample, CAST(67 * (size(sample) - 1) DIV 100 AS INT) + 1)")
          .cast("long").as("c67"))
  }

  /** q76: the CORPUS CARD — the per-language summary table every
    * dataset release ships (HuggingFace dataset cards, the Pile/C4
    * papers' composition tables): doc counts, token/char mass, mean
    * document length, and length percentiles, per language PLUS the
    * corpus-total rollup row. One scan, one ROLLUP aggregate — the
    * grouping-sets shape Spark and DuckDB both execute natively — and
    * every statistic is replayable: counts/sums are integers, the
    * mean is an integer div, and p50/p90 come from the q46
    * deterministic bottom-k-by-hash sketch (a per-group bounded
    * aggregate, NOT a percentile window — the dominant language is
    * the straggler partition a window would create at 100 TB; fresh
    * hash indexes 222/223).
    *
    * Null-text docs count in n_docs but contribute nothing else
    * (count(text) vs count(*) makes the gap attributable). The total
    * row's lang is the literal "__total__" via grouping() — NOT null —
    * so a genuinely-null lang group could never collide with it.
    */
  def corpusCard(documents: DataFrame, k: Int = 1024): DataFrame = {
    import graft.operators.Dedup.ReplayableHash.{a, b, P}
    val s = graft.functions.VectorFunctions.poly_hash(
      concat(lit("q76:"), col("doc_id").cast("string")))
    val h1 = (lit(a(222)) * s + lit(b(222))) % lit(P)
    val h2 = (lit(a(223)) * s + lit(b(223))) % lit(P)
    val perDoc = documents.select(col("lang"),
      length(col("text")).cast("long").as("nc"),
      when(col("text").isNull, lit(null).cast("long"))
        .otherwise(size(filter(split(lower(wsTrim(col("text"))), "\\s+"),
          t => length(t) > 0)).cast("long")).as("nt"),
      (h1 * lit(P) + h2).as("h"))
    perDoc.rollup(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("nc")).as("n_text"),
        coalesce(sum(col("nt")), lit(0L)).as("n_tokens"),
        coalesce(sum(col("nc")), lit(0L)).as("n_chars"),
        graft.functions.QuantileFunctions
          .quantile_sketch(col("h"), col("nc").cast("double"), k).as("sample"),
        // grouping() is only legal IN the rollup's aggregate list —
        // carry the tag out as a column
        grouping(col("lang")).as("g"))
      .select(
        when(col("g") === 1, lit("__total__"))
          .otherwise(col("lang")).as("lang"),
        col("n_docs"), col("n_text"), col("n_tokens"), col("n_chars"),
        when(col("n_text") > 0, expr("n_tokens div n_text"))
          .otherwise(lit(null).cast("long")).as("avg_tokens"),
        expr("try_element_at(sample, CAST(50 * (size(sample) - 1) DIV 100 AS INT) + 1)")
          .cast("long").as("p50_chars"),
        expr("try_element_at(sample, CAST(90 * (size(sample) - 1) DIV 100 AS INT) + 1)")
          .cast("long").as("p90_chars"))
  }

  def perplexity(documents: DataFrame): DataFrame = {
    val model = bigramModel(documents)
    val scored = bigrams(documents)
      .join(model, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("nll_q16"), lit(0L))).as("nll_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_sum"),
        expr("nll_sum div n_bigrams").as("ppl_q16"))
    documents.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_sum"), lit(0L)).as("nll_q16"),
        col("ppl_q16"))
  }
}
