package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Analytics, AsofJoin, CoreOps, Dedup, Multimodal, Similarity, TextOps}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every query takes (spark, sfDir) and returns a DataFrame whose column
  * names match its `oracleSql` entry exactly (the driver sorts columns
  * by name before hashing). Money/quantity aggregates go through
  * DECIMAL(30,6) on both sides so results are exact and
  * order-independent (see CoreOps.dsum). Timestamps in oracle-checked
  * outputs are emitted as formatted strings to sidestep
  * parquet-timestamp representation differences between engines.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's full topology end-to-end (Streams.java:99-169).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    CoreOps.pickupPipeline(
      Tables.orders(spark, dir), Tables.customer(spark, dir),
      Tables.nation(spark, dir), Tables.lineitem(spark, dir),
      Tables.part(spark, dir))
  }

  /** REGISTRY CONTRACT: every entry must rebuild its frames from the
    * parquet scan on each call — never memoize a (local)checkpointed
    * frame across entries. Bench clears the block manager between
    * query slots (Bench.scala), and a lineage-truncated frame shared
    * across slots would fail with a missing-checkpoint-block error
    * rather than recompute.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- core reference-derived operators (SURVEY §2, Streams.java) --
    "q01_repartition" -> ((s, d) => CoreOps.repartitionByKey(Tables.orders(s, d))),
    "q02_join_user" -> ((s, d) =>
      CoreOps.joinUser(Tables.orders(s, d), Tables.customer(s, d))),
    "q03_join_store_broadcast" -> ((s, d) =>
      CoreOps.joinStoreBroadcast(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q04_explode_items" -> ((s, d) => CoreOps.explodeItems(Tables.lineitem(s, d))),
    "q05_enrich_price" -> ((s, d) =>
      CoreOps.enrichPrice(Tables.lineitem(s, d), Tables.part(s, d))),
    "q06_order_reassembly" -> ((s, d) =>
      CoreOps.orderReassembly(Tables.lineitem(s, d), Tables.part(s, d))),
    "q07_product_stats" -> ((s, d) => CoreOps.productStats(Tables.lineitem(s, d))),
    "q08_stats_by_store" -> ((s, d) => CoreOps.statsByStore(Tables.lineitem(s, d))),
    "q09_stats_merge" -> ((s, d) => CoreOps.statsMerge(Tables.lineitem(s, d))),
    "q10_pickup_pipeline" -> ((s, d) =>
      CoreOps.pickupPipeline(Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Tables.lineitem(s, d), Tables.part(s, d))),
    // -- analytics headliners --
    "q11_pricing_summary" -> ((s, d) => Analytics.pricingSummary(Tables.lineitem(s, d))),
    "q12_top_unshipped" -> ((s, d) =>
      Analytics.topUnshipped(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q13_regional_revenue" -> ((s, d) =>
      Analytics.regionalRevenue(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q14_window_running" -> ((s, d) => Analytics.windowRunning(Tables.lineitem(s, d))),
    "q15_sessionize" -> ((s, d) => Analytics.sessionize(Tables.events(s, d))),
    "q15b_sessionize_sw" -> ((s, d) => Analytics.sessionizeSW(Tables.events(s, d))),
    "q16_events_window_agg" -> ((s, d) => Analytics.eventsWindowAgg(Tables.events(s, d))),
    "q17_priority_semi" -> ((s, d) =>
      Analytics.orderPriorityCount(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q18_large_orders" -> ((s, d) =>
      Analytics.largeOrders(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q19_inactive_customers" -> ((s, d) =>
      Analytics.inactiveCustomers(Tables.customer(s, d), Tables.orders(s, d))),
    // -- LLM-data-pipeline: text analysis (SURVEY §2 q20-q24) --
    "q20_dedup_exact" -> ((s, d) => TextOps.dedupExact(Tables.documents(s, d))),
    "q21_doc_fingerprint" -> ((s, d) => TextOps.docFingerprint(Tables.documents(s, d))),
    // q87: JSONL source/sink round-trip — documents → jsonl →
    // schema-pinned read-back; the oracle is the identity SELECT
    "q87_jsonl_roundtrip" -> ((s, d) => graft.sources.Jsonl.roundTripDocuments(s, d)),
    // q83: snapshot diff — v2 derived deterministically from the
    // corpus (drop %17, edit %13 by a planted suffix, add %19 rows
    // under shifted ids), so the delta table is oracle-replayable
    "q83_dataset_diff" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      val docs = Tables.documents(s, d)
      val base = docs.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      val added = docs.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      TextOps.datasetDiff(docs, base.unionByName(added))
    }),
    "q22_token_count" -> ((s, d) => TextOps.tokenCount(Tables.documents(s, d))),
    "q23_quality_score" -> ((s, d) => TextOps.qualityScore(Tables.documents(s, d))),
    "q24_lang_id" -> ((s, d) => TextOps.langId(Tables.documents(s, d))),
    // -- LLM-data-pipeline: fuzzy dedup (q25-q27, rows-only checks) --
    "q25_dedup_minhash" -> ((s, d) => Dedup.dedupMinHash(Tables.documents(s, d))),
    "q26_dedup_simhash" -> ((s, d) => Dedup.dedupSimHash(Tables.documents(s, d))),
    "q27_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(Tables.documents(s, d))),
    // q91: winnowing fingerprint match (MOSS) — guaranteed detection
    // of shared runs >= w+k-1 = 7 tokens at ~2/(w+1) posting density;
    // the partial-overlap detector between q25's sketch and q71's
    // full-volume digests
    "q91_winnow" -> ((s, d) => Dedup.winnowPairs(Tables.documents(s, d))),
    // -- LLM-data-pipeline: similarity search (q28-q30) --
    "q28_knn_bruteforce" -> ((s, d) => Similarity.knnBruteForce(Tables.embeddings(s, d))),
    "q28b_knn_blocked" -> ((s, d) => Similarity.knnBruteForceBlocked(Tables.embeddings(s, d))),
    // q29/q32/q32b — the FP-cosine LSH/IVF ANN paths — RETIRED from the
    // registry to [[scaleProbes]] (r13, closing the r12 verdict's last
    // disposition item): their retrieval semantics are fully covered by
    // the ORACLE-EXACT integer twins q29b (LSH top-k) and q63 (IVF),
    // and as registry entries they could only ever be rows-only (FP
    // cosine has no cross-engine hash). Their recall gates live on in
    // SimilaritySpec (operators unchanged); their scale exponents stay
    // probed via BenchScale, which reads scaleProbes.
    "q29b_knn_lsh_int" -> ((s, d) => Similarity.knnLshInt(Tables.embeddings(s, d))),
    "q30_embedding_dedup" -> ((s, d) => Similarity.embeddingDedup(Tables.embeddings(s, d))),
    "q30b_embedding_dedup_lsh" -> ((s, d) => Similarity.embeddingDedupLsh(Tables.embeddings(s, d))),
    "q33_vocabulary" -> ((s, d) => TextOps.vocabulary(Tables.documents(s, d))),
    "q34_asof_join" -> ((s, d) =>
      AsofJoin.eventsAsofOrders(Tables.events(s, d), Tables.orders(s, d))),
    "q35_json_props" -> ((s, d) => Analytics.jsonPropsAgg(Tables.events(s, d))),
    "q36_label_centroids" -> ((s, d) => Similarity.labelCentroids(Tables.embeddings(s, d))),
    // q60: oracle-exact integer k-means (k=8, 3 Lloyd iterations) —
    // the hash-checkable twin of the FP trainCodebook/q32b path
    "q60_kmeans" -> ((s, d) => Similarity.kmeansAssign(Tables.embeddings(s, d), k = 8, iters = 3)),
    // q79: cluster-balanced sampling — q60 clusters + per-cluster
    // hash-quota keep (quota 40 < N/k at sf0.01: selection bites)
    "q79_cluster_sample" -> ((s, d) =>
      Similarity.clusterSample(Tables.embeddings(s, d), k = 8, iters = 3, quota = 40)),
    // q63: ORACLE-EXACT integer IVF KNN (the ANN family's hash-
    // checkable member; q29/q32 stay the FP rows-only scale paths)
    "q63_knn_ivf_exact" -> ((s, d) => Similarity.knnIvfInt(Tables.embeddings(s, d))),
    // q64: SemDeDup — within-cluster near-dup components over the q60
    // codebook, keep-the-outlier rule; integer end to end (hash-exact)
    "q64_semdedup" -> ((s, d) => graft.operators.Components.semDedup(Tables.embeddings(s, d))),
    // q65/q65b: product quantization — integer per-subspace Lloyd
    // codebooks + ADC search over the codes; both hash-exact
    "q65_pq_codes" -> ((s, d) => Similarity.pqCodes(Tables.embeddings(s, d), kcode = 16, iters = 3)),
    "q65b_pq_search" -> ((s, d) => Similarity.pqSearch(Tables.embeddings(s, d), kcode = 16, iters = 3)),
    // q66: the complete IVFADC system (coarse lists + residual PQ +
    // per-list ADC) — the deployable 100 TB ANN shape, hash-exact
    "q66_ivfadc" -> ((s, d) => Similarity.ivfadcSearch(Tables.embeddings(s, d))),
    // q82: SQ8 scalar quantization — one byte per dimension, integer
    // codes + reconstruction error, hash-exact
    "q82_sq8" -> ((s, d) => Similarity.sq8Codes(Tables.embeddings(s, d))),
    // q86: embedding outlier screen — per-cluster p95 distance gate
    "q86_embedding_outliers" -> ((s, d) => Similarity.embeddingOutliers(Tables.embeddings(s, d))),
    // q95: fixed-point PCA power iteration — dominant principal
    // component + per-vector projections, hash-exact (the q60 integer
    // discipline applied to linear algebra)
    "q95_pca_power" -> ((s, d) => Similarity.pcaPower(Tables.embeddings(s, d))),
    // q67: BPE merge training — the tokenizer-training step q51's
    // greedy inference consumes; deterministic single-pass merge
    // contract, hash-exact vs the unrolled-CTE replay
    "q67_bpe_train" -> ((s, d) => graft.operators.Bpe.bpeTrainFast(Tables.documents(s, d))),
    // q68: the train→apply composition — corpus encoded with q67's
    // rules as one nested-replace pure map
    "q68_bpe_encode" -> ((s, d) => graft.operators.Bpe.bpeEncode(Tables.documents(s, d))),
    // q67b/q68b: BYTE-LEVEL BPE with regex pre-tokenization (the
    // GPT-2/Llama tokenizer shape — leading space attached, merges
    // over UTF-8 bytes spelled as hex-pair symbols, zero OOV)
    "q67b_bpe_bytes_train" -> ((s, d) =>
      graft.operators.Bpe.byteBpeTrainFast(Tables.documents(s, d))),
    "q68b_bpe_bytes_encode" -> ((s, d) =>
      graft.operators.Bpe.byteBpeEncode(Tables.documents(s, d))),
    // q69: DSIR importance resampling — hashed-bigram target/raw
    // log-ratio scoring in Q16, top-M keep; hash-exact
    "q69_dsir" -> ((s, d) => graft.operators.Dsir.dsirSelect(Tables.documents(s, d))),
    // q70: Gopher rule battery — per-rule booleans + conjunctive pass,
    // integer myriad ratios; a stateless narrow projection
    "q70_gopher_rules" -> ((s, d) => graft.operators.QualityRules.gopherRules(Tables.documents(s, d))),
    // q105: URL/domain filtering — RefinedWeb's first stage (domain
    // blocklist + weighted flag-word URL score); urls PLANTED from
    // doc_id (the q58 discipline — the table has no url column)
    "q105_url_filter" -> ((s, d) =>
      graft.operators.UrlFilter.urlFilterPlanted(Tables.documents(s, d))),
    // q78: deterministic epoch shuffle — the doc-level training-order
    // permutation (shard, pos, bijective global_pos), no global sort
    "q78_epoch_shuffle" -> ((s, d) => TextOps.epochShuffle(Tables.documents(s, d))),
    // q77: C4 line-level cleaning — the corpus has no line structure,
    // so lines/punctuation/lorem/braces are PLANTED deterministically
    // from (doc_id, word index) (the q75 discipline); the operator
    // itself never reads doc_id
    "q77_c4_clean" -> ((s, d) =>
      graft.operators.QualityRules.c4Clean(
        graft.operators.QualityRules.c4Plant(Tables.documents(s, d)))),
    // q71: ExactSubstr duplicated-span removal (Lee et al. 2021) —
    // k-token window digests, keep-first, span-union cut; hash-exact
    "q71_substring_dedup" -> ((s, d) =>
      graft.operators.ExactSubstr.substringDedup(Tables.documents(s, d))),
    // q72: fastText-style NB classifier — hashed unigram+bigram bag,
    // even/odd train/holdout split, Q16 log-odds + prior; hash-exact
    "q72_nb_classifier" -> ((s, d) =>
      graft.operators.Classifier.nbClassify(Tables.documents(s, d))),
    // -- LLM-data-pipeline: multimodal plumbing (q31) --
    "q31_multimodal_meta" -> ((s, d) => Multimodal.multimodalMeta(Tables.documents(s, d))),
    // q59: real decode→feature extraction (64-bin histogram + Sobel)
    "q59_image_features" -> ((s, d) => Multimodal.imageFeatureMeta(Tables.documents(s, d))),
    // -- LLM-data-pipeline: deterministic data mixing (q37) --
    "q37_stratified_sample" -> ((s, d) => TextOps.stratifiedSample(Tables.documents(s, d),
      Map("en" -> 10000, "es" -> 5000, "de" -> 2500, "fr" -> 1250, "zh" -> 625))),
    // -- LLM-data-pipeline: decontamination / quality / salience (q38-q40) --
    "q38_decontamination" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      // deterministic stand-in eval set: every 97th doc
      TextOps.decontaminate(docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0))
    }),
    // q73: q38's output through the bloom-join shape (benchmark bloom
    // prefilter + exact confirm) — same split, same oracle SQL.
    "q73_bloom_decontam" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      TextOps.decontaminateBloom(docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0))
    }),
    // q81: per-benchmark-ITEM contamination report (q38's split, the
    // eval-card flip side: dirty-doc and hit-shingle counts per item)
    "q81_contamination_report" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      TextOps.contaminationReport(docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0))
    }),
    "q39_repetition_stats" -> ((s, d) => TextOps.repetitionStats(Tables.documents(s, d))),
    // q84: memorization risk — fraction of a doc's distinct 4-grams
    // occurring in >1 corpus documents (duplication-driven signal)
    "q84_memorization_risk" -> ((s, d) => TextOps.memorizationRisk(Tables.documents(s, d))),
    // q85: retrieval passage chunking — 64-word windows at stride 32
    "q85_chunk_passages" -> ((s, d) => TextOps.chunkPassages(Tables.documents(s, d))),
    // q88: source-mix composition — the (source × lang) CUBE with
    // myriad corpus shares
    "q88_source_mix" -> ((s, d) => TextOps.sourceMix(Tables.documents(s, d))),
    // q89: co-purchase top-k recommendations over the basket graph
    "q89_copurchase_topk" -> ((s, d) => Analytics.copurchaseTopK(Tables.lineitem(s, d))),
    // q90: source-quota curation — the q48b token-budget mixture
    // re-keyed to SOURCE (the DoReMi/Pile recipe over q88's axis);
    // non-uniform registered targets so every source gets a distinct
    // solved rate, unlisted sources drop
    // q96: UniMax epoch-capped budget waterfilling — the training-mix
    // scheduler that DERIVES source shares from (budget, epoch cap)
    // instead of hitting externally-chosen targets (q48/q90)
    "q96_unimax" -> ((s, d) => TextOps.unimaxAlloc(Tables.documents(s, d))),
    // q97: k-anonymity suppression over the customer QI triple
    "q97_kanon" -> ((s, d) =>
      graft.operators.Privacy.kAnonymize(Tables.customer(s, d))),
    // q98: ε-DP noised counts (two-sided geometric / discrete Laplace,
    // seeded-replayable draws) — the privacy-bound q88 release
    "q98_dp_counts" -> ((s, d) =>
      graft.operators.Privacy.dpCounts(Tables.documents(s, d))),
    "q90_source_quota" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.sourceQuota(docs,
        Map("src0" -> 3000, "src1" -> 2500, "src2" -> 1500, "src3" -> 500),
        TextOps.tokenizerVocabSeq(docs, m = 64, maxN = 4), maxN = 4)
    }),
    // q61: bigram-LM perplexity in Q16 fixed-point (the Log2Q16Expr
    // kernel — no libm, so the whole score hash-compares)
    "q61_perplexity" -> ((s, d) => TextOps.perplexity(Tables.documents(s, d))),
    // q104: interpolated Kneser-Ney TRIGRAM perplexity — the
    // KenLM-class CCNet scorer (r14 verdict task #2), D=3/4 discount
    // in Q30 fixed point + the Log2Q16 kernel: hash-exact where a
    // float KN could only be rank-gated
    "q104_kn_trigram" -> ((s, d) =>
      graft.operators.NgramLm.knPerplexity(Tables.documents(s, d))),
    // q104b: the GENERALIZED order-n KN at n=5 — the order CCNet
    // actually deploys; the same Q30 ladder built generically (at n=3
    // it reproduces q104 bit-for-bit, spec-pinned)
    "q104b_kn_fivegram" -> ((s, d) =>
      graft.operators.NgramLm.knPerplexityN(Tables.documents(s, d), 5)),
    // q104c: ARPA-style COUNT-PRUNED KN (r15 verdict task #1) — the
    // Heafield §4 discipline that bounds the deployed model: entries
    // below minCount drop from the stored tables and scoring walks
    // the backoff ladder instead (the `peff` column); thresholds live
    // inside the oracle CTE chain. Registered at order 3, minCount =
    // minCtx = 2 (singleton trigrams/contexts pruned — the config
    // that actually exercises every ladder branch at sf0.01)
    "q104c_kn_pruned" -> ((s, d) =>
      graft.operators.NgramLm.knPerplexityNPruned(Tables.documents(s, d), 3, 2L, 2L)),
    // q74: CCNet head/middle/tail buckets — the q61 kernel + per-lang
    // q46 sketch cutoffs (33/67), all integer/replayable
    "q74_ccnet_buckets" -> ((s, d) => TextOps.ccnetBuckets(Tables.documents(s, d), k = 256)),
    // q76: the dataset-card rollup — per-lang + total, sketch percentiles
    "q76_corpus_card" -> ((s, d) => TextOps.corpusCard(Tables.documents(s, d), k = 256)),
    // q62: integer-exact BM25 top-k retrieval over the same kernel
    "q62_bm25_search" -> ((s, d) => TextOps.bm25Search(Tables.documents(s, d))),
    // q94: MMR diversified retrieval — greedy λ=0.7 re-rank of q62's
    // candidate pool against 3-gram Jaccard self-similarity, the
    // selection trace hash-exact (greedy loop unrolled into the plan)
    "q94_mmr" -> ((s, d) => graft.operators.Mmr.mmrDiversify(Tables.documents(s, d))),
    // q58: the synthetic corpus is PII-free (checked: zero '@', zero
    // digits), so PII is PLANTED deterministically from doc_id on the
    // %3 split — the q38 self-contained-construction discipline, with
    // the IDENTICAL planting expression in the oracle, so detection
    // and byte-level redaction are still hash-compared end to end
    "q58_pii_redact" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      val planted = docs.withColumn("text",
        when(col("doc_id") % 3 === 0 && col("text").isNotNull,
          concat(
            lit("contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com or 10."),
            (col("doc_id") % 200).cast("string"), lit("."),
            (col("doc_id") % 250).cast("string"), lit(".9 call "),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" "), col("text")))
          .otherwise(col("text")))
      TextOps.piiRedact(planted)
    }),
    // q75: the corpus is clean ASCII (NFC-invariant by construction),
    // so non-ASCII is PLANTED deterministically from doc_id — a
    // decomposed suffix, a composed one, zero-width and control chars
    // (the q58 self-contained-construction discipline)
    "q75_normalize" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      val planted = docs.withColumn("text",
        when(col("text").isNull, lit(null).cast("string"))
          .otherwise(concat(col("text"),
            // \\u escapes, not literal chars: the combining/zero-width
            // bytes must survive every editor and diff untouched
            when(col("doc_id") % 6 === 0, lit(" cafe\u0301"))  // e + combining acute
              .when(col("doc_id") % 6 === 1, lit(" A\u030A"))  // A + combining ring
              .when(col("doc_id") % 6 === 2, lit(" caf\u00E9")) // composed e-acute
              .when(col("doc_id") % 6 === 3, lit("\u200Bx"))   // zero-width space
              .when(col("doc_id") % 6 === 4, lit("\u0007x"))   // C0 control (BEL)
              .otherwise(lit("")))))
      TextOps.normalizeText(planted)
    }),
    "q40_keywords" -> ((s, d) => TextOps.keywords(Tables.documents(s, d))),
    "q41_audio_meta" -> ((s, d) => Multimodal.audioMeta(Tables.documents(s, d))),
    "q42_dedup_groups" -> ((s, d) =>
      graft.operators.Components.dedupGroups(Tables.embeddings(s, d))),
    "q42b_dedup_groups_lsh" -> ((s, d) =>
      graft.operators.Components.dedupGroupsLsh(Tables.embeddings(s, d))),
    // q80: leakage-free train/val/test split — near-dup COMPONENTS
    // (q25 pairs + q42 closure) are the unit of assignment
    "q80_leakage_split" -> ((s, d) =>
      graft.operators.Components.leakageSplit(Tables.documents(s, d))),
    "q43_video_meta" -> ((s, d) => Multimodal.videoMeta(Tables.documents(s, d))),
    "q44_range_join" -> ((s, d) => Analytics.rangeJoinBursts(Tables.events(s, d))),
    "q45_heavy_hitters" -> ((s, d) => TextOps.heavyHitters(Tables.documents(s, d))),
    // k = 256 < the sf0.01 row count, so the oracle comparison
    // exercises the bottom-k-by-hash SELECTION, not just the
    // keep-everything degenerate case (the library default is 1024)
    "q46_quantile_gate" -> ((s, d) => TextOps.quantileGate(Tables.documents(s, d), k = 256)),
    // capacity 512 (not the 2048 library default) so docs straddle
    // chunk boundaries at sf0.01 — the comparison exercises the
    // span-splitting arithmetic, not just whole-doc assignment
    "q47_pack_sequences" -> ((s, d) =>
      TextOps.packSequences(Tables.documents(s, d), capacity = 512, shards = 8)),
    // uniform target over the 5 corpus languages: the scarcest language
    // binds the feasible total, the rest downsample to match
    "q48_mixture_solve" -> ((s, d) => TextOps.mixtureSolve(Tables.documents(s, d),
      Map("en" -> 2000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 2000))),
    // hash-exact since r11: the box-filter aHash is all-integer, so
    // the oracle replays seed→pixels→signature→groups bit-for-bit
    // (see the q50 oracle entry); the perceptual properties stay
    // gated by MultimodalSpec's perturbation/cross-codec specs
    "q50_image_dedup" -> ((s, d) => Multimodal.imageDedup(Tables.documents(s, d))),
    // every 7th doc is the stand-in benchmark set — denser than q38's
    // %97 split so natural near-dup pairs CROSS the boundary at
    // sf0.01 (9 crossing pairs measured) and the oracle compare
    // exercises real contamination rows, not an all-zero frame
    "q49_decontaminate_fuzzy" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      graft.operators.Dedup.decontaminateFuzzy(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    }),
    // m = 64 (not the 256 library default) so the sf0.01 corpus has
    // real OOV pressure: the comparison exercises greedy matching AND
    // the fallback rule, not a vocab that covers everything
    "q51_tokenize" -> ((s, d) =>
      TextOps.tokenStats(Tables.documents(s, d), m = 64, maxN = 4)),
    // q47's packing on q51's tokenizer counts — same capacity/shards
    // as q47 so chunk boundaries are exercised; only the lengths differ
    "q47b_pack_tokenized" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.packSequencesTokenized(docs,
        TextOps.tokenizerVocabSeq(docs, m = 64, maxN = 4),
        capacity = 512, shards = 8)
    }),
    // q48's mixture on q51's TOKEN totals (budgets in tokens, not
    // docs) — same uniform target so the doc-vs-token rate difference
    // is the thing exercised
    "q48b_mixture_tokenized" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.mixtureSolveTokenized(docs,
        Map("en" -> 2000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 2000),
        TextOps.tokenizerVocabSeq(docs, m = 64, maxN = 4), maxN = 4)
    }),
    "q52_segment_dedup" -> ((s, d) =>
      TextOps.segmentDedup(Tables.documents(s, d), segWords = 8)),
    // -- graph analytics over the part co-purchase graph (q54-q55) --
    "q54_triangle_count" -> ((s, d) =>
      graft.operators.Graph.triangleCounts(Tables.part(s, d), Tables.lineitem(s, d))),
    "q55_pagerank" -> ((s, d) =>
      graft.operators.Graph.pageRank(Tables.part(s, d), Tables.lineitem(s, d))),
    "q57_communities" -> ((s, d) =>
      graft.operators.Graph.labelPropagation(Tables.part(s, d), Tables.lineitem(s, d))),
    // -- offline state restore (the reference restore/ module, q56) --
    // the events table read as a keyed changelog: rekey on user_id,
    // newest (ts, event_id) wins, an 'error' tombstone closes the key
    "q56_restore_state" -> ((s, d) =>
      graft.operators.Restore.restoreState(Tables.events(s, d))),
    // q92: SCD Type-2 history — the point-in-time flip side of q56:
    // the same changelog folded into validity intervals (one row per
    // state CHANGE, open interval for the current state)
    "q92_scd2" -> ((s, d) =>
      graft.operators.Restore.scd2History(Tables.events(s, d))),
    // q93: Z-order layout encode — min/max-scaled 16-bit grid + bit
    // interleave; the multi-dimensional clustering every large table
    // write runs for min/max-stats pruning (pruning measured in
    // LayoutSpec, not asserted by faith)
    "q93_zorder" -> ((s, d) =>
      graft.operators.Layout.zorderEncode(Tables.lineitem(s, d))),
    // q93b: Hilbert-curve layout encode — the same grid, the curve
    // index from the fused HilbertExpr kernel (unit-step continuity
    // kills z-order's diagonal seams; pruning comparison measured in
    // LayoutSpec)
    "q93b_hilbert" -> ((s, d) =>
      graft.operators.Layout.hilbertEncode(Tables.lineitem(s, d))),
    // the end-to-end curation chain; %97 split = q38's benchmark
    "q53_curate" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      graft.operators.Pipeline.curate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        Map("en" -> 2000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 2000))
    }),
    // q53b: the chain with the SOURCE-QUOTA knob ON (r13 — q90's
    // per-source release-recipe budgets replacing the per-language
    // mixture as the final admission stage; same shared solveRates)
    "q53b_curate_srcquota" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      graft.operators.Pipeline.curate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        Map("en" -> 2000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 2000),
        sourceQuotaMyriad =
          Map("src0" -> 3000, "src1" -> 2500, "src2" -> 1500, "src3" -> 500))
    }),
    // q53c: the chain with the URL-GATE knob ON (r15 verdict task #3 —
    // q105 as stage −1, the RefinedWeb ordering: origin-level junk
    // dropped before any content stage; urls planted from doc_id, the
    // corpus statistics all derive from the gated corpus)
    "q53c_curate_urlgate" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      graft.operators.Pipeline.curate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        Map("en" -> 2000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 2000),
        urlGate = true)
    }),
    // q99: hybrid BM25+ANN retrieval fused by integer RRF — the
    // two-leg search (lexical q62 kernel, semantic q63 kernel) ranked
    // in pure int64 so the fusion hash-compares
    "q99_hybrid_rrf" -> ((s, d) =>
      graft.operators.Hybrid.hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d))),
    // q100: PSI corpus-drift report between a baseline release and a
    // candidate (overlapping doc_id splits — the q83 snapshot idiom),
    // integer e8 shares + Q16 log2 so the score hash-compares
    "q100_drift_psi" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      graft.operators.Drift.driftPsi(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 2 =!= 0))
    }),
    // q100b: the drift ALERT — per-feature PSI totals under the pinned
    // e8·Q16 translations of the classical 0.1/0.2 thresholds
    "q100b_drift_alert" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      graft.operators.Drift.driftAlert(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 2 =!= 0))
    }),
    // q101/q101b: unigram-LM (SentencePiece) tokenizer — hard-EM
    // training with Q16 integer likelihoods and Viterbi encoding, the
    // r13 verdict's missing-trainer task
    "q101_unigram_train" -> ((s, d) =>
      graft.operators.Unigram.unigramTrain(Tables.documents(s, d))),
    "q101b_unigram_encode" -> ((s, d) =>
      graft.operators.Unigram.unigramEncode(Tables.documents(s, d))),
    // q102: the composed RAG chain — normalize → chunk → passage index
    // → hybrid retrieve with per-doc best-passage dedup + attribution
    "q102_rag_search" -> ((s, d) =>
      graft.operators.Rag.ragSearch(Tables.documents(s, d), Tables.embeddings(s, d))),
    // q103: incremental release curation — the delta (doc_id % 7 = 0)
    // curated against the v1 release's frozen artifacts (digests,
    // cutoffs, vocab, rates)
    "q103_curate_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val rest = docs.filter(col("doc_id") % 97 =!= 0)
      val st = graft.operators.Pipeline.curateState(
        rest.filter(col("doc_id") % 7 =!= 0), bench,
        Map("en" -> 2000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 2000))
      graft.operators.Pipeline.curateDelta(rest.filter(col("doc_id") % 7 === 0), st)
    }),
    // q103b: the same incremental curation from the PERSISTED+LOADED
    // curate_state artifact (built once per sf dir under tmpdir) —
    // the pin measures the incremental pass, not the v1 rebuild;
    // output identical to q103 (the oracle is q103's SQL verbatim)
    "q103b_curate_frozen" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val st = graft.operators.Pipeline.loadOrBuildReleaseState(s, d,
        Map("en" -> 2000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 2000))
      val docs = Tables.documents(s, d)
      val delta = docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 7 === 0)
      graft.operators.Pipeline.curateDelta(delta, st)
    }),
    // q103c (r15 verdict task #2): the MONTH-3 release — the q103
    // delta cohort split in two increments (%14==0 month 2, %14==7
    // month 3): v1 state advanced by month 2's curated delta
    // (state_2 = state_1 ⊕ delta_2), then month 3 curated against the
    // ADVANCED state — a month-3 copy of month-2 shipped content now
    // drops, where q103's stale v1 state would keep it.
    // r17 (the r16 verdict's q103c item): v1 state comes from the SAME
    // persisted `curate_state` artifact q103b loads (identical cohort,
    // params, and values by the ModelStore round-trip contract —
    // PipelineSpec pins it, the oracle re-verifies it), so the entry
    // times what the monthly deployment actually runs: advance +
    // month-3 increment, not an inline v1 rebuild. q103 keeps the
    // inline rebuild deliberately (its declared full-program cost).
    "q103c_curate_advance" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val st1 = graft.operators.Pipeline.loadOrBuildReleaseState(s, d,
        Map("en" -> 2000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 2000))
      val docs = Tables.documents(s, d)
      val rest = docs.filter(col("doc_id") % 97 =!= 0)
      val st2 = graft.operators.Pipeline.advanceState(
        rest.filter(col("doc_id") % 14 === 0), st1)
      graft.operators.Pipeline.curateDelta(rest.filter(col("doc_id") % 14 === 7), st2)
    }),
  )

  /** TERMINAL DECLARATION (r13): the FP-cosine ANN scale probes,
    * retired from [[queries]]. These are deliberately NOT registry
    * entries: FP cosine distances cannot hash-compare across engines,
    * so as registry rows they could only ever read `no_oracle` — while
    * their retrieval semantics are fully represented by the
    * ORACLE-EXACT integer twins (q29 → q29b, q32/q32b → q63, which
    * shares kmeansFit with the q60 codebook q32b trains). The
    * operators stay first-class library code: recall gates
    * (q29 recall@1 ≥ 0.85 vs q28; q32b strict improvement over q32)
    * remain asserted in SimilaritySpec, and BenchScale probes their
    * scale exponents from THIS map, so the O(N^1.5)/banded-candidate
    * machinery stays regression-guarded. A user wanting FP-cosine ANN
    * calls Similarity.knnLsh / Similarity.knnIvf directly.
    */
  def scaleProbes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q29_knn_lsh" -> ((s, d) => Similarity.knnLsh(Tables.embeddings(s, d))),
    "q32_knn_ivf" -> ((s, d) => Similarity.knnIvf(Tables.embeddings(s, d))),
    "q32b_knn_ivf_refined" -> ((s, d) =>
      Similarity.knnIvf(Tables.embeddings(s, d), lloydIters = 2)),
  )

  /** q95's oracle: the power iteration unrolled — one (s, w, v) CTE
    * triple per iteration (the q60/q67 loop-unroll discipline), every
    * CTE MATERIALIZED (multi-referenced; the DuckDB-1.0 inlining
    * lesson). DuckDB's BIGINT sum is HUGEINT (exact, mirroring the
    * Spark side's DECIMAL(38,0) w-sums), `//` truncates toward zero on
    * both engines (probed), and the wmax=0 degenerate keeps the prior
    * iterate exactly as the Scala loop does.
    */
  private def pcaOracle(iters: Int): String = {
    val blocks = (1 to iters).map { i =>
      s"""s$i AS MATERIALIZED (
         SELECT vec_id, sum(cv * v) AS s
         FROM pc_c JOIN v${i - 1} USING (pos) GROUP BY vec_id),
         w$i AS MATERIALIZED (
         SELECT pos, sum(cv * (s // 1048576)) AS w
         FROM pc_c JOIN s$i USING (vec_id) GROUP BY pos),
         v$i AS MATERIALIZED (
         SELECT w$i.pos,
                CASE WHEN n.wmax = 0 THEN v${i - 1}.v
                     ELSE CAST((w * 4096) // n.wmax AS BIGINT) END AS v
         FROM w$i JOIN v${i - 1} USING (pos)
         CROSS JOIN (SELECT max(abs(w)) AS wmax FROM w$i) n)"""
    }.mkString(",\n         ")
    s"""WITH pc_q AS MATERIALIZED (
         SELECT vec_id, CAST(d AS INT) AS pos,
                CAST(floor(CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS qv
         FROM embeddings, range(0, 64) t(d)),
         pc_m AS MATERIALIZED (
         SELECT pos, sum(qv) // count(*) AS m FROM pc_q GROUP BY pos),
         pc_c AS MATERIALIZED (
         SELECT vec_id, pos, qv - m AS cv FROM pc_q JOIN pc_m USING (pos)),
         v0 AS MATERIALIZED (
         SELECT CAST(d AS INT) AS pos, CAST(4096 AS BIGINT) AS v FROM range(0, 64) t(d)),
         $blocks
         SELECT vec_id, CAST(sum(cv * v) AS BIGINT) AS proj
         FROM pc_c JOIN v$iters USING (pos) GROUP BY vec_id"""
  }

  /** q62's scoring pipeline through the ranked frame `rk` — shared
    * verbatim by q62 (rank <= 10 output) and q94 (rank <= 12 candidate
    * pool), so the MMR oracle pins "candidates ARE the BM25 ranking"
    * structurally. Multi-referenced CTEs are MATERIALIZED (the DuckDB
    * 1.0 inlining lesson; values unchanged).
    */
  private val bm25Ctes: String =
    """toks AS MATERIALIZED (
           SELECT doc_id, list_filter(
                    regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'),
                    t -> length(t) > 0) AS toks
           FROM documents),
         tok AS (SELECT doc_id, unnest(toks) AS token FROM toks),
         tf AS MATERIALIZED (SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfv AS (SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf
                 FROM tf GROUP BY 1),
         consts AS MATERIALIZED (
           SELECT (SELECT count(*) FROM documents) AS n,
                  (SELECT count(*) FROM tok) AS a),
         qt AS MATERIALIZED (
           SELECT token, df FROM dfv, consts
           WHERE df >= 5
           ORDER BY ttf DESC, token ASC LIMIT 20),
         vals AS (
           SELECT DISTINCT x FROM (
             SELECT 2 * (SELECT n FROM consts) + 2 AS x
             UNION SELECT 2 * df + 1 AS x FROM qt) u),
         s(x, z, r, i) AS (
           SELECT x, (x * 65536) // (1::BIGINT << (length(bin(x)) - 1)),
                  CAST(length(bin(x)) - 1 AS BIGINT) * 65536, 0
           FROM vals
           UNION ALL
           SELECT x,
                  CASE WHEN (z*z) // 65536 >= 131072
                       THEN ((z*z) // 65536) // 2 ELSE (z*z) // 65536 END,
                  CASE WHEN (z*z) // 65536 >= 131072
                       THEN r + (1::BIGINT << (16 - (i + 1))) ELSE r END,
                  i + 1
           FROM s WHERE i < 16),
         il AS MATERIALIZED (SELECT x, r FROM s WHERE i = 16),
         qidf AS (
           SELECT qt.token, iln.r - ild.r AS idf_q16
           FROM qt
           JOIN il iln ON iln.x = 2 * (SELECT n FROM consts) + 2
           JOIN il ild ON ild.x = 2 * qt.df + 1),
         dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         sc AS (
           SELECT q.token, tf.doc_id,
                  (q.idf_q16 * tf.tf * 22000) //
                    (tf.tf * 10000 + 3000 +
                     (dl.dl * 9000 * (SELECT n FROM consts)) // (SELECT a FROM consts)) AS score_q16
           FROM tf JOIN qidf q USING (token) JOIN dl USING (doc_id)),
         rk AS MATERIALIZED (
           SELECT token, doc_id, score_q16,
                  row_number() OVER (PARTITION BY token
                    ORDER BY score_q16 DESC, doc_id ASC) AS rank
           FROM sc)"""

  /** One unrolled q94 greedy level: remaining candidates (NOT EXISTS
    * anti-join), max similarity to the selected set (LEFT JOIN + 0
    * default), argmax by (mmr DESC, doc_id ASC).
    */
  private def mmrLevel(t: Int): String =
    s"""ms$t AS MATERIALIZED (
         SELECT c.token, c.doc_id, c.rel, max(coalesce(s.s, 0)) AS ms
         FROM cand c
         JOIN all${t - 1} g ON g.token = c.token
         LEFT JOIN sims s ON s.x = c.doc_id AND s.y = g.doc_id
         WHERE NOT EXISTS (SELECT 1 FROM all${t - 1} g2
                           WHERE g2.token = c.token AND g2.doc_id = c.doc_id)
         GROUP BY 1, 2, 3),
         sel$t AS MATERIALIZED (
         SELECT token, doc_id, mmr FROM (
           SELECT token, doc_id, 7 * rel - 3 * ms AS mmr,
                  row_number() OVER (PARTITION BY token
                    ORDER BY 7 * rel - 3 * ms DESC, doc_id ASC) AS rn
           FROM ms$t) WHERE rn = 1),
         all$t AS MATERIALIZED (
         SELECT token, doc_id FROM all${t - 1}
         UNION ALL SELECT token, doc_id FROM sel$t)"""

  /** DuckDB oracle SQL, column-name-aligned with `queries`. */
  /** q38's oracle SQL — shared verbatim by q73 (the bloom prefilter
    * is exactness-preserving, so both operators hash-compare against
    * the identical DuckDB replay).
    */
  private val decontamSql: String =
    """WITH ctoks AS (
           SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS toks
           FROM documents WHERE doc_id % 97 <> 0),
         btoks AS (
           SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS toks
           FROM documents WHERE doc_id % 97 = 0),
         csh AS (
           SELECT DISTINCT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(sh)+1),
                      i -> CAST(unicode(substring(sh, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 3, 1) + 1),
                   i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 3 AS INT)), ' ')))) AS sh
                 FROM ctoks) x),
         bsh AS (
           SELECT DISTINCT
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(sh)+1),
                      i -> CAST(unicode(substring(sh, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 3, 1) + 1),
                   i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 3 AS INT)), ' ')))) AS sh
                 FROM btoks) x),
         sizes AS (SELECT doc_id, count(*) AS n_shingles FROM csh GROUP BY 1),
         ov AS (SELECT doc_id, count(*) AS n_overlap FROM csh JOIN bsh USING (s) GROUP BY 1)
         SELECT d.doc_id,
                COALESCE(sizes.n_shingles, 0) AS n_shingles,
                COALESCE(ov.n_overlap, 0) AS n_overlap,
                CAST(COALESCE(ov.n_overlap, 0) >= 1 AS BIGINT) AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
         LEFT JOIN sizes USING (doc_id)
         LEFT JOIN ov USING (doc_id)"""

  /** q81's oracle: the q38 shingle CTEs re-aggregated per BENCHMARK
    * item (bsh keeps its doc_id as bench_id; hits join counted by
    * distinct corpus doc and distinct shingle).
    */
  private val contamReportSql: String =
    """WITH ctoks AS (
           SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS toks
           FROM documents WHERE doc_id % 97 <> 0),
         btoks AS (
           SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS toks
           FROM documents WHERE doc_id % 97 = 0),
         csh AS (
           SELECT DISTINCT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(sh)+1),
                      i -> CAST(unicode(substring(sh, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 3, 1) + 1),
                   i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 3 AS INT)), ' ')))) AS sh
                 FROM ctoks) x),
         bsh AS (
           SELECT DISTINCT doc_id AS bench_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(sh)+1),
                      i -> CAST(unicode(substring(sh, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 3, 1) + 1),
                   i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 3 AS INT)), ' ')))) AS sh
                 FROM btoks) x),
         hits AS (SELECT DISTINCT bench_id, csh.doc_id, s FROM csh JOIN bsh USING (s)),
         dirty AS (SELECT bench_id, count(DISTINCT doc_id) AS n_dirty_docs FROM hits GROUP BY 1),
         hitsh AS (SELECT bench_id, count(DISTINCT s) AS n_hit_shingles FROM hits GROUP BY 1),
         sizes AS (SELECT bench_id, count(*) AS n_shingles FROM bsh GROUP BY 1)
         SELECT b.bench_id,
                COALESCE(sizes.n_shingles, 0) AS n_shingles,
                COALESCE(hitsh.n_hit_shingles, 0) AS n_hit_shingles,
                COALESCE(dirty.n_dirty_docs, 0) AS n_dirty_docs,
                CAST(COALESCE(dirty.n_dirty_docs, 0) = 0 AS BIGINT) AS clean
         FROM (SELECT doc_id AS bench_id FROM documents WHERE doc_id % 97 = 0) b
         LEFT JOIN sizes USING (bench_id)
         LEFT JOIN hitsh USING (bench_id)
         LEFT JOIN dirty USING (bench_id)"""

  def oracleSql: Map[String, String] = Map(
    "q01_repartition" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
    "q02_join_user" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
         FROM orders JOIN customer ON o_custkey = c_custkey""",
    "q03_join_store_broadcast" ->
      """SELECT c_custkey, c_name, n_name, r_name
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey""",
    "q04_explode_items" ->
      "SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM lineitem",
    "q05_enrich_price" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
                p_retailprice AS price
         FROM lineitem JOIN part ON l_partkey = p_partkey""",
    "q06_order_reassembly" ->
      """SELECT l_orderkey, count(*) AS item_count,
                CAST(CAST(sum(CAST(l_quantity * p_retailprice AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS order_total
         FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
         GROUP BY l_orderkey
         HAVING bool_and(p_retailprice IS NOT NULL)""",
    "q07_product_stats" ->
      """SELECT l_partkey,
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS quantity,
                count(DISTINCT l_orderkey) AS orders
         FROM lineitem GROUP BY l_partkey""",
    "q08_stats_by_store" ->
      """SELECT l_partkey, l_suppkey,
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS quantity
         FROM lineitem GROUP BY l_partkey, l_suppkey""",
    "q09_stats_merge" ->
      """WITH v1 AS (
           SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(30,6))) AS q,
                  count(DISTINCT l_orderkey) AS o
           FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY l_partkey),
         v2 AS (
           SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(30,6))) AS q,
                  count(DISTINCT l_orderkey) AS o
           FROM lineitem WHERE l_orderkey % 2 <> 0 GROUP BY l_partkey),
         u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
         SELECT l_partkey, CAST(sum(q) AS DOUBLE) AS quantity,
                CAST(sum(o) AS BIGINT) AS orders
         FROM u GROUP BY l_partkey""",
    "q10_pickup_pipeline" ->
      """SELECT o_orderkey, c_name, n_name, count(*) AS item_count,
                CAST(CAST(sum(CAST(l_quantity * p_retailprice AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS order_total
         FROM lineitem
         LEFT JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY o_orderkey, c_name, n_name
         HAVING bool_and(p_retailprice IS NOT NULL)""",
    "q11_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
                CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
                CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
                CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    "q12_top_unshipped" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                o_orderpriority,
                CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
           AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey ASC
         LIMIT 10""",
    "q13_regional_revenue" ->
      """SELECT n_name,
                CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name""",
    "q14_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, ship_seq, running_qty FROM (
           SELECT l_suppkey, l_orderkey, l_linenumber,
                  row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS ship_seq,
                  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS running_qty
           FROM lineitem) t
         WHERE ship_seq <= 5""",
    "q15_sessionize" ->
      """WITH x AS (
           SELECT user_id, ts, event_id, value,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         y AS (
           SELECT *, CASE WHEN prev_ts IS NULL
                          OR (epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0 > 1800.0
                     THEN 1 ELSE 0 END AS new_session
           FROM x),
         z AS (
           SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM y)
         SELECT user_id, session_seq, count(*) AS n_events,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS session_value
         FROM z GROUP BY user_id, session_seq""",
    "q16_events_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type, count(*) AS n_events,
                CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS total_value,
                count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2""",
    "q17_priority_semi" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              WHERE l_shipdate > TIMESTAMP '1997-01-01 00:00:00')
         GROUP BY o_orderpriority""",
    "q18_large_orders" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                CAST(total_qty AS DOUBLE) AS total_qty
         FROM orders
         JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(30,6))) AS total_qty
               FROM lineitem GROUP BY l_orderkey
               HAVING CAST(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) > 150.0) t
           ON o_orderkey = l_orderkey""",
    "q19_inactive_customers" ->
      """SELECT c_custkey, c_name, c_mktsegment
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')""",
    "q20_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id,
                md5(regexp_replace(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+', ' ', 'g')) AS text_hash,
                count(*) AS n_dups
         FROM documents GROUP BY 2""",
    "q83_dataset_diff" ->
      """WITH newsnap AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 17 <> 0
           UNION ALL
           SELECT doc_id + 10000000 AS doc_id, text
           FROM documents WHERE doc_id % 19 = 0),
         a AS (SELECT doc_id, md5(text) AS h_old, 1 AS in_old FROM documents),
         b AS (SELECT doc_id, md5(text) AS h_new, 1 AS in_new FROM newsnap)
         SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                CASE WHEN a.in_old IS NULL THEN 'added'
                     WHEN b.in_new IS NULL THEN 'removed'
                     WHEN a.h_old IS NOT DISTINCT FROM b.h_new THEN 'unchanged'
                     ELSE 'changed' END AS status,
                a.h_old, b.h_new
         FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""",
    "q21_doc_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_md5,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(text)+1),
                      i -> CAST(unicode(substring(text, CAST(i AS INT), 1)) AS BIGINT))),
                  (h, c) -> (h * 31 + c) % 1000000007) AS fp_poly
         FROM documents""",
    "q22_token_count" ->
      """SELECT doc_id,
                CAST(CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                     ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS BIGINT) AS ws_tokens,
                CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
         FROM documents""",
    "q23_quality_score" ->
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                     ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS BIGINT) AS n_words,
                length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / nullif(CAST(length(text) AS DOUBLE), 0) AS alpha_ratio,
                length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) / nullif(CAST(length(text) AS DOUBLE), 0) AS punct_ratio,
                len(list_filter(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'),
                    t -> list_contains(['the','a','of','and','to','in','is','it'], t)))
                  / nullif(CAST(CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                     ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS DOUBLE), 0) AS stopword_ratio
         FROM documents""",
    // q15b: session_window sessionization — the oracle is q15's SQL
    // without the per-user session ordinal. Boundary rule verified
    // empirically (AnalyticsSpec): an event at EXACTLY prev+gap MERGES
    // into the running session in both the native session_window and
    // the lag formulation, so the gap test is strictly '>' here too.
    "q15b_sessionize_sw" ->
      """WITH x AS (
           SELECT user_id, ts, event_id, value,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         y AS (
           SELECT *, CASE WHEN prev_ts IS NULL
                          OR (epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0 > 1800.0
                     THEN 1 ELSE 0 END AS new_session
           FROM x),
         z AS (
           SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM y)
         SELECT user_id, count(*) AS n_events,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS session_value
         FROM z GROUP BY user_id, session_seq""",
    // q25: the ENTIRE minhash pipeline is replayed — poly-hashed
    // shingles (q21 contract), universal-hash permutations
    // (a_i·s + b_i mod 2³¹−1), base-131 band folds, candidate join,
    // exact-Jaccard verify, per-doc fold. Engine-independent by
    // construction (integer arithmetic throughout).
    "q25_dedup_minhash" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS toks
           FROM documents),
         shs AS (
           SELECT DISTINCT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(sh)+1),
                      i -> CAST(unicode(substring(sh, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 2, 1) + 1),
                   i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 2 AS INT)), ' ')))) AS sh
                 FROM toks) x),
         sig AS (
           SELECT doc_id, i,
                  min((((1103515245*(2*i+1) + 12345) % 2147483648) * s
                       + ((1103515245*(2*i+2) + 12345) % 2147483648)) % 2147483647) AS m
           FROM shs, range(0, 32) t(i)
           GROUP BY 1, 2),
         bands AS (
           SELECT doc_id, i // 4 AS band_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT), list(m ORDER BY i)),
                    (acc, x) -> (acc * 131 + x) % 1000000007) AS band_sig
           FROM sig GROUP BY 1, 2),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM shs GROUP BY 1),
         common AS (
           SELECT id_a, id_b, count(*) AS n_common
           FROM cand
           JOIN shs pa ON pa.doc_id = id_a
           JOIN shs pb ON pb.doc_id = id_b AND pa.s = pb.s
           GROUP BY 1, 2),
         verified AS (
           SELECT c.id_a, c.id_b,
                  CAST(COALESCE(cm.n_common, 0) AS DOUBLE)
                    / CAST(sa.n_sh + sb.n_sh - COALESCE(cm.n_common, 0) AS DOUBLE) AS jaccard
           FROM cand c
           LEFT JOIN common cm ON cm.id_a = c.id_a AND cm.id_b = c.id_b
           JOIN sizes sa ON sa.doc_id = c.id_a
           JOIN sizes sb ON sb.doc_id = c.id_b),
         perdoc AS (
           SELECT doc_id, count(*) AS n_candidates,
                  sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS n_dups
           FROM (SELECT id_a AS doc_id, jaccard FROM verified
                 UNION ALL SELECT id_b AS doc_id, jaccard FROM verified) d
           GROUP BY 1)
         SELECT d.doc_id,
                CAST(COALESCE(s.n_sh, 0) AS BIGINT) AS n_shingles,
                CAST(COALESCE(p.n_candidates, 0) AS BIGINT) AS n_candidates,
                CAST(COALESCE(p.n_dups, 0) AS BIGINT) AS n_dups
         FROM (SELECT doc_id FROM documents) d
         LEFT JOIN sizes s ON s.doc_id = d.doc_id
         LEFT JOIN perdoc p ON p.doc_id = d.doc_id""",
    // q26: full simhash replay — poly token hash, per-bit universal-
    // hash parities, signature assembled as two 32-bit halves (DuckDB
    // BIGINT can't shift into bit 63; HUGEINT reassembly converts to
    // the same signed long Spark emits), pigeonhole chunks from the
    // halves, Hamming filter via xor+bit_count (two's-complement
    // bitwise, identical to the JVM).
    "q26_dedup_simhash" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS tok
           FROM documents),
         th AS (
           SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(tok)+1),
                      i -> CAST(unicode(substring(tok, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM toks),
         bitsum AS (
           SELECT doc_id, j,
                  sum(CASE WHEN ((((1103515245*(2*(j+64)+1) + 12345) % 2147483648) * s
                                 + ((1103515245*(2*(j+64)+2) + 12345) % 2147483648)) % 2147483647) % 2 = 1
                           THEN 1 ELSE -1 END) AS sj
           FROM th, range(0, 64) t(j)
           GROUP BY 1, 2),
         halves AS (
           SELECT doc_id,
                  sum(CASE WHEN sj > 0 AND j < 32 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS lo,
                  sum(CASE WHEN sj > 0 AND j >= 32 THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END) AS hi
           FROM bitsum GROUP BY 1),
         sigs AS (
           SELECT doc_id, lo, hi,
                  CAST(CASE WHEN v >= 9223372036854775808 THEN v - 18446744073709551616 ELSE v END AS BIGINT) AS simhash
           FROM (SELECT doc_id, lo, hi, CAST(hi AS HUGEINT) * 4294967296 + lo AS v FROM halves) x),
         chunks AS (
           SELECT doc_id, simhash, c AS chunk_id,
                  CASE c WHEN 0 THEN lo % 65536 WHEN 1 THEN lo // 65536
                         WHEN 2 THEN hi % 65536 ELSE hi // 65536 END AS chunk_val
           FROM sigs, range(0, 4) t(c)),
         near AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS sh_a, b.simhash AS sh_b
           FROM chunks a JOIN chunks b
             ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id),
         nearf AS (SELECT id_a, id_b FROM near WHERE bit_count(xor(sh_a, sh_b)) <= 3),
         perdoc AS (
           SELECT doc_id, count(*) AS n_near
           FROM (SELECT id_a AS doc_id FROM nearf UNION ALL SELECT id_b AS doc_id FROM nearf) d
           GROUP BY 1)
         SELECT s.doc_id, s.simhash, CAST(COALESCE(p.n_near, 0) AS BIGINT) AS n_near
         FROM sigs s LEFT JOIN perdoc p ON p.doc_id = s.doc_id""",
    // q24: the stopword-hit argmax is plain SQL — DuckDB's max() over a
    // {hits, lang} struct compares fields in declaration order, exactly
    // like Spark's greatest(struct(hits, lang)).
    "q24_lang_id" ->
      """WITH sc AS (
           SELECT d.doc_id, d.lang AS claimed_lang,
                  max({'hits': len(list_filter(
                         regexp_split_to_array(lower(regexp_replace(d.text, '^\s+|\s+$', '', 'g')), '\s+'),
                         t -> list_contains(sl.stops, t))),
                       'lang': sl.cand_lang}) AS g
           FROM documents d, (VALUES
             ('en', ['the','and','of','to','is','it','that','for']),
             ('es', ['el','la','de','que','los','una','por','con']),
             ('de', ['der','die','das','und','ist','nicht','ein','mit']),
             ('fr', ['le','les','des','une','est','dans','pour','sur']),
             ('zh', ['de5','shi4','bu4','wo3','zhe4','le5','ren2','ni3'])) sl(cand_lang, stops)
           GROUP BY d.doc_id, d.lang)
         SELECT doc_id, g['lang'] AS pred_lang,
                CAST(g['hits'] AS BIGINT) AS stopword_hits, claimed_lang
         FROM sc""",
    // q27: hashing only gates set membership in the Spark version, so
    // recomputing with STRING shingles yields identical values (xxhash64
    // collisions at this scale: ~N_shingles² · 2⁻⁶⁴ ≈ 0).
    "q27_ngram_jaccard" ->
      """WITH norm AS (
           SELECT doc_id,
                  regexp_replace(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+', ' ', 'g') AS norm
           FROM documents),
         post AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
                    range(1, greatest(length(norm) - 6, 1) + 1),
                    i -> substring(norm, CAST(i AS INT), 7)))) AS shingle
           FROM norm),
         df AS (SELECT shingle, count(*) AS df FROM post GROUP BY 1),
         pruned AS (SELECT doc_id, shingle FROM post JOIN df USING (shingle) WHERE df <= 256),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM pruned GROUP BY 1),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
           FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         scored AS (
           SELECT id_a, id_b, n_common,
                  CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
           FROM common
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b),
         dirs AS (
           SELECT id_a AS doc_id, id_b AS partner, n_common, jaccard FROM scored
           UNION ALL
           SELECT id_b AS doc_id, id_a AS partner, n_common, jaccard FROM scored),
         best AS (
           SELECT doc_id,
                  max({'jaccard': jaccard, 'tb': -partner, 'partner': partner, 'nc': n_common}) AS b
           FROM dirs GROUP BY 1)
         SELECT d.doc_id,
                CAST(COALESCE(s.n_sh, 0) AS BIGINT) AS n_shingles,
                bb.b['partner'] AS best_neighbor,
                bb.b['nc'] AS best_common,
                bb.b['jaccard'] AS best_jaccard
         FROM (SELECT doc_id FROM documents) d
         LEFT JOIN sizes s ON s.doc_id = d.doc_id
         LEFT JOIN best bb ON bb.doc_id = d.doc_id""",
    "q33_vocabulary" ->
      """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         FROM (SELECT doc_id,
                      unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS token
               FROM documents)
         WHERE length(token) > 0
         GROUP BY token
         ORDER BY tf DESC, token ASC
         LIMIT 100""",
    "q28_knn_bruteforce" ->
      """WITH e AS (
           SELECT vec_id, embedding,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                    (acc, x) -> acc + x) AS n2
           FROM embeddings),
         p AS (
           SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(range(1, len(a.embedding)+1),
                      i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))),
                    (acc, x) -> acc + x) / (sqrt(a.n2) * sqrt(b.n2)) AS cos
           FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         r AS (SELECT vec_id, neighbor_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank
               FROM p)
         SELECT vec_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10""",
    "q34_asof_join" ->
      """SELECT e.event_id, e.user_id,
                strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
                o.last_orderkey,
                strftime(o.o_orderdate, '%Y-%m-%d') AS last_orderdate
         FROM events e
         ASOF LEFT JOIN (SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey
                         FROM orders GROUP BY o_custkey, o_orderdate) o
           ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts""",
    "q35_json_props" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
                count(CASE WHEN k IS NULL THEN 1 END) AS n_missing
         FROM (SELECT event_type,
                      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events)
         GROUP BY event_type""",
    // q60: the integer Lloyd iteration unrolled as generated CTEs
    // (Similarity.kmeansOracleSql — the pageRankOracleSql discipline);
    // same quantize-shift, same index-215 seed hash, same truncating
    // division on the nonnegative domain.
    "q60_kmeans" -> graft.operators.Similarity.kmeansOracleSql(k = 8, iters = 3),
    // q79: the q60 centroid CTEs + hash draw + capped per-cluster rank
    "q79_cluster_sample" ->
      graft.operators.Similarity.clusterSampleOracleSql(k = 8, iters = 3, quota = 40),
    // q63: the q60 centroid CTEs extended with the IVF retrieval
    // chain (Similarity.knnIvfIntOracleSql) — assignment, probing,
    // and integer pair-d2 ranking all replayed
    "q63_knn_ivf_exact" -> graft.operators.Similarity.knnIvfIntOracleSql(),
    // q29b: the q30b QRHP candidate replay + q63's integer-d2 ranking —
    // the LSH top-k path promoted to rows+schema+hash (r12; q29 stays
    // the FP-cosine rows-only variant with occupancy salting)
    "q29b_knn_lsh_int" -> graft.operators.Similarity.knnLshIntOracleSql(),
    // q64: the q60 centroid/assignment CTEs + within-cluster pair
    // predicate + the q42 recursive closure + keep rule as row_number
    // (d2 DESC, vec_id ASC) — Components.semDedupOracleSql
    "q64_semdedup" -> graft.operators.Components.semDedupOracleSql(),
    // q65/q65b: the per-subspace joint Lloyd unrolled (pqCentroidCtes)
    // + encode / ADC LUT retrieval chains
    "q65_pq_codes" -> graft.operators.Similarity.pqCodesOracleSql(kcode = 16, iters = 3),
    "q65b_pq_search" -> graft.operators.Similarity.pqSearchOracleSql(kcode = 16, iters = 3),
    // q66: coarse CTEs + residual CTE + the PQ chain over it +
    // probe/LUT/Σ/rank — Similarity.ivfadcOracleSql
    "q66_ivfadc" -> graft.operators.Similarity.ivfadcOracleSql(),
    "q82_sq8" -> graft.operators.Similarity.sq8OracleSql,
    "q86_embedding_outliers" -> graft.operators.Similarity.embeddingOutliersOracleSql(),
    // q67: word-freq base + 24 unrolled (pair-count, argmax, apply)
    // CTE triples — Bpe.bpeTrainOracleSql
    "q67_bpe_train" -> graft.operators.Bpe.bpeTrainOracleSql(),
    // q68: the q67 chain + scalar-subquery nested-replace encode
    "q68_bpe_encode" -> graft.operators.Bpe.bpeEncodeOracleSql(),
    // q67b/q68b: the same unrolled merge CTEs over the byte packing
    // (hex-pair symbols, regex pre-tokens)
    "q67b_bpe_bytes_train" -> graft.operators.Bpe.byteBpeTrainOracleSql(),
    "q68b_bpe_bytes_encode" -> graft.operators.Bpe.byteBpeEncodeOracleSql(),
    // q105: identical planting + RE2-safe host extraction + integer
    // flag-word score in DuckDB
    "q105_url_filter" -> graft.operators.UrlFilter.urlFilterOracleSql(),
    // q69: q37 char-fold buckets + two bag models + the q61 recursive
    // log2 kernel + row_number keep — Dsir.dsirOracleSql
    "q69_dsir" -> graft.operators.Dsir.dsirOracleSql(),
    // q70: the same list ops + integer myriad ratios replayed
    "q70_gopher_rules" -> graft.operators.QualityRules.gopherRulesOracleSql,
    // q77: the identical planting (1-based indexed list_transform) +
    // line filter / replace-chain sentence count replayed
    "q77_c4_clean" -> graft.operators.QualityRules.c4CleanOracleSql,
    // q78: same hash draws + per-shard row_number; a window prefix sum
    // stands in for the driver-side offset fold
    "q78_epoch_shuffle" -> TextOps.epochShuffleOracleSql(),
    // q71: identical window/first/cut chain, md5 digests, nested
    // index-lambda reconstruction
    "q71_substring_dedup" -> graft.operators.ExactSubstr.substringDedupOracleSql(),
    // q72: feature union + index-218 buckets + one conditional train
    // agg + the q61 recursive log2 kernel + prior and >=0 decision
    "q72_nb_classifier" -> graft.operators.Classifier.nbClassifyOracleSql(),
    "q36_label_centroids" ->
      """SELECT label, CAST(i AS BIGINT) AS pos, count(*) AS n,
                CAST(sum(CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                  / 1000000.0 / count(*) AS mean_val
         FROM embeddings, range(1, 65) AS t(i)
         GROUP BY label, i""",
    // q28b: identical semantics + FP contract as q28, different physical
    // kernel (blocked mapPartitions sweep) — same oracle by design.
    "q28b_knn_blocked" ->
      """WITH e AS (
           SELECT vec_id, embedding,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                    (acc, x) -> acc + x) AS n2
           FROM embeddings),
         p AS (
           SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(range(1, len(a.embedding)+1),
                      i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))),
                    (acc, x) -> acc + x) / (sqrt(a.n2) * sqrt(b.n2)) AS cos
           FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         r AS (SELECT vec_id, neighbor_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank
               FROM p)
         SELECT vec_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10""",
    "q30_embedding_dedup" ->
      """WITH e AS (
           SELECT vec_id, embedding,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                    (acc, x) -> acc + x) AS n2
           FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, len(a.embedding)+1),
                   i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))),
                 (acc, x) -> acc + x) / (sqrt(a.n2) * sqrt(b.n2)) >= 0.35""",
    // q37: the keep decision replays exactly — poly hash of the same
    // key string, the index-200 universal-hash post-mix, integer
    // parts-per-myriad rates, no FP anywhere.
    "q37_stratified_sample" ->
      """SELECT doc_id, lang, bucket FROM (
           SELECT doc_id, lang,
                  ((((CAST(1103515245 AS BIGINT)*401 + 12345) % 2147483648) *
                    (list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, length(k)+1),
                         i -> CAST(unicode(substring(k, CAST(i AS INT), 1)) AS BIGINT))),
                       (h, c) -> (h * 31 + c) % 1000000007))
                    + ((CAST(1103515245 AS BIGINT)*402 + 12345) % 2147483648)) % 2147483647) % 10000 AS bucket
           FROM (SELECT doc_id, lang, concat('strat:', CAST(doc_id AS VARCHAR)) AS k
                 FROM documents) t) s
         WHERE bucket < CASE lang WHEN 'en' THEN 10000 WHEN 'es' THEN 5000
                                  WHEN 'de' THEN 2500 WHEN 'fr' THEN 1250
                                  WHEN 'zh' THEN 625 ELSE 0 END""",
    // q30b: the signature (QrhpSignatureExpr) is pure 31-bit integer
    // arithmetic, replayed verbatim below — candidate sets and the
    // exact-cosine verify are engine-independent, so this approximate
    // operator is still rows+schema+hash oracle-checked.
    "q30b_embedding_dedup_lsh" ->
      """WITH e AS (
           SELECT vec_id, embedding,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                    (acc, x) -> acc + x) AS n2
           FROM embeddings),
         w AS (
           SELECT j, d, (s5 // 65536 - 16384) AS w FROM (
             SELECT j, d, (1103515245 * xor(s3, s3 // 2048) + 12345) % 2147483648 AS s5 FROM (
               SELECT j, d, (1103515245 * xor(s1, s1 // 65536) + 12345) % 2147483648 AS s3 FROM (
                 SELECT j, d, (1103515245 * (j*1000003 + d) + 12345) % 2147483648 AS s1
                 FROM range(0, 128) t1(j), range(0, 64) t2(d))))),
         qv AS (
           SELECT vec_id, d,
                  CAST(floor(CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
           FROM e, range(0, 64) t(d)),
         bits AS (
           SELECT vec_id, j, CASE WHEN sum(q * w) >= 0 THEN 1 ELSE 0 END AS bit
           FROM qv JOIN w USING (d)
           GROUP BY vec_id, j),
         -- band width auto-sizes with the corpus exactly like the Spark
         -- side: smallest b >= 4 with N <= 32*2^b, capped at 16
         bw AS (
           SELECT CASE WHEN n <= 512 THEN 4 WHEN n <= 1024 THEN 5
                       WHEN n <= 2048 THEN 6 WHEN n <= 4096 THEN 7
                       WHEN n <= 8192 THEN 8 WHEN n <= 16384 THEN 9
                       WHEN n <= 32768 THEN 10 WHEN n <= 65536 THEN 11
                       WHEN n <= 131072 THEN 12 WHEN n <= 262144 THEN 13
                       WHEN n <= 524288 THEN 14 WHEN n <= 1048576 THEN 15
                       ELSE 16 END AS bb
           FROM (SELECT count(*) AS n FROM embeddings)),
         -- two independent 64-plane signature tables (j//64) with
         -- per-table leftover-bit trimming; band ids are globally
         -- numbered table-major, matching the Spark side's
         -- t*(64//bb)+band
         bands AS (
           SELECT vec_id, (j // 64) * (64 // bb) + (j % 64) // bb AS band_id,
                  sum(bit * (1 << ((j % 64) % bb))) AS band_sig
           FROM bits, bw
           WHERE (j % 64) < (64 // bb) * bb
           GROUP BY 1, 2),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM bands a JOIN bands b
             ON a.band_id = b.band_id AND a.band_sig = b.band_sig
            AND a.vec_id < b.vec_id)
         SELECT id_a, id_b
         FROM cand
         JOIN e ea ON ea.vec_id = id_a
         JOIN e eb ON eb.vec_id = id_b
         WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, len(ea.embedding)+1),
                   i -> CAST(ea.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(eb.embedding[CAST(i AS INT)] AS DOUBLE))),
                 (acc, x) -> acc + x) / (sqrt(ea.n2) * sqrt(eb.n2)) >= 0.35""",
    // q31: width/height on the Spark side are read from REAL decoded
    // pixels (ImageIO PNG round-trip); the oracle predicts them from
    // the same metadata the synthesizer used — a codec defect would
    // break this hash match.
    "q31_multimodal_meta" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS blob_len,
                md5(text) AS blob_md5,
                CAST(1 + n_chars % 64 AS BIGINT) AS width,
                CAST(1 + doc_id % 48 AS BIGINT) AS height
         FROM documents""",
    // q59: the feature extractor replayed from first principles. The
    // Spark side ENCODES a real PNG, DECODES it, and runs the
    // histogram/Sobel extractor on the raster; the oracle regenerates
    // the synthesizer's pixel stream — splitmix64(doc_id·1000003+i);
    // the mod-2⁶⁴ multiplies SPLIT the constant into hi·2³²+lo
    // because a full 64×64-bit product overflows even INT128
    // ((a·hi mod 2³²)·2³² + a·lo, each term < 2⁹⁶ — verified
    // term-for-term against the JVM constants) — and reproduces
    // every integer count. PNG
    // losslessness is what makes these equal; any codec or extractor
    // defect breaks the hash. Luma lists are 1-indexed in DuckDB:
    // pixel offset o ↔ L[o+1].
    "q59_image_features" ->
      """WITH dims AS (
           SELECT doc_id, CAST(1 + n_chars % 64 AS BIGINT) AS w,
                  CAST(1 + doc_id % 48 AS BIGINT) AS h
           FROM documents),
         idx AS (
           SELECT doc_id, w, h, unnest(generate_series(0, CAST(w*h - 1 AS INT))) AS i
           FROM dims),
         m1 AS (SELECT doc_id, w, h, i,
                  CAST((CAST(CAST(doc_id * 1000003 + i AS UBIGINT) AS HUGEINT)
                        + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z
                FROM idx),
         a1 AS (SELECT doc_id, w, h, i, CAST(xor(z, z >> 30) AS HUGEINT) AS a FROM m1),
         m2 AS (SELECT doc_id, w, h, i,
                  CAST(((a * 3210233709) % 4294967296 * 4294967296 + a * 484763065)
                       % 18446744073709551616 AS UBIGINT) AS z FROM a1),
         a2 AS (SELECT doc_id, w, h, i, CAST(xor(z, z >> 27) AS HUGEINT) AS a FROM m2),
         m3 AS (SELECT doc_id, w, h, i,
                  CAST(((a * 2496678331) % 4294967296 * 4294967296 + a * 321982955)
                       % 18446744073709551616 AS UBIGINT) AS z FROM a2),
         px AS (SELECT doc_id, w, h, i,
                  CAST(xor(z, z >> 31) % 16777216 AS BIGINT) AS p FROM m3),
         ch AS (SELECT doc_id, w, h, i, p // 65536 AS r, (p // 256) % 256 AS g,
                       p % 256 AS b FROM px),
         hist AS (SELECT doc_id, (r // 64) * 16 + (g // 64) * 4 + (b // 64) AS bin,
                         count(*) AS cnt
                  FROM ch GROUP BY 1, 2),
         dom AS (SELECT doc_id, bin, cnt,
                        row_number() OVER (PARTITION BY doc_id
                          ORDER BY cnt DESC, bin ASC) AS rn
                 FROM hist),
         nz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nz_bins
                FROM hist GROUP BY 1),
         lum AS (SELECT doc_id, w, h, list(r + g + b ORDER BY i) AS L
                 FROM ch GROUP BY 1, 2, 3),
         inter AS (SELECT doc_id, w, h, L,
                          unnest(generate_series(0, CAST(w*h - 1 AS INT))) AS i
                   FROM lum WHERE w >= 3 AND h >= 3),
         sob AS (SELECT doc_id,
                   count(*) FILTER (WHERE
                     abs((L[CAST(i - w + 2 AS INT)] + 2*L[CAST(i + 2 AS INT)] + L[CAST(i + w + 2 AS INT)])
                       - (L[CAST(i - w AS INT)] + 2*L[CAST(i AS INT)] + L[CAST(i + w AS INT)]))
                   + abs((L[CAST(i + w AS INT)] + 2*L[CAST(i + w + 1 AS INT)] + L[CAST(i + w + 2 AS INT)])
                       - (L[CAST(i - w AS INT)] + 2*L[CAST(i - w + 1 AS INT)] + L[CAST(i - w + 2 AS INT)])) >= 765) AS edge_cnt
                 FROM inter
                 WHERE i % w BETWEEN 1 AND w - 2 AND i // w BETWEEN 1 AND h - 2
                 GROUP BY doc_id)
         SELECT d.doc_id, d.w AS width, d.h AS height,
                CAST(dom.bin AS BIGINT) AS dom_bin,
                CAST(dom.cnt AS BIGINT) AS dom_cnt,
                nz.nz_bins,
                CAST(coalesce(s.edge_cnt, 0) AS BIGINT) AS edge_cnt
         FROM dims d
         JOIN dom ON dom.doc_id = d.doc_id AND dom.rn = 1
         JOIN nz ON nz.doc_id = d.doc_id
         LEFT JOIN sob s ON s.doc_id = d.doc_id""",
    // q50 (promoted from rows-only r11): the perceptual-dedup chain
    // replayed end to end — poly-hash seed from the NORMALIZED text,
    // the q59 splitmix64 HUGEINT pixel replay (seed·1000003+i), then
    // the integer box-filter aHash: luma 299r+587g+114b, cell
    // (y·8 div h, x·8 div w), truncating cell mean, global mean over
    // the 64 cells, bit where cell > mean. Bit 63 lands via the
    // two's-complement identity (add −2⁶³, written −(2⁶³−1)−1 so the
    // literal itself never overflows); DuckDB's sum(BIGINT) widens to
    // HUGEINT, the final CAST narrows back once the value is known to
    // fit. The Spark side decodes a REAL PNG before hashing — the
    // oracle match is a codec gate exactly like q59's.
    "q50_image_dedup" ->
      s"""WITH nrm AS (
           SELECT doc_id,
                  lower(regexp_replace(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+', ' ', 'g')) AS nt
           FROM documents),
         sd AS (
           SELECT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(nt)+1),
                      i -> CAST(unicode(substring(nt, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM nrm),
         dims AS (
           SELECT doc_id, s, CAST(8 + s % 56 AS BIGINT) AS w,
                  CAST(8 + (s // 64) % 40 AS BIGINT) AS h
           FROM sd),
         idx AS (
           SELECT doc_id, s, w, h, unnest(generate_series(0, CAST(w*h - 1 AS INT))) AS i
           FROM dims),
         m1 AS (SELECT doc_id, w, h, i,
                  CAST((CAST(CAST(s * 1000003 + i AS UBIGINT) AS HUGEINT)
                        + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z
                FROM idx),
         a1 AS (SELECT doc_id, w, h, i, CAST(xor(z, z >> 30) AS HUGEINT) AS a FROM m1),
         m2 AS (SELECT doc_id, w, h, i,
                  CAST(((a * 3210233709) % 4294967296 * 4294967296 + a * 484763065)
                       % 18446744073709551616 AS UBIGINT) AS z FROM a1),
         a2 AS (SELECT doc_id, w, h, i, CAST(xor(z, z >> 27) AS HUGEINT) AS a FROM m2),
         m3 AS (SELECT doc_id, w, h, i,
                  CAST(((a * 2496678331) % 4294967296 * 4294967296 + a * 321982955)
                       % 18446744073709551616 AS UBIGINT) AS z FROM a2),
         px AS (SELECT doc_id, w, h, i,
                  CAST(xor(z, z >> 31) % 16777216 AS BIGINT) AS p FROM m3),
         cv AS (
           SELECT doc_id,
                  ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS cell,
                  CAST(sum(299*(p // 65536) + 587*((p // 256) % 256) + 114*(p % 256)) AS BIGINT)
                    // count(*) AS v
           FROM px GROUP BY 1, 2),
         mn AS (SELECT doc_id, CAST(sum(v) AS BIGINT) // 64 AS mean FROM cv GROUP BY 1),
         sig AS (
           SELECT cv.doc_id,
                  CAST(sum(CASE WHEN v > mean AND cell < 63
                                  THEN CAST(1 AS BIGINT) << CAST(cell AS INT)
                                WHEN v > mean THEN -9223372036854775807 - 1
                                ELSE 0 END) AS BIGINT) AS ahash
           FROM cv JOIN mn USING (doc_id) GROUP BY 1),
         grp AS (SELECT ahash, min(doc_id) AS group_rep,
                        CAST(count(*) AS BIGINT) AS group_size
                 FROM sig GROUP BY 1)
         SELECT g2.doc_id, g2.ahash, g.group_rep,
                CAST(g2.doc_id = g.group_rep AS BIGINT) AS keep, g.group_size
         FROM sig g2 JOIN grp g USING (ahash)""",
    // q38: the q25 posting replay (word 4-grams, poly_hash keys) split
    // into corpus vs the deterministic every-97th-doc eval set.
    "q38_decontamination" -> decontamSql,
    "q87_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q89_copurchase_topk" ->
      """WITH items AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM lineitem),
         cnts AS (SELECT part, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY 1),
         pairs AS (
           SELECT a.part, b.part AS other, CAST(count(*) AS BIGINT) AS n_co
           FROM items a JOIN items b USING (ok)
           WHERE a.part <> b.part
           GROUP BY 1, 2),
         ranked AS (
           SELECT part, other, n_co,
                  CAST(row_number() OVER (PARTITION BY part
                    ORDER BY n_co DESC, other ASC) AS BIGINT) AS rank
           FROM pairs)
         SELECT r.part, r.rank, r.other, r.n_co,
                (r.n_co * 10000) // c.cnt AS conf_myriad
         FROM ranked r JOIN cnts c USING (part)
         WHERE r.rank <= 5""",
    // q90: q48b's rate arithmetic keyed by SOURCE — per-source q51
    // token totals, feasible total, myriad rates, admission hash at
    // fresh index 236 ('srcq:' keys; a=1103515245·473+12345,
    // b=·474 — the 2i+1/2i+2 lattice)
    "q90_source_quota" ->
      s"""WITH RECURSIVE $tokenizerCtes,
         src_counts AS (
           SELECT t.source, t.t_myriad, COALESCE(g.c, 0) AS c
           FROM (VALUES ('src0', 3000), ('src1', 2500), ('src2', 1500),
                        ('src3', 500)) t(source, t_myriad)
           LEFT JOIN (SELECT d.source, CAST(sum(dc.nt) AS BIGINT) AS c
                      FROM documents d JOIN doc_counts dc ON dc.doc_id = d.doc_id
                      GROUP BY d.source) g USING (source)),
         src_feas AS (SELECT MIN(c * 10000 // t_myriad) AS t_total FROM src_counts),
         src_rates AS (
           SELECT source, CASE WHEN c = 0 THEN CAST(0 AS BIGINT)
                        ELSE (t_total * t_myriad // 10000) * 10000 // c END AS rate_myriad
           FROM src_counts, src_feas)
         SELECT b.doc_id, b.source, b.n_tokens, r.rate_myriad, b.bucket
         FROM (
           SELECT t.doc_id, t.source, dc.nt AS n_tokens,
             ((((CAST(1103515245 AS BIGINT)*473 + 12345) % 2147483648) *
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, length(k)+1),
                    i -> CAST(unicode(substring(k, CAST(i AS INT), 1)) AS BIGINT))),
                  (h, c) -> (h * 31 + c) % 1000000007))
               + ((CAST(1103515245 AS BIGINT)*474 + 12345) % 2147483648)) % 2147483647) % 10000 AS bucket
           FROM (SELECT doc_id, source, concat('srcq:', CAST(doc_id AS VARCHAR)) AS k
                 FROM documents) t
           JOIN doc_counts dc ON dc.doc_id = t.doc_id) b
         JOIN src_rates r USING (source)
         WHERE b.bucket < r.rate_myriad""",
    "q88_source_mix" ->
      """WITH per AS (
           SELECT source, lang,
                  CASE WHEN text IS NULL THEN NULL
                       ELSE CAST(len(list_filter(
                              regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'),
                              t -> length(t) > 0)) AS BIGINT) END AS nt
           FROM documents),
         g AS (
           SELECT CASE WHEN GROUPING(source) = 1 THEN '__total__' ELSE source END AS source,
                  CASE WHEN GROUPING(lang) = 1 THEN '__total__' ELSE lang END AS lang,
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(COALESCE(sum(nt), 0) AS BIGINT) AS n_tokens
           FROM per GROUP BY CUBE(source, lang)),
         t AS (SELECT n_tokens AS tot FROM g
               WHERE source = '__total__' AND lang = '__total__')
         SELECT g.source, g.lang, g.n_docs, g.n_tokens,
                CASE WHEN t.tot > 0 THEN (g.n_tokens * 10000) // t.tot
                     ELSE CAST(0 AS BIGINT) END AS share_myriad
         FROM g, t""",
    "q85_chunk_passages" ->
      """WITH t AS (
           SELECT doc_id,
                  regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks
           FROM documents WHERE text IS NOT NULL),
         n AS (
           SELECT doc_id, toks,
                  1 + (greatest(len(toks) - 64, 0) + 31) // 32 AS k
           FROM t),
         e AS (SELECT doc_id, toks, unnest(range(1, k + 1)) AS i FROM n)
         SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_id,
                CAST(len(list_slice(toks, CAST((i - 1) * 32 + 1 AS INT),
                                    CAST((i - 1) * 32 + 64 AS INT))) AS BIGINT) AS n_words,
                array_to_string(list_slice(toks, CAST((i - 1) * 32 + 1 AS INT),
                                           CAST((i - 1) * 32 + 64 AS INT)), ' ') AS chunk
         FROM e""",
    "q84_memorization_risk" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(g)+1),
                      i -> CAST(unicode(substring(g, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 3, 1) + 1),
                   i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 3 AS INT)), ' ')))) AS g
                 FROM t) x),
         dfreq AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1),
         dup AS (SELECT doc_id, count(*) AS n_dup FROM sh JOIN dfreq USING (s) GROUP BY 1),
         sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1)
         SELECT d.doc_id,
                COALESCE(sizes.n_shingles, 0) AS n_shingles,
                COALESCE(dup.n_dup, 0) AS n_dup,
                CASE WHEN COALESCE(sizes.n_shingles, 0) > 0
                     THEN CAST(COALESCE(dup.n_dup, 0) AS DOUBLE) / sizes.n_shingles
                     ELSE NULL END AS dup_ratio
         FROM documents d
         LEFT JOIN sizes USING (doc_id)
         LEFT JOIN dup USING (doc_id)""",
    // q73: the bloom prefilter is exactness-preserving (FPs die in the
    // confirm join), so the oracle IS q38's — the strongest possible
    // statement of "same semantics, different physical shape".
    "q73_bloom_decontam" -> decontamSql,
    "q81_contamination_report" -> contamReportSql,
    // q39: every ratio is integer-count / integer-count in IEEE double
    // — bit-identical across engines. DuckDB range() is end-EXCLUSIVE
    // vs Spark sequence()'s inclusive, hence the +1s.
    // q58: same planting expression, then the same count→redact chain;
    // DuckDB regexp_replace needs the 'g' flag (Spark replaces all by
    // default) and counts via length(regexp_extract_all). Patterns are
    // the Java∩RE2-identical subset (TextOps.piiRedact scaladoc).
    "q58_pii_redact" ->
      s"""WITH planted AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 AND text IS NOT NULL THEN
                    'contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com or 10.'
                    || CAST(doc_id % 200 AS VARCHAR) || '.'
                    || CAST(doc_id % 250 AS VARCHAR) || '.9 call '
                    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                    || '-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' ' || text
                  ELSE text END AS text
           FROM documents),
         chain AS (
           SELECT doc_id, text AS t0,
                  regexp_replace(text, '${graft.operators.TextOps.EmailRe}', '<EMAIL>', 'g') AS t1
           FROM planted),
         chain2 AS (
           SELECT doc_id, t0, t1,
                  regexp_replace(t1, '${graft.operators.TextOps.Ipv4Re}', '<IP>', 'g') AS t2
           FROM chain)
         SELECT doc_id,
                length(regexp_extract_all(t0, '${graft.operators.TextOps.EmailRe}')) AS n_emails,
                length(regexp_extract_all(t1, '${graft.operators.TextOps.Ipv4Re}')) AS n_ips,
                length(regexp_extract_all(t2, '${graft.operators.TextOps.PhoneRe}')) AS n_phones,
                regexp_replace(t2, '${graft.operators.TextOps.PhoneRe}', '<PHONE>', 'g') AS clean_text
         FROM chain2""",
    "q39_repetition_stats" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(
                    regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'),
                    t -> length(t) > 0) AS toks
           FROM documents),
         tok AS (
           SELECT doc_id, count(*) AS n_tokens, count(DISTINCT t) AS n_distinct
           FROM (SELECT doc_id, unnest(toks) AS t FROM toks) x GROUP BY 1),
         g2 AS (
           SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top2gram_frac
           FROM (SELECT doc_id, g, count(*) AS c
                 FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1 + 1),
                         i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 1 AS INT)), ' '))) AS g
                       FROM toks WHERE len(toks) >= 2) y
                 GROUP BY 1, 2) z
           GROUP BY 1),
         g3 AS (
           SELECT doc_id,
                  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup3gram_frac
           FROM (SELECT doc_id, g, count(*) AS c
                 FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 2 + 1),
                         i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 2 AS INT)), ' '))) AS g
                       FROM toks WHERE len(toks) >= 3) y
                 GROUP BY 1, 2) z
           GROUP BY 1)
         SELECT d.doc_id,
                COALESCE(tok.n_tokens, 0) AS n_tokens,
                COALESCE(tok.n_distinct, 0) AS n_distinct,
                CASE WHEN COALESCE(tok.n_tokens, 0) > 0
                     THEN CAST(tok.n_distinct AS DOUBLE) / CAST(tok.n_tokens AS DOUBLE)
                     ELSE 0.0 END AS distinct_ratio,
                COALESCE(g2.top2gram_frac, 0.0) AS top2gram_frac,
                COALESCE(g3.dup3gram_frac, 0.0) AS dup3gram_frac
         FROM (SELECT doc_id FROM documents) d
         LEFT JOIN tok USING (doc_id)
         LEFT JOIN g2 USING (doc_id)
         LEFT JOIN g3 USING (doc_id)""",
    // q61: the Q16 fixed-point log2 kernel replayed as a 16-step
    // WITH RECURSIVE shift-and-square over the DISTINCT count values
    // (vocab-sized, never per corpus row) — `length(bin(x))-1` is the
    // top-bit position, `//` and `<<` are the same truncating int64
    // ops as Log2Q16Expr.compute. This retires the "log() is not
    // bit-stable across engines" limitation (q40's comment): logs ARE
    // hash-comparable once they're fixed-point.
    // q104: the q61 CTE program one order up — trigram type counts,
    // continuation counts, the D=3/4 Q30 probability chain in `//`
    // arithmetic, the shared recursive log2, per-doc aggregation
    "q104_kn_trigram" -> graft.operators.NgramLm.knPerplexityOracleSql,
    // q104b: the generated order-5 CTE program (type marginalization
    // L5..L1 + the Q30 ladder + the shared recursive log2)
    "q104b_kn_fivegram" -> graft.operators.NgramLm.knPerplexityNOracleSql(5),
    // q104c: the pruned ladder — prune thresholds inside the CTE chain
    "q104c_kn_pruned" ->
      graft.operators.NgramLm.knPerplexityNPrunedOracleSql(3, 2L, 2L),
    "q61_perplexity" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(
                    regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'),
                    t -> length(t) > 0) AS toks
           FROM documents),
         bg AS (
           SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM toks) x),
         uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         v AS (SELECT count(DISTINCT t) AS v
               FROM (SELECT unnest(toks) AS t FROM toks) x),
         bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         vals AS (
           SELECT DISTINCT x FROM (
             SELECT c12 + 1 AS x FROM bgc
             UNION SELECT c1 + (SELECT v FROM v) AS x FROM uni) u),
         s(x, z, r, i) AS (
           SELECT x, (x * 65536) // (1::BIGINT << (length(bin(x)) - 1)),
                  CAST(length(bin(x)) - 1 AS BIGINT) * 65536, 0
           FROM vals
           UNION ALL
           SELECT x,
                  CASE WHEN (z*z) // 65536 >= 131072
                       THEN ((z*z) // 65536) // 2 ELSE (z*z) // 65536 END,
                  CASE WHEN (z*z) // 65536 >= 131072
                       THEN r + (1::BIGINT << (16 - (i + 1))) ELSE r END,
                  i + 1
           FROM s WHERE i < 16),
         il AS (SELECT x, r FROM s WHERE i = 16),
         model AS (
           SELECT b.w1, b.w2, ild.r - iln.r AS nll_q16
           FROM bgc b
           JOIN uni u ON u.w1 = b.w1
           JOIN il ild ON ild.x = u.c1 + (SELECT v FROM v)
           JOIN il iln ON iln.x = b.c12 + 1),
         scored AS (
           SELECT bg.doc_id, count(*) AS n_bigrams, sum(m.nll_q16) AS nll_sum
           FROM bg JOIN model m ON m.w1 = bg.w1 AND m.w2 = bg.w2
           GROUP BY 1)
         SELECT d.doc_id,
                CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                CAST(COALESCE(sc.nll_sum, 0) AS BIGINT) AS nll_q16,
                CAST(sc.nll_sum // sc.n_bigrams AS BIGINT) AS ppl_q16
         FROM (SELECT doc_id FROM documents) d
         LEFT JOIN scored sc USING (doc_id)""",
    // q74: the q61 perplexity replay extended with lang, then the q46
    // bottom-k-by-hash sketch PER LANGUAGE (row_number over (h, v)
    // stands in for the per-group LIMIT) and the inclusive 33/67
    // bucket CASE. Hash indexes 220/221 → LCG seeds 441-444.
    "q74_ccnet_buckets" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(
                    regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'),
                    t -> length(t) > 0) AS toks
           FROM documents),
         bg AS (
           SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM toks) x),
         uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         v AS (SELECT count(DISTINCT t) AS v
               FROM (SELECT unnest(toks) AS t FROM toks) x),
         bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         vals AS (
           SELECT DISTINCT x FROM (
             SELECT c12 + 1 AS x FROM bgc
             UNION SELECT c1 + (SELECT v FROM v) AS x FROM uni) u),
         s(x, z, r, i) AS (
           SELECT x, (x * 65536) // (1::BIGINT << (length(bin(x)) - 1)),
                  CAST(length(bin(x)) - 1 AS BIGINT) * 65536, 0
           FROM vals
           UNION ALL
           SELECT x,
                  CASE WHEN (z*z) // 65536 >= 131072
                       THEN ((z*z) // 65536) // 2 ELSE (z*z) // 65536 END,
                  CASE WHEN (z*z) // 65536 >= 131072
                       THEN r + (1::BIGINT << (16 - (i + 1))) ELSE r END,
                  i + 1
           FROM s WHERE i < 16),
         il AS (SELECT x, r FROM s WHERE i = 16),
         model AS (
           SELECT b.w1, b.w2, ild.r - iln.r AS nll_q16
           FROM bgc b
           JOIN uni u ON u.w1 = b.w1
           JOIN il ild ON ild.x = u.c1 + (SELECT v FROM v)
           JOIN il iln ON iln.x = b.c12 + 1),
         scored AS (
           SELECT bg.doc_id, count(*) AS n_bigrams, sum(m.nll_q16) AS nll_sum
           FROM bg JOIN model m ON m.w1 = bg.w1 AND m.w2 = bg.w2
           GROUP BY 1),
         pplq AS (
           SELECT d.doc_id, d.lang,
                  CAST(sc.nll_sum // sc.n_bigrams AS BIGINT) AS ppl_q16
           FROM documents d
           LEFT JOIN scored sc USING (doc_id)),
         hashed AS (
           SELECT lang, CAST(ppl_q16 AS DOUBLE) AS v,
                  ((((CAST(1103515245 AS BIGINT)*441 + 12345) % 2147483648) * s
                    + ((CAST(1103515245 AS BIGINT)*442 + 12345) % 2147483648)) % 2147483647)
                  * 2147483647
                  + ((((CAST(1103515245 AS BIGINT)*443 + 12345) % 2147483648) * s
                      + ((CAST(1103515245 AS BIGINT)*444 + 12345) % 2147483648)) % 2147483647) AS h
           FROM (
             SELECT lang, ppl_q16,
                    list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(1, length(kk)+1),
                        i -> CAST(unicode(substring(kk, CAST(i AS INT), 1)) AS BIGINT))),
                      (h, c) -> (h * 31 + c) % 1000000007) AS s
             FROM (SELECT lang, ppl_q16,
                          concat('q74:', CAST(doc_id AS VARCHAR)) AS kk
                   FROM pplq WHERE ppl_q16 IS NOT NULL) t0) t1),
         ranked AS (
           SELECT lang, v,
                  row_number() OVER (PARTITION BY lang ORDER BY h, v) AS rn
           FROM hashed),
         arr AS (
           SELECT lang, list(v ORDER BY v) AS sample, count(*) AS n
           FROM ranked WHERE rn <= 256 GROUP BY 1),
         cuts AS (
           SELECT lang,
                  CAST(sample[CAST(33 * (n - 1) // 100 AS INT) + 1] AS BIGINT) AS c33,
                  CAST(sample[CAST(67 * (n - 1) // 100 AS INT) + 1] AS BIGINT) AS c67
           FROM arr)
         SELECT p.doc_id, p.lang, p.ppl_q16,
                CASE WHEN p.ppl_q16 IS NULL THEN NULL
                     WHEN p.ppl_q16 <= c.c33 THEN 'head'
                     WHEN p.ppl_q16 <= c.c67 THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM pplq p LEFT JOIN cuts c USING (lang)""",
    // q62: the whole BM25 computation replayed — query-term
    // selection, the Q16 idf via the same recursive-CTE log2, the
    // myriad-scaled length normalization, and the (score DESC,
    // doc_id ASC) top-k. All divs are positive-operand truncating.
    "q62_bm25_search" ->
      s"""WITH RECURSIVE $bm25Ctes
         SELECT token, CAST(rank AS BIGINT) AS rank, doc_id,
                CAST(score_q16 AS BIGINT) AS score_q16
         FROM rk WHERE rank <= 10""",
    // q94: q62's scoring CTEs verbatim (rank <= 12 candidate pool),
    // q25's shingle-postings replay for the inter-candidate Jaccard,
    // then the greedy MMR selection unrolled one CTE level per step
    // (generated by mmrLevel — the q95/q67 loop-unroll discipline)
    "q94_mmr" ->
      s"""WITH RECURSIVE $bm25Ctes,
         cand AS MATERIALIZED (
           SELECT token, doc_id, score_q16 AS rel FROM rk WHERE rank <= 12),
         cdocs AS MATERIALIZED (SELECT DISTINCT doc_id FROM cand),
         mtoks AS (
           SELECT d.doc_id, regexp_split_to_array(lower(regexp_replace(d.text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS tk
           FROM documents d JOIN cdocs USING (doc_id)),
         cpost AS MATERIALIZED (
           SELECT DISTINCT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(sh)+1),
                      i -> CAST(unicode(substring(sh, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS sh
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(tk) - 2, 1) + 1),
                   i -> array_to_string(list_slice(tk, CAST(i AS INT), CAST(i + 2 AS INT)), ' ')))) AS sh
                 FROM mtoks) x),
         csize AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM cpost GROUP BY 1),
         dpair AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           FROM cand a JOIN cand b USING (token) WHERE a.doc_id < b.doc_id),
         dcom AS MATERIALIZED (
           SELECT p.da, p.db, count(*) AS c
           FROM dpair p
           JOIN cpost x ON x.doc_id = p.da
           JOIN cpost y ON y.doc_id = p.db AND y.sh = x.sh
           GROUP BY 1, 2),
         dsim AS MATERIALIZED (
           SELECT p.da, p.db,
                  ((10000 * coalesce(c.c, 0)) // (sa.n + sb.n - coalesce(c.c, 0))) AS jmy
           FROM dpair p
           LEFT JOIN dcom c ON c.da = p.da AND c.db = p.db
           JOIN csize sa ON sa.doc_id = p.da
           JOIN csize sb ON sb.doc_id = p.db),
         sims AS MATERIALIZED (
           SELECT da AS x, db AS y, (jmy * 65536) // 10000 AS s FROM dsim
           UNION ALL
           SELECT db AS x, da AS y, (jmy * 65536) // 10000 AS s FROM dsim),
         sel1 AS MATERIALIZED (
           SELECT token, doc_id, mmr FROM (
             SELECT token, doc_id, 7 * rel AS mmr,
                    row_number() OVER (PARTITION BY token
                      ORDER BY 7 * rel DESC, doc_id ASC) AS rn
             FROM cand) WHERE rn = 1),
         all1 AS MATERIALIZED (SELECT token, doc_id FROM sel1),
         ${(2 to 5).map(mmrLevel).mkString(",\n         ")}
         SELECT token, step, doc_id, CAST(mmr AS BIGINT) AS mmr_q16 FROM (
           ${(1 to 5).map(t => s"SELECT token, CAST($t AS BIGINT) AS step, doc_id, mmr FROM sel$t")
             .mkString("\n           UNION ALL ")})""",
    // q76: the rollup replay — per-lang groups + GROUPING()-tagged
    // total, the q46 sketch per lang (row_number over (h, v)) and
    // once unpartitioned for the total row. Hash indexes 222/223 →
    // LCG seeds 445-448.
    "q76_corpus_card" ->
      """WITH per AS (
           SELECT doc_id, lang,
                  CAST(length(text) AS BIGINT) AS nc,
                  CASE WHEN text IS NULL THEN NULL
                       ELSE CAST(len(list_filter(
                              regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'),
                              t -> length(t) > 0)) AS BIGINT) END AS nt,
                  ((((CAST(1103515245 AS BIGINT)*445 + 12345) % 2147483648) * s
                    + ((CAST(1103515245 AS BIGINT)*446 + 12345) % 2147483648)) % 2147483647)
                  * 2147483647
                  + ((((CAST(1103515245 AS BIGINT)*447 + 12345) % 2147483648) * s
                      + ((CAST(1103515245 AS BIGINT)*448 + 12345) % 2147483648)) % 2147483647) AS h
           FROM (SELECT doc_id, lang, text,
                        list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(range(1, length(kk)+1),
                            i -> CAST(unicode(substring(kk, CAST(i AS INT), 1)) AS BIGINT))),
                          (h, c) -> (h * 31 + c) % 1000000007) AS s
                 FROM (SELECT doc_id, lang, text,
                              concat('q76:', CAST(doc_id AS VARCHAR)) AS kk
                       FROM documents) t0) t1),
         grp AS (
           SELECT CASE WHEN GROUPING(lang) = 1 THEN '__total__' ELSE lang END AS lang,
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(count(nc) AS BIGINT) AS n_text,
                  CAST(COALESCE(sum(nt), 0) AS BIGINT) AS n_tokens,
                  CAST(COALESCE(sum(nc), 0) AS BIGINT) AS n_chars
           FROM per GROUP BY ROLLUP(lang)),
         r1 AS (SELECT lang, CAST(nc AS DOUBLE) AS v,
                       row_number() OVER (PARTITION BY lang ORDER BY h, CAST(nc AS DOUBLE)) AS rn
                FROM per WHERE nc IS NOT NULL),
         a1 AS (SELECT lang, list(v ORDER BY v) AS sample, count(*) AS n
                FROM r1 WHERE rn <= 256 GROUP BY 1),
         rt AS (SELECT CAST(nc AS DOUBLE) AS v,
                       row_number() OVER (ORDER BY h, CAST(nc AS DOUBLE)) AS rn
                FROM per WHERE nc IS NOT NULL),
         at AS (SELECT '__total__' AS lang, list(v ORDER BY v) AS sample, count(*) AS n
                FROM rt WHERE rn <= 256),
         sk AS (SELECT * FROM a1 UNION ALL SELECT * FROM at)
         SELECT g.lang, g.n_docs, g.n_text, g.n_tokens, g.n_chars,
                CASE WHEN g.n_text > 0 THEN g.n_tokens // g.n_text END AS avg_tokens,
                CAST(sk.sample[CAST(50 * (sk.n - 1) // 100 AS INT) + 1] AS BIGINT) AS p50_chars,
                CAST(sk.sample[CAST(90 * (sk.n - 1) // 100 AS INT) + 1] AS BIGINT) AS p90_chars
         FROM grp g LEFT JOIN sk USING (lang)""",
    // q75: plant via chr() (no raw unicode in SQL text), then the
    // same NFC → strip → trim+collapse chain; nfc_normalize is
    // utf8proc's stabilized Unicode algorithm — identical to the
    // JDK's (probed: composed/decomposed/ligature all agree).
    "q75_normalize" ->
      """WITH planted AS (
           SELECT doc_id,
                  CASE WHEN text IS NULL THEN NULL
                       WHEN doc_id % 6 = 0 THEN text || ' caf' || chr(101) || chr(769)
                       WHEN doc_id % 6 = 1 THEN text || ' ' || chr(65) || chr(778)
                       WHEN doc_id % 6 = 2 THEN text || ' caf' || chr(233)
                       WHEN doc_id % 6 = 3 THEN text || chr(8203) || 'x'
                       WHEN doc_id % 6 = 4 THEN text || chr(7) || 'x'
                       ELSE text END AS text
           FROM documents),
         n AS (SELECT doc_id, text, nfc_normalize(text) AS nfc FROM planted),
         st AS (SELECT doc_id, text, nfc,
                  regexp_replace(nfc,
                    '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}-\x{009F}\x{200B}-\x{200D}\x{FEFF}]',
                    '', 'g') AS stripped
                FROM n),
         fin AS (SELECT doc_id, text, nfc, stripped,
                   regexp_replace(regexp_replace(stripped, '^\s+|\s+$', '', 'g'),
                     '\s+', ' ', 'g') AS norm_text
                 FROM st)
         SELECT doc_id, norm_text,
                CAST(length(nfc) - length(stripped) AS BIGINT) AS n_removed,
                CAST(norm_text IS DISTINCT FROM text AS BIGINT) AS changed
         FROM fin""",
    // q40: tf-idf ORDER without tf-idf's log() (not bit-stable across
    // engines); (tf DESC, df ASC, token ASC) is integer/byte-exact.
    "q40_keywords" ->
      """WITH tf AS (
           SELECT doc_id, t AS token, count(*) AS tf
           FROM (SELECT doc_id, unnest(list_filter(
                   regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'),
                   t -> length(t) > 0)) AS t
                 FROM documents) x
           GROUP BY 1, 2),
         df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         ranked AS (
           SELECT tf.doc_id, tf.token, tf.tf, df.df,
                  row_number() OVER (PARTITION BY tf.doc_id
                    ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS rank
           FROM tf JOIN df USING (token))
         SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tf, df
         FROM ranked WHERE rank <= 3""",
    // q41: rate/channels/samples on the Spark side are read from a
    // REAL javax.sound WAV parse; the oracle predicts them from the
    // same metadata the synthesizer used — a codec defect breaks this
    // hash match (the q31 contract, for audio).
    "q41_audio_meta" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS blob_len,
                md5(text) AS blob_md5,
                CAST(8000 * (1 + doc_id % 2) AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS channels,
                CAST(1 + n_chars % 4096 AS BIGINT) AS n_samples,
                CAST(((1 + n_chars % 4096) * 1000) // (8000 * (1 + doc_id % 2)) AS BIGINT) AS duration_ms
         FROM documents""",
    // q42: the q30 pair predicate + a recursive-CTE transitive closure
    // — a sequential ground truth for the distributed label-propagation
    // iteration (min reachable vec_id per component).
    "q42_dedup_groups" ->
      """WITH RECURSIVE e AS (
           SELECT vec_id, embedding,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                    (acc, x) -> acc + x) AS n2
           FROM embeddings),
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM e a JOIN e b ON a.vec_id < b.vec_id
           WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, len(a.embedding)+1),
                     i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))),
                   (acc, x) -> acc + x) / (sqrt(a.n2) * sqrt(b.n2)) >= 0.35),
         edges AS (
           SELECT id_a AS u, id_b AS v FROM pairs
           UNION ALL
           SELECT id_b AS u, id_a AS v FROM pairs),
         rec AS (
           SELECT vec_id AS id, vec_id AS label FROM embeddings
           UNION
           SELECT edges.v AS id, rec.label FROM rec JOIN edges ON edges.u = rec.id)
         SELECT id AS vec_id, min(label) AS group_rep,
                CAST(id = min(label) AS BIGINT) AS keep
         FROM rec GROUP BY id""",
    // q42b: the q30b LSH pair CTE (signatures, auto-sized bands,
    // exact-cosine verify — all SQL-replayable) feeding the SAME
    // recursive-CTE closure as q42: the sub-quadratic dedup-groups
    // path is hash-checked end to end, not just recall-gated.
    "q42b_dedup_groups_lsh" ->
      """WITH RECURSIVE e AS (
           SELECT vec_id, embedding,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                    (acc, x) -> acc + x) AS n2
           FROM embeddings),
         w AS (
           SELECT j, d, (s5 // 65536 - 16384) AS w FROM (
             SELECT j, d, (1103515245 * xor(s3, s3 // 2048) + 12345) % 2147483648 AS s5 FROM (
               SELECT j, d, (1103515245 * xor(s1, s1 // 65536) + 12345) % 2147483648 AS s3 FROM (
                 SELECT j, d, (1103515245 * (j*1000003 + d) + 12345) % 2147483648 AS s1
                 FROM range(0, 128) t1(j), range(0, 64) t2(d))))),
         qv AS (
           SELECT vec_id, d,
                  CAST(floor(CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
           FROM e, range(0, 64) t(d)),
         bits AS (
           SELECT vec_id, j, CASE WHEN sum(q * w) >= 0 THEN 1 ELSE 0 END AS bit
           FROM qv JOIN w USING (d)
           GROUP BY vec_id, j),
         bw AS (
           SELECT CASE WHEN n <= 512 THEN 4 WHEN n <= 1024 THEN 5
                       WHEN n <= 2048 THEN 6 WHEN n <= 4096 THEN 7
                       WHEN n <= 8192 THEN 8 WHEN n <= 16384 THEN 9
                       WHEN n <= 32768 THEN 10 WHEN n <= 65536 THEN 11
                       WHEN n <= 131072 THEN 12 WHEN n <= 262144 THEN 13
                       WHEN n <= 524288 THEN 14 WHEN n <= 1048576 THEN 15
                       ELSE 16 END AS bb
           FROM (SELECT count(*) AS n FROM embeddings)),
         -- two independent 64-plane signature tables (j//64) with
         -- per-table leftover-bit trimming; band ids are globally
         -- numbered table-major, matching the Spark side's
         -- t*(64//bb)+band
         bands AS (
           SELECT vec_id, (j // 64) * (64 // bb) + (j % 64) // bb AS band_id,
                  sum(bit * (1 << ((j % 64) % bb))) AS band_sig
           FROM bits, bw
           WHERE (j % 64) < (64 // bb) * bb
           GROUP BY 1, 2),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM bands a JOIN bands b
             ON a.band_id = b.band_id AND a.band_sig = b.band_sig
            AND a.vec_id < b.vec_id),
         pairs AS (
           SELECT id_a, id_b
           FROM cand
           JOIN e ea ON ea.vec_id = id_a
           JOIN e eb ON eb.vec_id = id_b
           WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(1, len(ea.embedding)+1),
                     i -> CAST(ea.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(eb.embedding[CAST(i AS INT)] AS DOUBLE))),
                   (acc, x) -> acc + x) / (sqrt(ea.n2) * sqrt(eb.n2)) >= 0.35),
         edges AS (
           SELECT id_a AS u, id_b AS v FROM pairs
           UNION ALL
           SELECT id_b AS u, id_a AS v FROM pairs),
         rec AS (
           SELECT vec_id AS id, vec_id AS label FROM embeddings
           UNION
           SELECT edges.v AS id, rec.label FROM rec JOIN edges ON edges.u = rec.id)
         SELECT id AS vec_id, min(label) AS group_rep,
                CAST(id = min(label) AS BIGINT) AS keep
         FROM rec GROUP BY id""",
    // q80: the q25 pair CTEs + the q42 recursive closure + the
    // component-keyed split draw
    "q80_leakage_split" ->
      graft.operators.Components.leakageSplitOracleSql(),
    // q43: frame count and dims on the Spark side come from a REAL
    // multi-frame GIF parse; the oracle predicts them from the same
    // metadata the synthesizer used (the q31/q41 contract, third
    // modality).
    "q43_video_meta" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS blob_len,
                md5(text) AS blob_md5,
                CAST(1 + n_chars % 32 AS BIGINT) AS width,
                CAST(1 + doc_id % 24 AS BIGINT) AS height,
                CAST(1 + doc_id % 7 AS BIGINT) AS n_frames
         FROM documents""",
    // q44: the oracle states the range predicate DIRECTLY (DuckDB's
    // optimizer handles the small case); the Spark side must produce
    // identical rows through the binned equi-join.
    "q44_range_join" ->
      """WITH err AS (
           SELECT event_id, epoch_us(ts) AS us FROM events
           WHERE event_type = 'error')
         SELECT err.event_id,
                CAST(count(f.event_id) AS BIGINT) AS n_follow
         FROM err LEFT JOIN (SELECT event_id, epoch_us(ts) AS us FROM events) f
           ON f.us > err.us AND f.us <= err.us + 300000000
         GROUP BY 1""",
    // q45: an ORACLE-CHECKED sketch — the CMS row hashes are the
    // ReplayableHash family (indices 400..403), so every counter
    // (count of tokens landing in bucket (i, b)) and therefore every
    // min-over-rows estimate reproduces exactly in SQL.
    "q45_heavy_hitters" ->
      """WITH tok AS (
           SELECT t AS token,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(t)+1),
                      i -> CAST(unicode(substring(t, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM (SELECT unnest(list_filter(
                   regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+'),
                   t -> length(t) > 0)) AS t
                 FROM documents) x),
         counters AS (
           SELECT i,
                  ((((1103515245*(2*(400+i)+1) + 12345) % 2147483648) * s
                    + ((1103515245*(2*(400+i)+2) + 12345) % 2147483648))
                   % 2147483647) % 1024 AS b,
                  count(*) AS c
           FROM tok, range(0, 4) r(i)
           GROUP BY 1, 2),
         topk AS (
           SELECT token, count(*) AS tf, min(s) AS s
           FROM tok GROUP BY 1
           ORDER BY tf DESC, token ASC LIMIT 20)
         SELECT topk.token, topk.tf, min(counters.c) AS tf_est
         FROM topk, range(0, 4) r(i)
         JOIN counters
           ON counters.i = r.i
          AND counters.b = ((((1103515245*(2*(400+r.i)+1) + 12345) % 2147483648) * topk.s
                             + ((1103515245*(2*(400+r.i)+2) + 12345) % 2147483648))
                            % 2147483647) % 1024
         GROUP BY 1, 2""",
    // q46: an ORACLE-CHECKED quantile sketch — the sample is the
    // bottom-k rows by a 62-bit ReplayableHash key (indices 210/211,
    // h1·P + h2), so `ORDER BY h, v LIMIT k` reproduces it exactly and
    // every percentile cutoff (pure integer rank arithmetic) matches
    // cell-for-cell. k = 256 here to match the registered query.
    "q46_quantile_gate" ->
      """WITH scored AS (
           SELECT doc_id,
                  CAST(length(text) AS BIGINT) AS n_chars,
                  length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    / CAST(length(text) AS DOUBLE) AS alpha_ratio
           FROM documents),
         hashed AS (
           SELECT n_chars, alpha_ratio,
                  ((((CAST(1103515245 AS BIGINT)*421 + 12345) % 2147483648) * s
                    + ((CAST(1103515245 AS BIGINT)*422 + 12345) % 2147483648)) % 2147483647)
                  * 2147483647
                  + ((((CAST(1103515245 AS BIGINT)*423 + 12345) % 2147483648) * s
                      + ((CAST(1103515245 AS BIGINT)*424 + 12345) % 2147483648)) % 2147483647) AS h
           FROM (
             SELECT n_chars, alpha_ratio,
                    list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(1, length(kk)+1),
                        i -> CAST(unicode(substring(kk, CAST(i AS INT), 1)) AS BIGINT))),
                      (h, c) -> (h * 31 + c) % 1000000007) AS s
             FROM (SELECT n_chars, alpha_ratio,
                          concat('q46:', CAST(doc_id AS VARCHAR)) AS kk
                   FROM scored) t0) t1),
         samp_len AS (
           SELECT CAST(n_chars AS DOUBLE) AS v FROM hashed
           ORDER BY h, CAST(n_chars AS DOUBLE) LIMIT 256),
         samp_alpha AS (
           SELECT alpha_ratio AS v FROM hashed
           ORDER BY h, alpha_ratio LIMIT 256),
         arr AS (
           SELECT 'n_chars' AS metric, list(v ORDER BY v) AS sample, count(*) AS n
           FROM samp_len
           UNION ALL
           SELECT 'alpha_ratio' AS metric, list(v ORDER BY v) AS sample, count(*) AS n
           FROM samp_alpha),
         p(pct) AS (VALUES (1),(5),(10),(25),(50),(75),(90),(95),(99))
         SELECT arr.metric, CAST(p.pct AS BIGINT) AS pct,
                arr.sample[CAST(p.pct * (arr.n - 1) // 100 AS INT) + 1] AS cutoff,
                CAST(arr.n AS BIGINT) AS n_sample
         FROM arr, p""",
    // q47: the whole packing — hash order, within-shard running
    // offsets, chunk spans — is integer arithmetic on the index-212
    // universal hash, replayed verbatim: every chunk assignment is
    // engine-independent.
    "q47_pack_sequences" ->
      """WITH base AS (
           SELECT doc_id,
             ((((CAST(1103515245 AS BIGINT)*425 + 12345) % 2147483648) *
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, length(k)+1),
                    i -> CAST(unicode(substring(k, CAST(i AS INT), 1)) AS BIGINT))),
                  (h, c) -> (h * 31 + c) % 1000000007))
               + ((CAST(1103515245 AS BIGINT)*426 + 12345) % 2147483648)) % 2147483647) AS h,
             CAST(CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                  ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS BIGINT) AS n_tok
           FROM (SELECT doc_id, text, concat('pack:', CAST(doc_id AS VARCHAR)) AS k
                 FROM documents) t),
         offs AS (
           SELECT h % 8 AS shard, doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off -- windowed SUM(BIGINT) is HUGEINT in DuckDB
           FROM base WHERE n_tok > 0),
         chunks AS (
           SELECT shard, doc_id, n_tok, off,
             unnest(generate_series(off // 512, (off + n_tok - 1) // 512)) AS chunk
           FROM offs)
         SELECT shard, chunk, doc_id,
                GREATEST(CAST(0 AS BIGINT), chunk*512 - off) AS tok_start,
                LEAST(n_tok, (chunk+1)*512 - off)
                  - GREATEST(CAST(0 AS BIGINT), chunk*512 - off) AS n_toks
         FROM chunks""",
    // q48: rate derivation (integer parts-per-myriad) + the q37
    // admission rule at index 213 — admitted rows replay exactly.
    "q48_mixture_solve" ->
      """WITH counts AS (
           SELECT t.lang, t.t_myriad, COALESCE(g.cnt, 0) AS cnt
           FROM (VALUES ('de', 2000), ('en', 2000), ('es', 2000),
                        ('fr', 2000), ('zh', 2000)) t(lang, t_myriad)
           LEFT JOIN (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang) g
             USING (lang)),
         feas AS (SELECT MIN(cnt * 10000 // t_myriad) AS t_total FROM counts),
         rates AS (
           SELECT lang, CASE WHEN cnt = 0 THEN CAST(0 AS BIGINT)
                        ELSE (t_total * t_myriad // 10000) * 10000 // cnt END AS rate_myriad
           FROM counts, feas)
         SELECT doc_id, lang, rate_myriad, bucket
         FROM (
           SELECT doc_id, lang,
             ((((CAST(1103515245 AS BIGINT)*427 + 12345) % 2147483648) *
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, length(k)+1),
                    i -> CAST(unicode(substring(k, CAST(i AS INT), 1)) AS BIGINT))),
                  (h, c) -> (h * 31 + c) % 1000000007))
               + ((CAST(1103515245 AS BIGINT)*428 + 12345) % 2147483648)) % 2147483647) % 10000 AS bucket
           FROM (SELECT doc_id, lang, concat('mix:', CAST(doc_id AS VARCHAR)) AS k
                 FROM documents) t) d
         JOIN rates USING (lang)
         WHERE bucket < rate_myriad""",
    // q49: the q25 replay pointed across the corpus/benchmark split —
    // shared shingle/minhash/band CTEs parameterized by the %97 split,
    // cross-set candidate join, exact-Jaccard verify, struct-max
    // attribution (the q27 pattern).
    "q49_decontaminate_fuzzy" ->
      """WITH toks AS (
           SELECT doc_id, doc_id % 7 = 0 AS is_bench,
                  regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS toks
           FROM documents),
         shs AS (
           SELECT DISTINCT doc_id, is_bench,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(sh)+1),
                      i -> CAST(unicode(substring(sh, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM (SELECT doc_id, is_bench, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 2, 1) + 1),
                   i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 2 AS INT)), ' ')))) AS sh
                 FROM toks) x),
         sig AS (
           SELECT doc_id, is_bench, i,
                  min((((1103515245*(2*i+1) + 12345) % 2147483648) * s
                       + ((1103515245*(2*i+2) + 12345) % 2147483648)) % 2147483647) AS m
           FROM shs, range(0, 32) t(i)
           GROUP BY 1, 2, 3),
         bands AS (
           SELECT doc_id, is_bench, i // 4 AS band_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT), list(m ORDER BY i)),
                    (acc, x) -> (acc * 131 + x) % 1000000007) AS band_sig
           FROM sig GROUP BY 1, 2, 3),
         cand AS (
           SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_id
           FROM bands c JOIN bands b
             ON NOT c.is_bench AND b.is_bench
            AND c.band_id = b.band_id AND c.band_sig = b.band_sig),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM shs GROUP BY 1),
         common AS (
           SELECT cd.doc_id, cd.bench_id, count(*) AS n_common
           FROM cand cd
           JOIN shs pa ON pa.doc_id = cd.doc_id
           JOIN shs pb ON pb.doc_id = cd.bench_id AND pa.s = pb.s
           GROUP BY 1, 2),
         verified AS (
           SELECT cd.doc_id, cd.bench_id,
                  CAST(COALESCE(cm.n_common, 0) AS DOUBLE)
                    / CAST(sa.n_sh + sb.n_sh - COALESCE(cm.n_common, 0) AS DOUBLE) AS jaccard
           FROM cand cd
           LEFT JOIN common cm ON cm.doc_id = cd.doc_id AND cm.bench_id = cd.bench_id
           JOIN sizes sa ON sa.doc_id = cd.doc_id
           JOIN sizes sb ON sb.doc_id = cd.bench_id),
         per AS (
           SELECT doc_id, count(*) AS n_candidates,
                  sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS n_contaminated,
                  max({'jaccard': jaccard, 'tb': -bench_id, 'bench_id': bench_id}) AS w
           FROM verified GROUP BY 1)
         SELECT d.doc_id,
                CAST(COALESCE(p.n_candidates, 0) AS BIGINT) AS n_candidates,
                CAST(COALESCE(p.n_contaminated, 0) AS BIGINT) AS n_contaminated,
                p.w['bench_id'] AS worst_bench,
                p.w['jaccard'] AS worst_jaccard
         FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
         LEFT JOIN per p ON p.doc_id = d.doc_id""",
    // q51: per-position match lengths come from an equi-join of
    // position substrings against the (relationally rebuilt) vocab;
    // the sequential greedy walk is a recursive CTE stepping
    // pos -> pos + mlen(pos) (see tokenizerCtes for why NOT a
    // list_reduce fold: DuckDB's struct-acc lambda is flaky at
    // threads>1).
    "q51_tokenize" ->
      s"""WITH RECURSIVE $tokenizerCtes
         SELECT d.doc_id,
                CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(dc.nt, 0) END AS n_tokens,
                CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(dc.nf, 0) END AS n_fallback
         FROM documents d LEFT JOIN doc_counts dc ON dc.doc_id = d.doc_id""",
    // q47b: q47's packing arithmetic verbatim (index-212 hash, shard 8,
    // capacity 512) with n_tok = q51's tokenizer count
    "q47b_pack_tokenized" ->
      s"""WITH RECURSIVE $tokenizerCtes,
         base AS (
           SELECT t.doc_id,
             ((((CAST(1103515245 AS BIGINT)*425 + 12345) % 2147483648) *
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, length(k)+1),
                    i -> CAST(unicode(substring(k, CAST(i AS INT), 1)) AS BIGINT))),
                  (h, c) -> (h * 31 + c) % 1000000007))
               + ((CAST(1103515245 AS BIGINT)*426 + 12345) % 2147483648)) % 2147483647) AS h,
             dc.nt AS n_tok
           FROM (SELECT doc_id, concat('pack:', CAST(doc_id AS VARCHAR)) AS k
                 FROM documents) t
           JOIN doc_counts dc ON dc.doc_id = t.doc_id),
         offs AS (
           SELECT h % 8 AS shard, doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
           FROM base WHERE n_tok > 0),
         chunks AS (
           SELECT shard, doc_id, n_tok, off,
             unnest(generate_series(off // 512, (off + n_tok - 1) // 512)) AS chunk
           FROM offs)
         SELECT shard, chunk, doc_id,
                GREATEST(CAST(0 AS BIGINT), chunk*512 - off) AS tok_start,
                LEAST(n_tok, (chunk+1)*512 - off)
                  - GREATEST(CAST(0 AS BIGINT), chunk*512 - off) AS n_toks
         FROM chunks""",
    // q48b: q48's rate arithmetic verbatim with c = per-language TOKEN
    // totals (q51's doc_counts), admission hash at index 214
    "q48b_mixture_tokenized" ->
      s"""WITH RECURSIVE $tokenizerCtes,
         tok_counts AS (
           SELECT t.lang, t.t_myriad, COALESCE(g.c, 0) AS c
           FROM (VALUES ('de', 2000), ('en', 2000), ('es', 2000),
                        ('fr', 2000), ('zh', 2000)) t(lang, t_myriad)
           LEFT JOIN (SELECT d.lang, CAST(sum(dc.nt) AS BIGINT) AS c
                      FROM documents d JOIN doc_counts dc ON dc.doc_id = d.doc_id
                      GROUP BY d.lang) g USING (lang)),
         tok_feas AS (SELECT MIN(c * 10000 // t_myriad) AS t_total FROM tok_counts),
         tok_rates AS (
           SELECT lang, CASE WHEN c = 0 THEN CAST(0 AS BIGINT)
                        ELSE (t_total * t_myriad // 10000) * 10000 // c END AS rate_myriad
           FROM tok_counts, tok_feas)
         SELECT b.doc_id, b.lang, b.n_tokens, r.rate_myriad, b.bucket
         FROM (
           SELECT t.doc_id, t.lang, dc.nt AS n_tokens,
             ((((CAST(1103515245 AS BIGINT)*429 + 12345) % 2147483648) *
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, length(k)+1),
                    i -> CAST(unicode(substring(k, CAST(i AS INT), 1)) AS BIGINT))),
                  (h, c) -> (h * 31 + c) % 1000000007))
               + ((CAST(1103515245 AS BIGINT)*430 + 12345) % 2147483648)) % 2147483647) % 10000 AS bucket
           FROM (SELECT doc_id, lang, concat('mixtok:', CAST(doc_id AS VARCHAR)) AS k
                 FROM documents) t
           JOIN doc_counts dc ON dc.doc_id = t.doc_id) b
         JOIN tok_rates r USING (lang)
         WHERE b.bucket < r.rate_myriad""",
    // q52: fixed 8-word segments over q20's normalized form; a
    // segment content in >1 distinct doc is dropped from all docs;
    // string_agg skips NULLed (dropped) segments, ORDER BY seg_idx
    // reassembles. List slices clamp on both engines.
    "q52_segment_dedup" ->
      """WITH segs AS (
           SELECT doc_id, i AS seg_idx,
                  array_to_string(ws[i*8+1 : (i+1)*8], ' ') AS seg
           FROM (
             SELECT doc_id,
                    regexp_split_to_array(regexp_replace(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+', ' ', 'g'), ' ') AS ws,
                    unnest(generate_series(0,
                      CAST((len(regexp_split_to_array(regexp_replace(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+', ' ', 'g'), ' ')) - 1) // 8 AS INT))) AS i
             FROM documents
             WHERE text IS NOT NULL
               AND length(regexp_replace(text, '^\s+|\s+$', '', 'g')) > 0)),
         dups AS (
           SELECT md5(seg) AS h FROM segs
           GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
         per_doc AS (
           SELECT s.doc_id,
                  CAST(count(*) AS BIGINT) AS n_seg,
                  CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
                  coalesce(string_agg(CASE WHEN d.h IS NULL THEN s.seg END, ' ' ORDER BY s.seg_idx), '') AS ct
           FROM segs s LEFT JOIN dups d ON d.h = md5(s.seg)
           GROUP BY 1)
         SELECT doc.doc_id,
                CASE WHEN doc.text IS NULL THEN NULL ELSE coalesce(p.n_seg, 0) END AS n_segments,
                CASE WHEN doc.text IS NULL THEN NULL ELSE coalesce(p.n_dup, 0) END AS n_dup_segments,
                CASE WHEN doc.text IS NULL THEN NULL ELSE coalesce(p.ct, '') END AS clean_text
         FROM documents doc LEFT JOIN per_doc p ON p.doc_id = doc.doc_id""",
    // q54: triangle counting over the part co-purchase graph. The
    // oracle enumerates with the naive u<v orientation — per-vertex
    // counts are orientation-independent, so the Spark side's
    // degree-ordered compact-forward enumeration must land on the
    // same 2000/20000 rows exactly.
    "q54_triangle_count" ->
      """WITH pp AS (
           SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         tri AS (
           SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM pp e1 JOIN pp e2 ON e2.u = e1.v
           JOIN pp e3 ON e3.u = e1.u AND e3.v = e2.v),
         corners AS (
           SELECT a AS id FROM tri
           UNION ALL SELECT b AS id FROM tri
           UNION ALL SELECT c AS id FROM tri),
         cnt AS (SELECT id, count(*) AS c FROM corners GROUP BY id)
         SELECT p_partkey, CAST(coalesce(cnt.c, 0) AS BIGINT) AS n_tri
         FROM part LEFT JOIN cnt ON p_partkey = cnt.id""",
    // q55: the integer PageRank iteration unrolled textually (see
    // Graph.pageRankOracleSql) — same floor-division arithmetic, so
    // the distributed power iteration is hash-checked bit-for-bit
    // against a sequential replay.
    "q55_pagerank" -> graft.operators.Graph.pageRankOracleSql(),
    // q57: the synchronous LPA rounds unrolled textually (see
    // Graph.labelPropagationOracleSql) — same vote counts, same
    // (count DESC, label ASC) winner, so communities hash-match a
    // sequential replay of the identical recurrence
    "q57_communities" -> graft.operators.Graph.labelPropagationOracleSql(),
    // q56: the restore fold — newest (ts, event_id) per user_id, keys
    // whose winning row is an 'error' tombstone dropped. The oracle
    // replays it as a window rank (DuckDB has no two-column arg_max);
    // the Spark side is the max_by hash aggregate (Restore.scala).
    // epoch_us ordering, not raw ts: the Spark side orders by the
    // micros-truncated Tables.events ts, so if the parquet ever ships
    // nanos again, DuckDB must tie-break at the SAME granularity or
    // two rows colliding at micro- but not nano-second precision pick
    // different winners. Pinned empirically (r10): duckdb 1.0.0 reads
    // a parquet TIMESTAMP(NANOS) column as µs-TIMESTAMP by TRUNCATION
    // toward zero (-999001 ns → -999 µs) at SCAN time — so epoch_us
    // here sees exactly those truncated values, and Tables.events now
    // truncates identically (`ts DIV 1000`, SourcesSpec-pinned)
    // instead of flooring. IS DISTINCT FROM: a NULL last_type is not
    // a tombstone (matches `<=>` on the Spark side).
    "q56_restore_state" ->
      """SELECT user_id, last_event_id, last_ts, last_type, last_value
         FROM (SELECT user_id, event_id AS last_event_id,
                      strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
                      event_type AS last_type, value AS last_value,
                      row_number() OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 AND last_type IS DISTINCT FROM 'error'""",
    // q92: the same changelog as SCD2 validity intervals — change rows
    // only (IS DISTINCT FROM lag), lead() closes each interval; the
    // µs-epoch + event_id ordering is q56's tie-break verbatim
    "q92_scd2" ->
      """WITH ordered AS (
           SELECT user_id, event_id, ts, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS prev_type
           FROM events),
         changes AS (
           SELECT user_id, event_id, ts, event_type FROM ordered
           WHERE event_type IS DISTINCT FROM prev_type)
         SELECT user_id,
                CAST(row_number() OVER w AS BIGINT) AS version,
                event_type AS state,
                strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
                strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
                lead(ts) OVER w IS NULL AS is_current
         FROM changes
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""",
    // q91: the winnowing replay — per-gram poly hashes regrouped into
    // an ordered list, window minima with the rightmost tie rule
    // (len - list_position(reverse, min) arithmetic), consecutive-only
    // duplicate selections collapsed by list_distinct (window starts
    // only move right, so equal (hash,pos) packs are adjacent), then
    // the frequency-capped pair join
    "q91_winnow" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS tk
           FROM documents WHERE text IS NOT NULL),
         grams AS (
           SELECT doc_id, i,
                  array_to_string(tk[CAST(i AS INT) : CAST(i + 3 AS INT)], ' ') AS g
           FROM (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 3, 1) + 1)) AS i FROM toks)),
         gh AS (
           SELECT doc_id, i,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(g) + 1),
                      c -> CAST(unicode(substring(g, CAST(c AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS h
           FROM grams),
         hs AS (
           SELECT doc_id, list(h ORDER BY i) AS hl FROM gh GROUP BY doc_id),
         sels AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
                    range(1, greatest(len(hl) - 3, 1) + 1),
                    j -> list_min(hl[CAST(j AS INT) : CAST(j + 3 AS INT)]) * 2097152
                         + j + len(hl[CAST(j AS INT) : CAST(j + 3 AS INT)])
                         - list_position(list_reverse(hl[CAST(j AS INT) : CAST(j + 3 AS INT)]),
                                         list_min(hl[CAST(j AS INT) : CAST(j + 3 AS INT)]))))) AS packed
           FROM hs),
         fp AS (SELECT DISTINCT doc_id, packed // 2097152 AS h FROM sels),
         capped AS (SELECT h FROM fp GROUP BY h HAVING count(*) BETWEEN 2 AND 10)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         FROM fp a JOIN capped USING (h) JOIN fp b USING (h)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2""",
    // q93: the z-encode replay — the same min/max grid scale (integer
    // div) and the same 32 interleave terms, generated from ONE Scala
    // helper (Layout.interleaveSql) so Spark and the oracle cannot
    // drift
    "q93_zorder" ->
      s"""WITH stats AS (
           SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
                  min(l_suppkey) AS smin, max(l_suppkey) AS smax
           FROM lineitem),
         sc AS (
           SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
                  CASE WHEN s.pmax = s.pmin THEN 0
                       ELSE ((l.l_partkey - s.pmin) * 65535) // (s.pmax - s.pmin) END AS zx,
                  CASE WHEN s.smax = s.smin THEN 0
                       ELSE ((l.l_suppkey - s.smin) * 65535) // (s.smax - s.smin) END AS zy
           FROM lineitem l CROSS JOIN stats s),
         z AS (
           SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                  ${graft.operators.Layout.interleaveSql()} AS zval
           FROM sc)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                zval, zval // 67108864 AS zbucket
         FROM z""",
    // q93b: the Hilbert walk unrolled as 16 MATERIALIZED CTE levels
    // (each level reads the previous (x, y) several times — inlining
    // would grow 2^16-fold, the q67 lesson); grid scale shared with
    // the q93 oracle verbatim
    "q93b_hilbert" ->
      s"""WITH stats AS (
           SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
                  min(l_suppkey) AS smin, max(l_suppkey) AS smax
           FROM lineitem),
         h16 AS (
           SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
                  CAST(0 AS BIGINT) AS d,
                  CASE WHEN s.pmax = s.pmin THEN 0
                       ELSE ((l.l_partkey - s.pmin) * 65535) // (s.pmax - s.pmin) END AS x,
                  CASE WHEN s.smax = s.smin THEN 0
                       ELSE ((l.l_suppkey - s.smin) * 65535) // (s.smax - s.smin) END AS y
           FROM lineitem l CROSS JOIN stats s),
         ${(15 to 0 by -1).map(b =>
            s"h$b AS MATERIALIZED (${graft.operators.Layout.hilbertLevelSql(b)} FROM h${b + 1})")
            .mkString(",\n         ")}
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                d AS hval, d // 67108864 AS hbucket
         FROM h0""",
    "q95_pca_power" -> pcaOracle(3),
    // q96: the waterfill replay — q22's ws-token expression summed per
    // source, the same sorted-prefix cap rule (cumulative AND), the
    // same remainder distribution by (capacity, source) order
    "q96_unimax" ->
      """WITH src AS (
           SELECT source, CAST(coalesce(sum(
                    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
                         ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END), 0) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         st AS (
           SELECT source, n_tokens, n_tokens * 3 AS capacity,
                  CAST(row_number() OVER w AS BIGINT) AS i,
                  count(*) OVER () AS m,
                  (sum(n_tokens) OVER () * 3) // 2 AS b,
                  sum(n_tokens * 3) OVER w AS p
           FROM src WINDOW w AS (ORDER BY n_tokens * 3, source)),
         flg AS (
           SELECT *, CASE WHEN capacity <= (b - (p - capacity)) // (m - i + 1)
                          THEN 1 ELSE 0 END AS cond
           FROM st),
         cap AS (
           SELECT *, min(cond) OVER (ORDER BY capacity, source) = 1 AS capped FROM flg),
         lv AS (
           SELECT *,
                  m - sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS u,
                  b - sum(CASE WHEN capped THEN capacity ELSE 0 END) OVER () AS r,
                  sum(CASE WHEN capped THEN 0 ELSE 1 END)
                    OVER (ORDER BY capacity, source) AS urank
           FROM cap),
         fin AS (
           SELECT source, n_tokens, capacity,
                  CASE WHEN capped OR u = 0 THEN capacity
                       ELSE (r // u) + (CASE WHEN urank <= (r % u) THEN 1 ELSE 0 END)
                  END AS alloc
           FROM lv)
         SELECT source, n_tokens, CAST(capacity AS BIGINT) AS capacity,
                CAST(alloc AS BIGINT) AS alloc,
                CASE WHEN n_tokens = 0 THEN NULL
                     ELSE CAST((10000 * alloc) // n_tokens AS BIGINT) END AS epochs_myriad
         FROM fin""",
    // q97: group-size join replay; floor(double/1000) is IEEE-identical
    "q97_kanon" ->
      """WITH qi AS (
           SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nk, c_mktsegment AS seg,
                  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bb
           FROM customer),
         sz AS (SELECT nk, seg, bb, count(*) AS group_size FROM qi GROUP BY 1, 2, 3)
         SELECT c_custkey,
                CASE WHEN group_size >= 5 THEN nk END AS nationkey_k,
                CASE WHEN group_size >= 5 THEN seg END AS segment_k,
                CASE WHEN group_size >= 5 THEN bb END AS bal_bucket_k,
                CAST(group_size AS BIGINT) AS group_size,
                group_size < 5 AS suppressed
         FROM qi JOIN sz USING (nk, seg, bb)""",
    // q98: the seeded discrete-Laplace replay — poly hash of the group
    // key, universal-family draws at indices 240/241, geometric via
    // length(bin(u)) in both engines
    "q98_dp_counts" ->
      s"""WITH g AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
         h AS (SELECT source, lang, n,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, length('q98:0:' || source || ':' || lang) + 1),
                    i -> CAST(unicode(substring('q98:0:' || source || ':' || lang, CAST(i AS INT), 1)) AS BIGINT))),
                  (h, c) -> (h * 31 + c) % 1000000007) AS s
               FROM g),
         u AS (SELECT source, lang, n,
                (((${graft.functions.ReplayableHash.a(240)} * s + ${graft.functions.ReplayableHash.b(240)}) % 2147483647) % 65535) + 1 AS u1,
                (((${graft.functions.ReplayableHash.a(241)} * s + ${graft.functions.ReplayableHash.b(241)}) % 2147483647) % 65535) + 1 AS u2
               FROM h)
         SELECT source, lang,
                CAST(greatest(n + (16 - length(bin(u1))) - (16 - length(bin(u2))), 0) AS BIGINT) AS n_noised
         FROM u""",
    // q53: the whole curation chain as ONE CTE pipeline — q20's
    // canonical pick, q52's segment strip, q46's quality cutoffs +
    // gate (g_* CTEs, the sketch replay at k=1024/p5), q38's shingle
    // overlap, q58's redaction chain (pii1/pii2/red), q51's tokenizer
    // (trained on the CURATED+REDACTED corpus via tokenizerCtesOn),
    // q48b's rate solve + admission, q47's packing arithmetic — each
    // block verbatim from its stage's oracle, so the compare pins the
    // stage ORDER as well as the semantics.
    "q53_curate" ->
      q53OracleSql(q53LangMixSql),
    // q53b: the chain with the SOURCE-QUOTA knob ON (r13) — same CTE
    // pipeline, the per-language mixture block swapped for the q90
    // source-keyed rate solve + index-236 admission; the compare pins
    // the knob semantics inside the full stage order
    "q53b_curate_srcquota" ->
      q53OracleSql(q53SrcQuotaMixSql),
    // q53c: the chain with the url gate ON — the q105 pass CTE as
    // stage −1, every other CTE shared verbatim
    "q53c_curate_urlgate" ->
      q53OracleSql(q53LangMixSql, urlGate = true),
    // q99: the whole hybrid retrieval replayed — probe draw (poly
    // hash at index 250, bottom-8), probe-term tf·idf selection with
    // the recursive-CTE Q16 log2, multi-term BM25 candidate scoring,
    // integer squared-L2 over the quantized vectors, and the scaled
    // integer RRF fusion with (rrf DESC, doc_id ASC) top-10. Every
    // div truncates on positive operands; ranks are the only values
    // the two legs exchange.
    "q99_hybrid_rrf" ->
      s"""WITH RECURSIVE toks AS MATERIALIZED (
           SELECT doc_id, list_filter(
                    regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+'),
                    t -> length(t) > 0) AS toks
           FROM documents),
         qv AS MATERIALIZED (
           SELECT vec_id, list_transform(embedding,
             v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS q
           FROM embeddings),
         probes AS MATERIALIZED (
           SELECT qid, q FROM (
             SELECT t.doc_id AS qid, e.q,
                    ((${graft.functions.ReplayableHash.a(graft.operators.Hybrid.ProbeHashIdx)} *
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, length('q99:' || CAST(t.doc_id AS VARCHAR)) + 1),
                          i -> CAST(unicode(substring('q99:' || CAST(t.doc_id AS VARCHAR), CAST(i AS INT), 1)) AS BIGINT))),
                        (h, c) -> (h * 31 + c) % 1000000007)
                      + ${graft.functions.ReplayableHash.b(graft.operators.Hybrid.ProbeHashIdx)}) % 2147483647) AS h
             FROM toks t JOIN qv e ON e.vec_id = t.doc_id
             WHERE len(t.toks) > 0
             ORDER BY h, t.doc_id LIMIT 8)),
         tok AS (SELECT doc_id, unnest(toks) AS token FROM toks),
         tf AS MATERIALIZED (SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
         dl AS MATERIALIZED (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl
                             FROM toks WHERE toks IS NOT NULL),
         consts AS MATERIALIZED (
           SELECT (SELECT count(*) FROM documents) AS n,
                  greatest((SELECT count(*) FROM tok), 1) AS a),
         dfv AS MATERIALIZED (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         ptf AS MATERIALIZED (
           SELECT p.qid, tf.token, tf.tf, dfv.df
           FROM tf JOIN probes p ON tf.doc_id = p.qid JOIN dfv USING (token)),
         vals AS (
           SELECT DISTINCT x FROM (
             SELECT 2 * (SELECT n FROM consts) + 2 AS x
             UNION SELECT 2 * df + 1 AS x FROM ptf) u),
         s(x, z, r, i) AS (
           SELECT x, (x * 65536) // (1::BIGINT << (length(bin(x)) - 1)),
                  CAST(length(bin(x)) - 1 AS BIGINT) * 65536, 0
           FROM vals
           UNION ALL
           SELECT x,
                  CASE WHEN (z*z) // 65536 >= 131072
                       THEN ((z*z) // 65536) // 2 ELSE (z*z) // 65536 END,
                  CASE WHEN (z*z) // 65536 >= 131072
                       THEN r + (1::BIGINT << (16 - (i + 1))) ELSE r END,
                  i + 1
           FROM s WHERE i < 16),
         il AS MATERIALIZED (SELECT x, r FROM s WHERE i = 16),
         qterms AS MATERIALIZED (
           SELECT qid, token, idf_q16 FROM (
             SELECT p.qid, p.token, iln.r - ild.r AS idf_q16,
                    row_number() OVER (PARTITION BY p.qid
                      ORDER BY p.tf * (iln.r - ild.r) DESC, p.token ASC) AS rn
             FROM ptf p
             JOIN il iln ON iln.x = 2 * (SELECT n FROM consts) + 2
             JOIN il ild ON ild.x = 2 * p.df + 1) z WHERE rn <= 8),
         lexsc AS MATERIALIZED (
           SELECT q.qid, tf.doc_id,
                  sum((q.idf_q16 * tf.tf * 22000) //
                      (tf.tf * 10000 + 3000 +
                       (dl.dl * 9000 * (SELECT n FROM consts)) // (SELECT a FROM consts))) AS score
           FROM tf JOIN qterms q USING (token) JOIN dl USING (doc_id)
           WHERE tf.doc_id <> q.qid
           GROUP BY 1, 2),
         lexrk AS MATERIALIZED (
           SELECT qid, doc_id, CAST(lex_rank AS BIGINT) AS lex_rank FROM (
             SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
               ORDER BY score DESC, doc_id ASC) AS lex_rank FROM lexsc) z
           WHERE lex_rank <= 20),
         semd AS MATERIALIZED (
           SELECT p.qid, v.vec_id AS doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, len(v.q) + 1),
                      i -> (v.q[CAST(i AS INT)] - p.q[CAST(i AS INT)])
                         * (v.q[CAST(i AS INT)] - p.q[CAST(i AS INT)]))),
                    (acc, x) -> acc + x) AS d2
           FROM qv v CROSS JOIN probes p
           WHERE v.vec_id <> p.qid),
         semrk AS MATERIALIZED (
           SELECT qid, doc_id, CAST(sem_rank AS BIGINT) AS sem_rank FROM (
             SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
               ORDER BY d2 ASC, doc_id ASC) AS sem_rank FROM semd) z
           WHERE sem_rank <= 20),
         fused AS MATERIALIZED (
           SELECT coalesce(l.qid, s2.qid) AS qid,
                  coalesce(l.doc_id, s2.doc_id) AS doc_id,
                  coalesce(1000000 // (60 + l.lex_rank), 0)
                + coalesce(1000000 // (60 + s2.sem_rank), 0) AS rrf_e6,
                  l.lex_rank, s2.sem_rank
           FROM lexrk l
           FULL OUTER JOIN semrk s2
             ON l.qid = s2.qid AND l.doc_id = s2.doc_id)
         SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank, doc_id,
                CAST(rrf_e6 AS BIGINT) AS rrf_e6, lex_rank, sem_rank
         FROM (SELECT *, row_number() OVER (PARTITION BY qid
                 ORDER BY rrf_e6 DESC, doc_id ASC) AS rank FROM fused) f
         WHERE rank <= 10""",
    // q100: the PSI drift report replayed — feature synthesis, union
    // bucket grid, add-one e8 shares with the greatest-clamp, the
    // recursive-CTE Q16 log2 over the bucket-sized share set, and the
    // (p−q)·ΔL contribution. All divs truncate on positive operands.
    "q100_drift_psi" -> q100DriftOracleSql,
    // q100b: the alert — the q100 report re-aggregated per feature and
    // compared against the PINNED e8·Q16 threshold literals
    // (Drift.PsiMinorE8Q16 / PsiMajorE8Q16 — the same integers on both
    // sides, so no libm conversion ever enters)
    "q100b_drift_alert" ->
      s"""WITH report AS ($q100DriftOracleSql)
         SELECT feature, CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(sum(psi_contrib) AS BIGINT) AS psi_e8q16,
                CASE WHEN sum(psi_contrib) < ${graft.operators.Drift.PsiMinorE8Q16}
                     THEN 'stable'
                     WHEN sum(psi_contrib) < ${graft.operators.Drift.PsiMajorE8Q16}
                     THEN 'minor_shift'
                     ELSE 'major_shift' END AS level
         FROM report GROUP BY 1""",
    // q101/q101b: the whole unigram-LM trainer unrolled — seeding,
    // three recursive Viterbi DP+backwalk passes, Q16 log costs via
    // the q61 shift-and-square replay, composition-enumerated prune
    // losses (generated CTE program, Unigram.scala)
    "q101_unigram_train" -> graft.operators.Unigram.unigramTrainOracleSql(),
    "q101b_unigram_encode" -> graft.operators.Unigram.unigramEncodeOracleSql(),
    // q102: the RAG chain oracle — normalize → q85 chunk → passage
    // index → BM25 per passage → per-doc best passage → RRF (generated
    // CTE program, Rag.scala)
    "q102_rag_search" -> graft.operators.Rag.ragSearchOracleSql(),
    // q103: the incremental chain — the v1 leg re-derived through the
    // SHARED chainCtes/tokenizer/rate builders, its digests projected,
    // the delta chain applying the incremental rules, frozen admission,
    // and the shared pack tail
    "q103_curate_incremental" -> q103OracleSql,
    // q103b produces q103's output from the loaded artifact — same
    // oracle, the strongest same-semantics-different-physical statement
    "q103b_curate_frozen" -> q103OracleSql,
    // q103c: the month-3 program — month-2 incremental chain, the
    // advance fold as digest-union CTEs, month-3 chain against them
    "q103c_curate_advance" -> q103cOracleSql,
  )


  /** The q100 oracle body, shared verbatim by the q100 entry and the
    * q100b alert wrapper so report and alert cannot drift.
    */
  private val q100DriftOracleSql: String =
      """WITH RECURSIVE oldsnap AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
         newsnap AS (SELECT * FROM documents WHERE doc_id % 2 <> 0),
         f1 AS (
           SELECT 'lang' AS feature, coalesce(lang, '<null>') AS bucket FROM oldsnap
           UNION ALL
           SELECT 'source', coalesce(source, '<null>') FROM oldsnap
           UNION ALL
           SELECT 'len', CASE WHEN n_chars IS NULL THEN '<null>'
                              ELSE CAST(least(n_chars // 256, 15) AS VARCHAR) END
           FROM oldsnap),
         f2 AS (
           SELECT 'lang' AS feature, coalesce(lang, '<null>') AS bucket FROM newsnap
           UNION ALL
           SELECT 'source', coalesce(source, '<null>') FROM newsnap
           UNION ALL
           SELECT 'len', CASE WHEN n_chars IS NULL THEN '<null>'
                              ELSE CAST(least(n_chars // 256, 15) AS VARCHAR) END
           FROM newsnap),
         c1 AS (SELECT feature, bucket, count(*) AS n1 FROM f1 GROUP BY 1, 2),
         c2 AS (SELECT feature, bucket, count(*) AS n2 FROM f2 GROUP BY 1, 2),
         grid AS MATERIALIZED (
           SELECT coalesce(c1.feature, c2.feature) AS feature,
                  coalesce(c1.bucket, c2.bucket) AS bucket,
                  coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2
           FROM c1 FULL OUTER JOIN c2
             ON c1.feature = c2.feature AND c1.bucket = c2.bucket),
         tot AS (SELECT feature, sum(n1) AS t1, sum(n2) AS t2,
                        count(*) AS nb
                 FROM grid GROUP BY 1),
         sh AS MATERIALIZED (
           SELECT g.feature, g.bucket, g.n1, g.n2,
                  greatest(((g.n1 + 1) * 100000000) // (t.t1 + t.nb), 1) AS p_e8,
                  greatest(((g.n2 + 1) * 100000000) // (t.t2 + t.nb), 1) AS q_e8
           FROM grid g JOIN tot t USING (feature)),
         vals AS (
           SELECT DISTINCT x FROM (
             SELECT p_e8 AS x FROM sh UNION SELECT q_e8 AS x FROM sh) u),
         s(x, z, r, i) AS (
           SELECT x, (x * 65536) // (1::BIGINT << (length(bin(x)) - 1)),
                  CAST(length(bin(x)) - 1 AS BIGINT) * 65536, 0
           FROM vals
           UNION ALL
           SELECT x,
                  CASE WHEN (z*z) // 65536 >= 131072
                       THEN ((z*z) // 65536) // 2 ELSE (z*z) // 65536 END,
                  CASE WHEN (z*z) // 65536 >= 131072
                       THEN r + (1::BIGINT << (16 - (i + 1))) ELSE r END,
                  i + 1
           FROM s WHERE i < 16),
         il AS MATERIALIZED (SELECT x, r FROM s WHERE i = 16)
         SELECT sh.feature, sh.bucket,
                CAST(sh.n1 AS BIGINT) AS n1, CAST(sh.n2 AS BIGINT) AS n2,
                CAST(sh.p_e8 AS BIGINT) AS p_e8, CAST(sh.q_e8 AS BIGINT) AS q_e8,
                CAST((sh.p_e8 - sh.q_e8) * (ilp.r - ilq.r) AS BIGINT) AS psi_contrib
         FROM sh
         JOIN il ilp ON ilp.x = sh.p_e8
         JOIN il ilq ON ilq.x = sh.q_e8"""

  /** The q53 chain oracle with the final mixture stage as a parameter
    * — ONE definition of stages 0..6b + tokenizer + packing shared by
    * the language-mixture (q48b) and source-quota (q90) registered
    * configs, so the two entries cannot drift anywhere except the
    * mixture block they differ in.
    */
  /** The q53/q103 STAGE-CHAIN CTE builder (r14): stages 0..6b —
    * normalize, rule battery, exact dedup, segment strip, substring
    * cut, quality cutoffs + gate, decontamination (against the SHARED
    * unprefixed `p_bsh` benchmark-shingle CTE the caller emits),
    * redaction, memorization gate — with every CTE name prefixed by
    * `p` and the corpus predicate parameterized, so q53 (prefix ""),
    * q53b, and q103's v1 leg share ONE definition and cannot drift.
    */
  private def chainCtes(p: String, corpusPred: String): String =
    s"""${p}corpus0 AS (SELECT doc_id, lang,
             regexp_replace(regexp_replace(regexp_replace(nfc_normalize(text),
               '[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}-\\x{009F}\\x{200B}-\\x{200D}\\x{FEFF}]', '', 'g'),
               '^\\s+|\\s+$$', '', 'g'), '\\s+', ' ', 'g') AS text
           FROM documents WHERE $corpusPred),
         ${graft.operators.QualityRules.gopherFilterCtes(s"${p}corpus0", p)},
         ${p}canon AS (
           SELECT c.doc_id, c.lang, c.text FROM ${p}ruled c
           JOIN (SELECT min(doc_id) AS k FROM ${p}ruled
                 GROUP BY md5(regexp_replace(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+', ' ', 'g'))) g
             ON g.k = c.doc_id),
         ${p}p_segs AS (
           SELECT doc_id, i AS seg_idx,
                  array_to_string(ws[i*8+1 : (i+1)*8], ' ') AS seg
           FROM (
             SELECT doc_id,
                    regexp_split_to_array(regexp_replace(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+', ' ', 'g'), ' ') AS ws,
                    unnest(generate_series(0,
                      CAST((len(regexp_split_to_array(regexp_replace(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+', ' ', 'g'), ' ')) - 1) // 8 AS INT))) AS i
             FROM ${p}canon
             WHERE text IS NOT NULL
               AND length(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) > 0)),
         ${p}p_dups AS (
           SELECT md5(seg) AS h FROM ${p}p_segs
           GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
         ${p}p_per AS (
           SELECT s.doc_id,
                  coalesce(string_agg(CASE WHEN d.h IS NULL THEN s.seg END, ' ' ORDER BY s.seg_idx), '') AS ct
           FROM ${p}p_segs s LEFT JOIN ${p}p_dups d ON d.h = md5(s.seg)
           GROUP BY 1),
         ${p}cleaned AS (
           SELECT c.doc_id, c.lang,
                  CASE WHEN c.text IS NULL THEN NULL ELSE coalesce(p.ct, '') END AS text
           FROM ${p}canon c LEFT JOIN ${p}p_per p USING (doc_id)),
         ${p}x_toks AS (
           SELECT doc_id, list_filter(
                    regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+'),
                    t -> length(t) > 0) AS toks
           FROM ${p}cleaned),
         ${p}x_w AS (
           SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+5], ' ')) AS h
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 4)) AS i
                 FROM ${p}x_toks WHERE len(toks) >= 6) xq),
         ${p}x_m AS (
           SELECT doc_id, pos,
                  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
                  count(*) OVER (PARTITION BY h) AS c
           FROM ${p}x_w),
         ${p}x_starts AS (
           SELECT doc_id, list_sort(list(pos)) AS st
           FROM ${p}x_m WHERE rn > 1 AND c >= 2 GROUP BY 1),
         ${p}x_fin AS (
           SELECT t.doc_id, t.toks, coalesce(s.st, []) AS st
           FROM ${p}x_toks t LEFT JOIN ${p}x_starts s USING (doc_id)),
         ${p}x_cut AS (
           SELECT doc_id,
                  list_filter(toks,
                    (tk, i) -> len(list_filter(st, p -> i >= p AND i < p + 6)) = 0) AS kept
           FROM ${p}x_fin),
         ${p}subclean AS (
           SELECT c.doc_id, c.lang,
                  CASE WHEN c.text IS NULL THEN NULL
                       ELSE coalesce(array_to_string(x.kept, ' '), '') END AS text
           FROM ${p}cleaned c LEFT JOIN ${p}x_cut x USING (doc_id)),
         ${p}g_scored AS (
           SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
                  length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    / CAST(nullif(length(text), 0) AS DOUBLE) AS alpha_ratio
           FROM ${p}subclean),
         ${p}g_hash AS (
           SELECT doc_id, n_chars, alpha_ratio,
                  ((((CAST(1103515245 AS BIGINT)*421 + 12345) % 2147483648) * s
                    + ((CAST(1103515245 AS BIGINT)*422 + 12345) % 2147483648)) % 2147483647)
                  * 2147483647
                  + ((((CAST(1103515245 AS BIGINT)*423 + 12345) % 2147483648) * s
                      + ((CAST(1103515245 AS BIGINT)*424 + 12345) % 2147483648)) % 2147483647) AS h
           FROM (SELECT doc_id, n_chars, alpha_ratio,
                        list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(range(1, length(kk)+1),
                            i -> CAST(unicode(substring(kk, CAST(i AS INT), 1)) AS BIGINT))),
                          (h, c) -> (h * 31 + c) % 1000000007) AS s
                 FROM (SELECT doc_id, n_chars, alpha_ratio,
                              concat('q46:', CAST(doc_id AS VARCHAR)) AS kk
                       FROM ${p}g_scored) t0) t1),
         ${p}g_lcut AS (
           SELECT list(v ORDER BY v)[CAST(5 * (count(*) - 1) // 100 AS INT) + 1] AS c
           FROM (SELECT CAST(n_chars AS DOUBLE) AS v FROM ${p}g_hash
                 WHERE n_chars IS NOT NULL
                 ORDER BY h, CAST(n_chars AS DOUBLE) LIMIT 1024)),
         ${p}g_acut AS (
           SELECT list(v ORDER BY v)[CAST(5 * (count(*) - 1) // 100 AS INT) + 1] AS c
           FROM (SELECT alpha_ratio AS v FROM ${p}g_hash
                 WHERE alpha_ratio IS NOT NULL
                 ORDER BY h, alpha_ratio LIMIT 1024)),
         ${p}gated AS (
           SELECT c.doc_id, c.lang, c.text
           FROM ${p}subclean c JOIN ${p}g_scored gs USING (doc_id), ${p}g_lcut, ${p}g_acut
           WHERE (${p}g_lcut.c IS NULL OR gs.n_chars >= ${p}g_lcut.c)
             AND (${p}g_acut.c IS NULL OR gs.alpha_ratio >= ${p}g_acut.c)),
         ${p}p_ctoks AS (
           SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS toks
           FROM ${p}gated),
         ${p}p_csh AS (
           SELECT DISTINCT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(sh)+1),
                      i -> CAST(unicode(substring(sh, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 3, 1) + 1),
                   i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 3 AS INT)), ' ')))) AS sh
                 FROM ${p}p_ctoks) x),
         ${p}p_ov AS (
           SELECT doc_id, count(*) AS n_ov
           FROM ${p}p_csh JOIN p_bsh USING (s) GROUP BY 1),
         ${p}decon AS (
           SELECT c.doc_id, c.lang, c.text FROM ${p}gated c
           LEFT JOIN ${p}p_ov USING (doc_id)
           WHERE COALESCE(${p}p_ov.n_ov, 0) = 0),
         ${p}pii1 AS (SELECT doc_id, lang,
                    regexp_replace(text, '${graft.operators.TextOps.EmailRe}', '<EMAIL>', 'g') AS t
                  FROM ${p}decon),
         ${p}pii2 AS (SELECT doc_id, lang,
                    regexp_replace(t, '${graft.operators.TextOps.Ipv4Re}', '<IP>', 'g') AS t
                  FROM ${p}pii1),
         ${p}red AS MATERIALIZED (SELECT doc_id, lang,
                   regexp_replace(t, '${graft.operators.TextOps.PhoneRe}', '<PHONE>', 'g') AS text
                 FROM ${p}pii2),
         ${p}m_sh AS MATERIALIZED (
           SELECT DISTINCT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(g)+1),
                      i -> CAST(unicode(substring(g, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 3, 1) + 1),
                   i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 3 AS INT)), ' ')))) AS g
                 FROM (SELECT doc_id,
                         regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS toks
                       FROM ${p}red WHERE text IS NOT NULL) t) x),
         ${p}m_df AS (SELECT s FROM ${p}m_sh GROUP BY s HAVING count(*) > 1),
         ${p}m_dup AS (SELECT doc_id, count(*) AS n_dup FROM ${p}m_sh JOIN ${p}m_df USING (s) GROUP BY 1),
         ${p}m_sz AS (SELECT doc_id, count(*) AS n_shingles FROM ${p}m_sh GROUP BY 1),
         ${p}mem AS MATERIALIZED (
           SELECT r.doc_id, r.lang, r.text
           FROM ${p}red r LEFT JOIN ${p}m_sz USING (doc_id) LEFT JOIN ${p}m_dup USING (doc_id)
           WHERE COALESCE(${p}m_dup.n_dup, 0) * 10000
                 <= 2000 * COALESCE(${p}m_sz.n_shingles, 0))"""

  /** The shared benchmark-side CTEs (bench0 / p_btoks / p_bsh) every
    * chain instance decontaminates against.
    */
  private def benchCtes: String =
    s"""bench0 AS (SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(nfc_normalize(text),
               '[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}-\\x{009F}\\x{200B}-\\x{200D}\\x{FEFF}]', '', 'g'),
               '^\\s+|\\s+$$', '', 'g'), '\\s+', ' ', 'g') AS text
           FROM documents WHERE doc_id % 97 = 0),
         p_btoks AS (
           SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS toks
           FROM bench0),
         p_bsh AS (
           SELECT DISTINCT
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(sh)+1),
                      i -> CAST(unicode(substring(sh, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 3, 1) + 1),
                   i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 3 AS INT)), ' ')))) AS sh
                 FROM p_btoks) x)"""

  private def q53OracleSql(mixBlock: String, urlGate: Boolean = false): String = {
    // stage −1 (q53c): the q105 planted-url PASS set emitted first so
    // the corpus predicate can reference it — every other CTE is
    // shared verbatim with q53/q53b (the mixBlock precedent)
    val (ugCte, corpusPred) =
      if (!urlGate) ("", "doc_id % 97 <> 0")
      else (graft.operators.UrlFilter.passCteSql("ug_pass") + ",\n         ",
        "doc_id % 97 <> 0 AND doc_id IN (SELECT doc_id FROM ug_pass)")
    s"""WITH RECURSIVE
         $ugCte${benchCtes},
         ${chainCtes("", corpusPred)},
         ${tokenizerCtesOn("mem")},
         $mixBlock
${packTail}"""
  }
  /** q47's packing arithmetic over the `admitted` CTE — shared by the
    * q53/q53b/q103 chain oracles.
    */
  private def packTail: String =
    s"""p_base AS (
           SELECT t.doc_id,
             ((((CAST(1103515245 AS BIGINT)*425 + 12345) % 2147483648) *
               (list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, length(k)+1),
                    i -> CAST(unicode(substring(k, CAST(i AS INT), 1)) AS BIGINT))),
                  (h, c) -> (h * 31 + c) % 1000000007))
               + ((CAST(1103515245 AS BIGINT)*426 + 12345) % 2147483648)) % 2147483647) AS h,
             t.n_tok
           FROM (SELECT doc_id, n_tok, concat('pack:', CAST(doc_id AS VARCHAR)) AS k
                 FROM admitted) t),
         p_offs AS (
           SELECT h % 8 AS shard, doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
           FROM p_base WHERE n_tok > 0),
         p_chunks AS (
           SELECT shard, doc_id, n_tok, off,
             unnest(generate_series(off // 512, (off + n_tok - 1) // 512)) AS chunk
           FROM p_offs)
         SELECT shard, chunk, doc_id,
                GREATEST(CAST(0 AS BIGINT), chunk*512 - off) AS tok_start,
                LEAST(n_tok, (chunk+1)*512 - off)
                  - GREATEST(CAST(0 AS BIGINT), chunk*512 - off) AS n_toks
         FROM p_chunks"""


  /** The q48b rate-solve CTEs, parameterized (r14, for q103's frozen
    * v1 rates): token masses from `memCte` joined to `dcCte` counts.
    */
  private def langRatesCtes(memCte: String, dcCte: String, pfx: String): String =
    s"""${pfx}tok_counts AS (
           SELECT t.lang, t.t_myriad, COALESCE(g.c, 0) AS c
           FROM (VALUES ('de', 2000), ('en', 2000), ('es', 2000),
                        ('fr', 2000), ('zh', 2000)) t(lang, t_myriad)
           LEFT JOIN (SELECT d.lang, CAST(sum(dc.nt) AS BIGINT) AS c
                      FROM $memCte d JOIN $dcCte dc ON dc.doc_id = d.doc_id
                      GROUP BY d.lang) g USING (lang)),
         ${pfx}tok_feas AS (SELECT MIN(c * 10000 // t_myriad) AS t_total FROM ${pfx}tok_counts),
         ${pfx}tok_rates AS (
           SELECT lang, CASE WHEN c = 0 THEN CAST(0 AS BIGINT)
                        ELSE (t_total * t_myriad // 10000) * 10000 // c END AS rate_myriad
           FROM ${pfx}tok_counts, ${pfx}tok_feas)"""

  /** The index-214 'mixtok:' admission CTE, parameterized over the doc
    * source, its token counts, and the rate table (q53: all own-corpus;
    * q103: delta docs + delta counts under v1's rates).
    */
  private def langAdmitCte(memCte: String, dcCte: String, ratesCte: String): String =
    s"""admitted AS (
           SELECT b.doc_id, b.n_tok
           FROM (
             SELECT t.doc_id, t.lang, dc.nt AS n_tok,
               ((((CAST(1103515245 AS BIGINT)*429 + 12345) % 2147483648) *
                 (list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(k)+1),
                      i -> CAST(unicode(substring(k, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007))
                 + ((CAST(1103515245 AS BIGINT)*430 + 12345) % 2147483648)) % 2147483647) % 10000 AS bucket
             FROM (SELECT doc_id, lang, concat('mixtok:', CAST(doc_id AS VARCHAR)) AS k
                   FROM $memCte) t
             JOIN $dcCte dc ON dc.doc_id = t.doc_id) b
           JOIN $ratesCte r USING (lang)
           WHERE b.bucket < r.rate_myriad)"""

  /** The q103 oracle: the v1 chain re-derived via the SHARED
    * chainCtes/tokenizer/rate builders (prefixes v1_/v1t_), its frozen
    * artifacts projected as digest CTEs, then the DELTA chain with the
    * incremental rules — v1 digests drop exact dups, v1 segments and
    * windows count as prior duplication, v1 shingles feed the
    * memorization ratio, v1 cutoffs gate, v1 vocab tokenizes, v1 rates
    * admit — and the q47 pack tail over the delta alone.
    */
  private def q103OracleSql: String =
    s"""WITH RECURSIVE
         ${benchCtes},
         ${chainCtes("v1_", "doc_id % 97 <> 0 AND doc_id % 7 <> 0")},
         ${stateDigestCtes("v1_", "v1_")},
         ${tokenizerCtesOn("v1_mem", "v1t_")},
         ${langRatesCtes("v1_mem", "v1t_doc_counts", "v1_")},
         ${deltaChainCtes("d_", "doc_id % 97 <> 0 AND doc_id % 7 = 0", "v1_")},
         ${tokenizerCtesOn("d_mem", "dt_", vocabFrom = "v1t_vocab")},
         ${langAdmitCte("d_mem", "dt_doc_counts", "v1_tok_rates")},
         ${packTail}"""

  /** The q103c oracle: the q103 program one increment further — v1
    * chain + digests, MONTH-2 incremental chain (prefix e_) against
    * the v1 digests, the ADVANCE fold (s2_ digests = v1 ∪ month-2's
    * ruled digests / canon segments / cleaned windows / redacted
    * shingles — UNION ALL + outer DISTINCT per the §4 DuckDB rule),
    * then the MONTH-3 incremental chain (prefix f_) against the
    * ADVANCED digests, with the release's frozen v1 cutoffs, vocab,
    * and rates gating/admitting as at every increment.
    */
  private def q103cOracleSql: String =
    s"""WITH RECURSIVE
         ${benchCtes},
         ${chainCtes("v1_", "doc_id % 97 <> 0 AND doc_id % 7 <> 0")},
         ${stateDigestCtes("v1_", "v1_")},
         ${tokenizerCtesOn("v1_mem", "v1t_")},
         ${langRatesCtes("v1_mem", "v1t_doc_counts", "v1_")},
         ${deltaChainCtes("e_", "doc_id % 97 <> 0 AND doc_id % 14 = 0", "v1_")},
         s2_canon_dig AS MATERIALIZED (
           SELECT DISTINCT h FROM (
             SELECT h FROM v1_canon_dig UNION ALL SELECT h FROM e_dig) u),
         s2_seg_dig AS MATERIALIZED (
           SELECT DISTINCT h FROM (
             SELECT h FROM v1_seg_dig UNION ALL SELECT md5(seg) AS h FROM e_segs) u),
         s2_win_dig AS MATERIALIZED (
           SELECT DISTINCT h FROM (
             SELECT h FROM v1_win_dig UNION ALL SELECT h FROM e_x_w) u),
         s2_shingle AS MATERIALIZED (
           SELECT DISTINCT s FROM (
             SELECT s FROM v1_shingle UNION ALL SELECT s FROM e_m_sh) u),
         ${deltaChainCtes("f_", "doc_id % 97 <> 0 AND doc_id % 14 = 7", "s2_")},
         ${tokenizerCtesOn("f_mem", "ft_", vocabFrom = "v1t_vocab")},
         ${langAdmitCte("f_mem", "ft_doc_counts", "v1_tok_rates")},
         ${packTail}"""

  /** The frozen-state digest projections of a FULL chain's
    * intermediates (prefix `src`), emitted under prefix `dig` — the
    * curate_state tables as CTEs. Shared by q103 (v1 digests) and
    * q103c's advance fold.
    */
  private def stateDigestCtes(src: String, dig: String): String =
    s"""${dig}canon_dig AS MATERIALIZED (
           SELECT DISTINCT md5(regexp_replace(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+', ' ', 'g')) AS h
           FROM ${src}ruled),
         ${dig}seg_dig AS MATERIALIZED (SELECT DISTINCT md5(seg) AS h FROM ${src}p_segs),
         ${dig}win_dig AS MATERIALIZED (SELECT DISTINCT h FROM ${src}x_w),
         ${dig}shingle AS MATERIALIZED (SELECT DISTINCT s FROM ${src}m_sh)"""

  /** The INCREMENTAL stage-0..6b chain over one delta cohort (r16,
    * extracted verbatim from the q103 oracle): prefix `p` names this
    * cohort's CTEs, `corpusPred` selects it, and `dig` names the
    * frozen digest family it curates against (`{dig}canon_dig` /
    * `{dig}seg_dig` / `{dig}win_dig` / `{dig}shingle`). Quality
    * cutoffs and the benchmark set stay the RELEASE's frozen v1_/p_bsh
    * CTEs at every increment (the q103 contract). Emits `${"$"}{p}mem`
    * plus the intermediates ([[stateDigestCtes]]-compatible names:
    * `${"$"}{p}dig` ruled digests, `${"$"}{p}segs`, `${"$"}{p}x_w`,
    * `${"$"}{p}m_sh`) so q103c's advance CTEs can fold them.
    */
  private def deltaChainCtes(p: String, corpusPred: String, dig: String): String =
    s"""${p}corpus0 AS (SELECT doc_id, lang,
             regexp_replace(regexp_replace(regexp_replace(nfc_normalize(text),
               '[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}-\\x{009F}\\x{200B}-\\x{200D}\\x{FEFF}]', '', 'g'),
               '^\\s+|\\s+$$', '', 'g'), '\\s+', ' ', 'g') AS text
           FROM documents WHERE $corpusPred),
         ${graft.operators.QualityRules.gopherFilterCtes(s"${p}corpus0", p)},
         ${p}dig AS (
           SELECT doc_id, lang, text,
                  md5(regexp_replace(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+', ' ', 'g')) AS h
           FROM ${p}ruled),
         ${p}new AS (
           SELECT d.doc_id, d.lang, d.text, d.h FROM ${p}dig d
           LEFT JOIN ${dig}canon_dig v ON v.h = d.h WHERE v.h IS NULL),
         ${p}canon AS (
           SELECT c.doc_id, c.lang, c.text FROM ${p}new c
           JOIN (SELECT min(doc_id) AS k FROM ${p}new GROUP BY h) g ON g.k = c.doc_id),
         ${p}segs AS (
           SELECT doc_id, i AS seg_idx,
                  array_to_string(ws[i*8+1 : (i+1)*8], ' ') AS seg
           FROM (
             SELECT doc_id,
                    regexp_split_to_array(regexp_replace(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+', ' ', 'g'), ' ') AS ws,
                    unnest(generate_series(0,
                      CAST((len(regexp_split_to_array(regexp_replace(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+', ' ', 'g'), ' ')) - 1) // 8 AS INT))) AS i
             FROM ${p}canon
             WHERE text IS NOT NULL
               AND length(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) > 0)),
         ${p}dupseg AS (
           SELECT DISTINCT h FROM (
             SELECT md5(seg) AS h FROM ${p}segs
             GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
             UNION ALL
             SELECT h FROM ${dig}seg_dig) dsu),
         ${p}per AS (
           SELECT s.doc_id,
                  coalesce(string_agg(CASE WHEN d.h IS NULL THEN s.seg END, ' ' ORDER BY s.seg_idx), '') AS ct
           FROM ${p}segs s LEFT JOIN ${p}dupseg d ON d.h = md5(s.seg)
           GROUP BY 1),
         ${p}cleaned AS (
           SELECT c.doc_id, c.lang,
                  CASE WHEN c.text IS NULL THEN NULL ELSE coalesce(p.ct, '') END AS text
           FROM ${p}canon c LEFT JOIN ${p}per p USING (doc_id)),
         ${p}x_toks AS (
           SELECT doc_id, list_filter(
                    regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+'),
                    t -> length(t) > 0) AS toks
           FROM ${p}cleaned),
         ${p}x_w AS (
           SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+5], ' ')) AS h
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 4)) AS i
                 FROM ${p}x_toks WHERE len(toks) >= 6) xq),
         ${p}x_m AS (
           SELECT doc_id, pos, h,
                  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
                  count(*) OVER (PARTITION BY h) AS c
           FROM ${p}x_w),
         ${p}x_starts AS (
           SELECT doc_id, list_sort(list(pos)) AS st FROM (
             SELECT DISTINCT doc_id, pos FROM (
               SELECT doc_id, pos FROM ${p}x_m WHERE rn > 1 AND c >= 2
               UNION ALL
               SELECT m.doc_id, m.pos FROM ${p}x_m m JOIN ${dig}win_dig v ON v.h = m.h) u) t
           GROUP BY 1),
         ${p}x_fin AS (
           SELECT t.doc_id, t.toks, coalesce(s.st, []) AS st
           FROM ${p}x_toks t LEFT JOIN ${p}x_starts s USING (doc_id)),
         ${p}x_cut AS (
           SELECT doc_id,
                  list_filter(toks,
                    (tk, i) -> len(list_filter(st, p -> i >= p AND i < p + 6)) = 0) AS kept
           FROM ${p}x_fin),
         ${p}subclean AS (
           SELECT c.doc_id, c.lang,
                  CASE WHEN c.text IS NULL THEN NULL
                       ELSE coalesce(array_to_string(x.kept, ' '), '') END AS text
           FROM ${p}cleaned c LEFT JOIN ${p}x_cut x USING (doc_id)),
         ${p}g_scored AS (
           SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
                  length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    / CAST(nullif(length(text), 0) AS DOUBLE) AS alpha_ratio
           FROM ${p}subclean),
         ${p}gated AS (
           SELECT c.doc_id, c.lang, c.text
           FROM ${p}subclean c JOIN ${p}g_scored gs USING (doc_id), v1_g_lcut, v1_g_acut
           WHERE (v1_g_lcut.c IS NULL OR gs.n_chars >= v1_g_lcut.c)
             AND (v1_g_acut.c IS NULL OR gs.alpha_ratio >= v1_g_acut.c)),
         ${p}p_ctoks AS (
           SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS toks
           FROM ${p}gated),
         ${p}p_csh AS (
           SELECT DISTINCT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(sh)+1),
                      i -> CAST(unicode(substring(sh, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 3, 1) + 1),
                   i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 3 AS INT)), ' ')))) AS sh
                 FROM ${p}p_ctoks) x),
         ${p}p_ov AS (
           SELECT doc_id, count(*) AS n_ov
           FROM ${p}p_csh JOIN p_bsh USING (s) GROUP BY 1),
         ${p}decon AS (
           SELECT c.doc_id, c.lang, c.text FROM ${p}gated c
           LEFT JOIN ${p}p_ov USING (doc_id)
           WHERE COALESCE(${p}p_ov.n_ov, 0) = 0),
         ${p}pii1 AS (SELECT doc_id, lang,
                    regexp_replace(text, '${graft.operators.TextOps.EmailRe}', '<EMAIL>', 'g') AS t
                  FROM ${p}decon),
         ${p}pii2 AS (SELECT doc_id, lang,
                    regexp_replace(t, '${graft.operators.TextOps.Ipv4Re}', '<IP>', 'g') AS t
                  FROM ${p}pii1),
         ${p}red AS MATERIALIZED (SELECT doc_id, lang,
                   regexp_replace(t, '${graft.operators.TextOps.PhoneRe}', '<PHONE>', 'g') AS text
                 FROM ${p}pii2),
         ${p}m_sh AS MATERIALIZED (
           SELECT DISTINCT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(g)+1),
                      i -> CAST(unicode(substring(g, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007) AS s
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 3, 1) + 1),
                   i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 3 AS INT)), ' ')))) AS g
                 FROM (SELECT doc_id,
                         regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+') AS toks
                       FROM ${p}red WHERE text IS NOT NULL) t) x),
         ${p}m_df AS (
           SELECT DISTINCT s FROM (
             SELECT s FROM ${p}m_sh GROUP BY s HAVING count(*) > 1
             UNION ALL
             SELECT s FROM ${dig}shingle) dmu),
         ${p}m_dup AS (SELECT doc_id, count(*) AS n_dup FROM ${p}m_sh JOIN ${p}m_df USING (s) GROUP BY 1),
         ${p}m_sz AS (SELECT doc_id, count(*) AS n_shingles FROM ${p}m_sh GROUP BY 1),
         ${p}mem AS MATERIALIZED (
           SELECT r.doc_id, r.lang, r.text
           FROM ${p}red r LEFT JOIN ${p}m_sz USING (doc_id) LEFT JOIN ${p}m_dup USING (doc_id)
           WHERE COALESCE(${p}m_dup.n_dup, 0) * 10000
                 <= 2000 * COALESCE(${p}m_sz.n_shingles, 0))"""

    /** stage 7 as registered in q53: per-LANGUAGE token rates (q48b). */
  private def q53LangMixSql: String =
    langRatesCtes("mem", "doc_counts", "") + ",\n         " +
      langAdmitCte("mem", "doc_counts", "tok_rates") + ",\n    "

  /** stage 7 with the sourceQuotaMyriad knob ON (q53b): q90's
    * per-SOURCE rate solve + index-236 'srcq:' admission. `source` is
    * immutable per doc_id, so the oracle re-attaches it from the raw
    * table exactly as the Scala chain does (one key-only join).
    */
  private val q53SrcQuotaMixSql: String =
    s"""src_of AS (SELECT doc_id, source FROM documents),
         tok_counts AS (
           SELECT t.source, t.t_myriad, COALESCE(g.c, 0) AS c
           FROM (VALUES ('src0', 3000), ('src1', 2500),
                        ('src2', 1500), ('src3', 500)) t(source, t_myriad)
           LEFT JOIN (SELECT so.source, CAST(sum(dc.nt) AS BIGINT) AS c
                      FROM mem d
                      JOIN src_of so ON so.doc_id = d.doc_id
                      JOIN doc_counts dc ON dc.doc_id = d.doc_id
                      WHERE dc.nt > 0
                      GROUP BY so.source) g USING (source)),
         tok_feas AS (SELECT MIN(c * 10000 // t_myriad) AS t_total FROM tok_counts),
         tok_rates AS (
           SELECT source, CASE WHEN c = 0 THEN CAST(0 AS BIGINT)
                        ELSE (t_total * t_myriad // 10000) * 10000 // c END AS rate_myriad
           FROM tok_counts, tok_feas),
         admitted AS (
           SELECT b.doc_id, b.n_tok
           FROM (
             SELECT t.doc_id, t.source, dc.nt AS n_tok,
               ((((CAST(1103515245 AS BIGINT)*473 + 12345) % 2147483648) *
                 (list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(k)+1),
                      i -> CAST(unicode(substring(k, CAST(i AS INT), 1)) AS BIGINT))),
                    (h, c) -> (h * 31 + c) % 1000000007))
                 + ((CAST(1103515245 AS BIGINT)*474 + 12345) % 2147483648)) % 2147483647) % 10000 AS bucket
             FROM (SELECT d.doc_id, so.source, concat('srcq:', CAST(d.doc_id AS VARCHAR)) AS k
                   FROM mem d JOIN src_of so ON so.doc_id = d.doc_id) t
             JOIN doc_counts dc ON dc.doc_id = t.doc_id
             WHERE dc.nt > 0) b
           JOIN tok_rates r USING (source)
           WHERE b.bucket < r.rate_myriad),
    """

  /** The q51 oracle machinery, shared by q51/q47b/q48b: rebuild the
    * top-64 2..4-gram vocabulary relationally, compute each distinct
    * word's per-position longest match, walk the greedy scan, sum per
    * doc.
    *
    * The greedy walk is a RECURSIVE CTE (requires `WITH RECURSIVE` at
    * the call site), NOT a list_reduce lambda fold: DuckDB's
    * list_reduce with a struct accumulator and a CASE that returns
    * the accumulator unchanged is NONDETERMINISTIC at threads>1 — the
    * same byte-identical input list folded to two different results
    * across runs (caught red-handed on the word 'customer':
    * t=2/f=0 correct vs t=4/f=2 flaky, input list hash-equal). The
    * scalar-accumulator folds used elsewhere in these oracles (poly
    * hash, band fold) have never flaked across six driver gates; only
    * the struct-acc CASE shape is affected. The walk terminates
    * because `positions` holds pos 1..len(w) only — the first jump
    * past len finds no join partner. t and f increase monotonically
    * along the chain, so max() recovers the terminal state.
    */
  private val tokenizerCtes: String = tokenizerCtesOn("documents")

  /** The same CTE chain trained on an arbitrary base relation —
    * q53's pipeline trains the vocab on the CURATED corpus, not the
    * raw table.
    */
  /** The q51 tokenizer CTE block (vocab + greedy-walk doc counts),
    * parameterized (r14, for q103): CTE names take prefix `pfx`; a
    * non-empty `vocabFrom` SKIPS the vocab derivation and walks the
    * GIVEN vocab CTE instead — the frozen-tokenizer path (delta docs
    * count under v1's vocab).
    */
  private def tokenizerCtesOn(base: String, pfx: String = "",
                              vocabFrom: String = ""): String = {
    val vc = if (vocabFrom.nonEmpty) vocabFrom else s"${pfx}vocab"
    val vocabDef =
      if (vocabFrom.nonEmpty) ""
      else s"""${pfx}vocab AS (
         SELECT substr(w, i, n) AS gram, count(*) AS cnt
         FROM (SELECT w, n, unnest(generate_series(1, length(w) - n + 1)) AS i
               FROM (SELECT w, unnest([2, 3, 4]) AS n FROM ${pfx}words0)
               WHERE length(w) >= n)
         GROUP BY gram
         ORDER BY cnt DESC, gram
         LIMIT 64),
       """
    s"""${pfx}words0 AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')) AS w
         FROM $base),
       $vocabDef${pfx}dwords AS (SELECT DISTINCT w FROM ${pfx}words0 WHERE length(w) > 0),
       ${pfx}positions AS (
         SELECT w, i AS pos,
                coalesce(max(CASE WHEN v.gram IS NOT NULL THEN tn.n END), 1) AS mlen,
                CASE WHEN count(v.gram) = 0 THEN 1 ELSE 0 END AS fall
         FROM (SELECT w, unnest(generate_series(1, length(w))) AS i FROM ${pfx}dwords)
         CROSS JOIN (SELECT unnest([2, 3, 4]) AS n) tn
         LEFT JOIN $vc v
           ON v.gram = substr(w, i, tn.n) AND length(substr(w, i, tn.n)) = tn.n
         GROUP BY w, i),
       ${pfx}walk AS (
         SELECT w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS f
         FROM ${pfx}dwords
         UNION ALL
         SELECT wk.w, wk.pos + p.mlen, wk.t + 1, wk.f + p.fall
         FROM ${pfx}walk wk JOIN ${pfx}positions p ON p.w = wk.w AND p.pos = wk.pos),
       ${pfx}folded AS (SELECT w, max(t) AS nt, max(f) AS nf FROM ${pfx}walk GROUP BY w),
       ${pfx}doc_counts AS (
         SELECT dw.doc_id,
                CAST(sum(f.nt) AS BIGINT) AS nt,
                CAST(sum(f.nf) AS BIGINT) AS nf
         FROM ${pfx}words0 dw JOIN ${pfx}folded f ON f.w = dw.w
         GROUP BY dw.doc_id)"""
  }
}
