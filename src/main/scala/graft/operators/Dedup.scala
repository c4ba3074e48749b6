package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy near-duplicate detection (SURVEY.md §2 q25–q27) — the standard
  * large-corpus dedup trio: MinHash+LSH, SimHash, and n-gram Jaccard
  * via an inverted shingle index.
  *
  * Scale design (100 TB corpus): all three avoid the O(N²) cross join.
  * - MinHash/LSH: candidate generation is a self-join on (band_id,
  *   band_signature) — duplicate-dense buckets are small by
  *   construction (b bands × r rows tuned for the target Jaccard
  *   threshold), so the join is shuffle-friendly and skew-bounded.
  * - SimHash: pairs must share one of 4 16-bit chunks to be within
  *   Hamming distance 3 (pigeonhole), so blocking on chunk value turns
  *   pair-finding into an equi-join.
  * - n-gram Jaccard: inverted index join on shingle with a document-
  *   frequency cap; ubiquitous shingles (which would quadratically blow
  *   up the join) carry no discriminative signal and are dropped, the
  *   classic posting-list pruning trade-off.
  * Hashing: q25/q26 use the SQL-replayable integer family
  * (PolyHashExpr + ReplayableHash universal hashes) so their full
  * pipelines are DuckDB-oracle-checked; q27 keeps xxhash64 shingle
  * keys (membership-only, value-equivalent to the string-shingle
  * oracle). All codegen'd column expressions, no UDFs.
  */
object Dedup {

  /** The SQL-replayable universal-hash family (see
    * graft.functions.ReplayableHash, where it lives so the fused
    * kernels share the exact a/b stream): q25 draws indices
    * 0..numPerm-1, q26 indices 64..127, q37 index 200.
    */
  private[graft] val ReplayableHash = graft.functions.ReplayableHash

  /** Per-document distinct word n-gram postings: (doc_id, shingle),
    * shingle = poly_hash (base-31 mod 1e9+7, the q21 fingerprint
    * contract) of the n-gram string. Deliberate choices:
    * - the token array is materialized in a projection BEFORE the
    *   `transform` lambda (an expression referenced inside a
    *   higher-order lambda re-evaluates per element — inlining the
    *   split costs O(len × positions) per document instead of O(len));
    * - shingles are carried as 64-bit integer keys, never strings:
    *   set semantics survive (collisions ~N²/2e9, and both engines
    *   collide IDENTICALLY because the hash is replayed in the
    *   oracle), while distinct/shuffle/join keys shrink to 8 bytes;
    * - the string shingles explode to rows BEFORE hashing (poly_hash
    *   is per-row codegen; a hash inside the transform lambda would be
    *   nested-lambda interpreted), with a distinct() after to collapse
    *   hash collisions the same way the oracle's DISTINCT does.
    */
  private[graft] def postings(documents: DataFrame, n: Int): DataFrame =
    documents
      .select(col("doc_id"), split(lower(graft.operators.TextOps.wsTrim(col("text"))), "\\s+").as("toks"))
      .select(col("doc_id"), explode(array_distinct(
        expr(s"""transform(sequence(1, greatest(size(toks) - ${n - 1}, 1)),
                 i -> concat_ws(' ', slice(toks, i, $n)))"""))).as("sh"))
      .select(col("doc_id"), graft.functions.VectorFunctions.poly_hash(col("sh")).as("shingle"))
      .distinct()

  /** LSH candidate pairs with their EXACT (pruning-free) Jaccard —
    * the pair-level core of q25, exposed so recall gates can compare
    * the banded candidate set against `exactJaccardPairs` ground truth.
    * Output: (id_a < id_b, n_common, jaccard) for every pair sharing at
    * least one of `bands` band signatures.
    */
  def minHashPairs(documents: DataFrame, numPerm: Int = 32, bands: Int = 8,
                   shingleN: Int = 3): DataFrame =
    minHashVerified(postings(documents, shingleN), numPerm, bands)

  /** Pair verification over an existing postings frame — shared by
    * minHashPairs and dedupMinHash so the per-doc fold reuses the SAME
    * postings subtree it verified against.
    */
  /** (doc_id, band_id, band_sig) LSH band buckets for a postings
    * frame — the minhash signature aggregation + banded fold shared
    * by the same-set pipeline (minHashVerified / q25) and the
    * cross-set one (decontaminateFuzzy / q49). Permutation i is the
    * universal hash (a_i·s + b_i) mod (2³¹−1): SQL-replayable, and
    * a_i·s < 2⁶² never overflows in either engine. Band signatures
    * fold the r mins of a band with the base-131 polynomial combine
    * (mod 1e9+7) — band collisions are rare AND identical across
    * engines, so they cancel in the compare.
    */
  private def bandBuckets(post: DataFrame, numPerm: Int, bands: Int): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val rows = numPerm / bands
    val minCols = (0 until numPerm).map(i =>
      min((lit(ReplayableHash.a(i)) * col("shingle") + lit(ReplayableHash.b(i)))
        % lit(ReplayableHash.P)).as(s"m$i"))
    // one hash-partitioned aggregation on doc_id with map-side partials
    val sig = post.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"m$i"))
      val sigCol = cols.foldLeft(lit(0L): org.apache.spark.sql.Column)(
        (acc, m) => (acc * lit(131L) + m) % lit(ReplayableHash.M))
      struct(lit(b).as("band_id"), sigCol.as("band_sig"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band_id").as("band_id"), col("bb.band_sig").as("band_sig"))
  }

  private def minHashVerified(post: DataFrame, numPerm: Int, bands: Int): DataFrame = {
    val buckets = bandBuckets(post, numPerm, bands)
    val a = buckets.as("a")
    val b = buckets.as("b")
    val candidates = a.join(b,
        col("a.band_id") === col("b.band_id") &&
        col("a.band_sig") === col("b.band_sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

    // exact verify: |A∩B| via the posting join restricted to candidates,
    // |A∪B| from per-doc set sizes.
    val sizes = post.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = candidates
      .join(post.as("pa"), col("id_a") === col("pa.doc_id"))
      .join(post.as("pb"), col("id_b") === col("pb.doc_id") &&
        col("pa.shingle") === col("pb.shingle"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_common"))
    candidates
      .join(common, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("n_common"))
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), Seq("id_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
  }

  /** Ground-truth word-shingle Jaccard pairs WITHOUT banding or df
    * pruning: the full posting self-join. Θ(Σ df²) — the recall oracle
    * for the approximate dedup paths at test scale, not a production
    * operator.
    */
  def exactJaccardPairs(documents: DataFrame, shingleN: Int = 3,
                        tau: Double = 0.5): DataFrame = {
    val post = postings(documents, shingleN)
    val sizes = post.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = post.as("pa").join(post.as("pb"),
        col("pa.shingle") === col("pb.shingle") &&
        col("pa.doc_id") < col("pb.doc_id"))
      .groupBy(col("pa.doc_id").as("id_a"), col("pb.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), Seq("id_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** q25 (oracle-checked): MinHash + LSH banded dedup.
    *
    * numPerm minhash permutations (h_i(s) = (a_i·s + b_i) mod (2³¹−1),
    * ReplayableHash), banded into `bands` bands of numPerm/bands rows;
    * docs sharing any band signature become candidates (minHashPairs
    * above); candidates are verified with EXACT shingle-set Jaccard
    * and counted as duplicates at `tau`. Output: one row per document
    * — doc_id, n_shingles, n_candidates, n_dups — so the result is
    * non-empty even on a dup-free corpus.
    */
  def dedupMinHash(documents: DataFrame, numPerm: Int = 32, bands: Int = 8,
                   shingleN: Int = 3, tau: Double = 0.5): DataFrame = {
    val post = postings(documents, shingleN)
    val verified = minHashVerified(post, numPerm, bands)
    val sizes = post.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))

    // fold pair stats back to one row per doc (both pair directions).
    val perDoc = verified.select(col("id_a").as("doc_id"), col("jaccard"))
      .unionAll(verified.select(col("id_b").as("doc_id"), col("jaccard")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= tau, 1).otherwise(0)).as("n_dups"))

    documents.select(col("doc_id"))
      .join(sizes, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_sh", "n_candidates", "n_dups"))
      .select(col("doc_id"), col("n_sh").as("n_shingles"),
        col("n_candidates"), col("n_dups"))
  }

  /** Per-document 64-bit SimHash signature: bit j is the sign of
    * Σ_tokens ±1, where the token's bit-j draw is the parity of the
    * universal hash (a_{64+j}·poly(token) + b_{64+j}) mod (2³¹−1) —
    * every term SQL-replayable so the whole signature (and therefore
    * n_near) is oracle-checked.
    *
    * Execution shape: the 64 parities are packed 3-per-long into 22
    * lanes by ONE fused expression (SimHashLanesExpr) and aggregated
    * as 22 plain long sums + a token count — map-side-combinable, no
    * row blowup, and ~3× fewer aggregate columns than the unpacked 64
    * `sum(when ...)` form (which doubled q26's cost in r2). The
    * signed bit sum is recovered as 2·Σparity − n; bit j is set iff
    * 2·Σparity > n — identical to the ±1 sum's sign. The ORACLE keeps
    * the 64-sum formulation: only the final simhash value is compared.
    */
  def simHashSignatures(documents: DataFrame): DataFrame = {
    import graft.functions.SimHashLanes.{FieldBits, FieldsPerLane, NLanes}
    val toks = documents.select(col("doc_id"),
      explode(split(lower(graft.operators.TextOps.wsTrim(col("text"))), "\\s+")).as("tok"))
      // materialize the lanes array in its own projection so the fused
      // expression evaluates once per token (the lambda/CSE rule all
      // the dedup pipelines follow)
      .select(col("doc_id"), graft.functions.VectorFunctions.simhash_lanes(
        graft.functions.VectorFunctions.poly_hash(col("tok"))).as("lanes"))
    // try_sum, not sum: at the MaxTokens bound the worst-case lane sum
    // is exactly 2⁶³−1 (the packing is sized to it), so one token more
    // can overflow Long mid-aggregation — try_sum yields NULL instead
    // of an ANSI throw, and the n-guard below turns it into the real
    // diagnostic. n ≤ MaxTokens can never overflow, so NULL ⇒ guarded.
    val laneSums = (0 until NLanes).map(t => try_sum(col("lanes")(t)).as(s"L$t"))
    val summed = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), laneSums: _*)
    val simhash = (0 until 64).foldLeft(lit(0L)) { (acc, j) =>
      val field = shiftrightunsigned(col(s"L${j / FieldsPerLane}"),
          (j % FieldsPerLane) * FieldBits)
        .bitwiseAND(lit((1L << FieldBits) - 1))
      acc.bitwiseOR(when(field * lit(2L) > col("n"), lit(1L << j)).otherwise(lit(0L)))
    }
    // Packing bound, ENFORCED: a doc with more than MaxTokens (2²¹−1)
    // tokens would carry a lane field into its neighbor and corrupt
    // the signature silently — fail loudly instead (n is already in
    // the aggregate, so the guard costs one comparison per doc).
    val guarded = when(col("n") > lit(graft.functions.SimHashLanes.MaxTokens),
      raise_error(format_string(
        "simhash: doc_id %s has %s tokens, over SimHashLanes.MaxTokens (%s); " +
          "packed 21-bit lane sums would overflow — split the document first",
        col("doc_id"), col("n"), lit(graft.functions.SimHashLanes.MaxTokens))))
      .otherwise(simhash)
    summed.select(col("doc_id"), guarded.as("simhash"))
  }

  /** Near pairs (Hamming ≤ maxDist < 4) by pigeonhole blocking on the
    * 4 16-bit signature chunks — with Hamming ≤ 3 and 4 chunks at least
    * one chunk is untouched, so the chunk equi-join has recall 1 BY
    * CONSTRUCTION over the signatures (asserted against brute force in
    * DedupSpec). Output: (id_a < id_b).
    */
  def simHashNearPairs(documents: DataFrame, maxDist: Int = 3): DataFrame = {
    val sigs = simHashSignatures(documents)
    val chunks = sigs.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(c => struct(lit(c).as("chunk_id"),
          shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("chunk_val"))): _*)).as("ch"))
      .select(col("doc_id"), col("simhash"),
        col("ch.chunk_id").as("chunk_id"), col("ch.chunk_val").as("chunk_val"))

    val a = chunks.as("a")
    val b = chunks.as("b")
    a.join(b,
        col("a.chunk_id") === col("b.chunk_id") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= maxDist)
      .select(col("id_a"), col("id_b"))
  }

  /** q26 (oracle-checked): 64-bit SimHash + Hamming-distance pairing —
    * simHashSignatures + simHashNearPairs folded to one row per
    * document: doc_id, simhash, n_near.
    */
  def dedupSimHash(documents: DataFrame, maxDist: Int = 3): DataFrame = {
    val sigs = simHashSignatures(documents)
    val near = simHashNearPairs(documents, maxDist)
    val perDoc = near.select(col("id_a").as("doc_id"))
      .unionAll(near.select(col("id_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_near"))

    sigs.join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_near"))
      .select(col("doc_id"), col("simhash"), col("n_near"))
  }

  /** q27 (rows-only): exact character-n-gram Jaccard best-match.
    *
    * Inverted index on char shingles with a document-frequency cap
    * (maxDf): postings self-join counts |A∩B| only for pairs sharing at
    * least one (sub-cap) shingle; |A∪B| from exact per-doc set sizes.
    * Output: one row per document with its best neighbor (nullable) —
    * doc_id, n_shingles, best_neighbor, best_common, best_jaccard.
    */
  def ngramJaccard(documents: DataFrame, shingleN: Int = 7, maxDf: Int = 256,
                   maxBlacklist: Int = 65536): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // Per-doc distinct shingle sets, ONE fused map pass, materialized
    // eagerly (localCheckpoint, not persist — a persist here has no
    // release hook and leaked a cached frame per invocation; the
    // checkpoint's blocks die with the frame). Everything downstream
    // derives from this compact one-row-per-doc frame.
    val shSets = documents
      .select(col("doc_id"),
        regexp_replace(lower(graft.operators.TextOps.wsTrim(col("text"))), "\\s+", " ").as("norm"))
      .select(col("doc_id"), graft.functions.VectorFunctions
        .char_shingle_set(col("norm"), shingleN).as("shs"))
      .localCheckpoint(true)
    val post = shSets.select(col("doc_id"), explode(col("shs")).as("shingle"))
    // df cap bounds the self-join at Σ min(df,maxDf)² — without it a
    // ubiquitous shingle contributes df² pairs and the join is O(N²).
    // Jaccard is computed over the PRUNED sets on both sides (sizes
    // below also come from `pruned`), so pruning stays symmetric: exact
    // duplicates still score 1.0 and shared-rare-shingle pairs rank
    // first — the standard posting-list pruning trade-off.
    //
    // The over-cap shingles are the BLACKLIST, and it is small (the
    // ubiquitous-content tail — 3k entries on the test corpus): when it
    // fits `maxBlacklist`, pruning is a map-side broadcast ANTI-join in
    // the POSTING domain — no set arrays are ever rebuilt (r8 paid an
    // array_except cross-join plus a second fat set-array checkpoint
    // here; r9 drops both). A corpus whose blacklist outgrows the bound
    // falls back to the posting⋈df shuffle-pruning join.
    val dfc = post.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val blackArr = dfc.filter(col("df") > maxDf).select(col("shingle"))
      .limit(maxBlacklist + 1).collect().map(_.getLong(0))
    // Checkpoint the PRUNED POSTINGS (not pruned sets): three consumers
    // (both pair-join sides, `sizes`) otherwise re-evaluate the prune
    // pass each. Pruned postings are the SMALLEST frame in the operator
    // (two longs per surviving posting — ~100k rows at sf0.1 vs the
    // multi-MB set arrays r8 checkpointed), so this also cuts the
    // storage-pool pressure that inflated q27 inside the shared bench
    // session. Blocks die with the frame.
    val pruned = (
      if (blackArr.length <= maxBlacklist) {
        val bl = blackArr.toSeq.toDF("shingle")
        post.join(broadcast(bl), Seq("shingle"), "left_anti")
      } else {
        post.join(dfc.filter(col("df") <= maxDf).select(col("shingle")), Seq("shingle"))
      }).select(col("doc_id"), col("shingle")).localCheckpoint(true)
    // n_sh = |pruned set| per doc; shingles are set-distinct per doc by
    // construction (char_shingle_set), so a posting count is the size.
    val sizes = pruned.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))

    val common = pruned.as("pa").join(pruned.as("pb"),
        col("pa.shingle") === col("pb.shingle") &&
        col("pa.doc_id") < col("pb.doc_id"))
      .groupBy(col("pa.doc_id").as("id_a"), col("pb.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))

    val scored = common
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")).cast("double"))

    // best partner per doc, both directions. max_by with a (jaccard,
    // -partner) ordering struct instead of a row_number window: the
    // window sorts the full pair set; max_by is a hash aggregate with
    // map-side partials — no sort, one light shuffle. Tie-break:
    // highest jaccard, then smallest partner id.
    val dirs = scored.select(col("id_a").as("doc_id"), col("id_b").as("partner"),
        col("n_common"), col("jaccard"))
      .unionAll(scored.select(col("id_b").as("doc_id"), col("id_a").as("partner"),
        col("n_common"), col("jaccard")))
    val best = dirs.groupBy(col("doc_id"))
      .agg(max_by(
        struct(col("partner"), col("n_common"), col("jaccard")),
        struct(col("jaccard"), (-col("partner")).as("tb"))).as("b"))
      .select(col("doc_id"), col("b.partner").as("best_neighbor"),
        col("b.n_common").as("best_common"), col("b.jaccard").as("best_jaccard"))

    documents.select(col("doc_id")).join(sizes, Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_sh"))
      .select(col("doc_id"), col("n_sh").as("n_shingles"),
        col("best_neighbor"), col("best_common"), col("best_jaccard"))
  }

  /** q49: FUZZY decontamination — near-duplicate detection of corpus
    * documents against a benchmark/eval set, with attribution. q38's
    * exact n-gram membership flags ANY shared shingle (maximum
    * sensitivity, no ranking); this ranks by exact shingle-set Jaccard
    * over banded-MinHash candidates and names the closest benchmark
    * document — the audit view a contamination review actually needs
    * ("which eval doc is this a paraphrase of, and how close"), the
    * doc-level complement the GPT-3/PaLM-style n-gram test lacks.
    *
    * Mechanics are q25's (same postings, same ReplayableHash minhash
    * permutations, same band fold — shared `bandBuckets`), pointed
    * ACROSS two sets: corpus buckets equi-join benchmark buckets on
    * (band_id, band_sig); candidates are exact-verified. Fully
    * SQL-replayable, so the operator is rows+schema+hash
    * oracle-checked like q25. Recall is banded-LSH recall at the pair
    * level; an identical document pair shares EVERY band, so exact
    * copies of benchmark docs are flagged with probability 1.
    *
    * Scale: the benchmark side is tiny next to the corpus (thousands
    * of eval docs vs billions) — its buckets and postings broadcast;
    * candidate volume is bounded by band-bucket occupancy products,
    * never the corpus×bench cross product; the per-candidate verify
    * join touches only candidate postings. Output one row per corpus
    * doc: n_candidates, n_contaminated (jaccard ≥ tau), plus the
    * worst (highest-jaccard, tie → smallest id) benchmark partner.
    */
  def decontaminateFuzzy(corpus: DataFrame, benchmark: DataFrame,
                         numPerm: Int = 32, bands: Int = 8,
                         shingleN: Int = 3, tau: Double = 0.5): DataFrame = {
    val postC = postings(corpus, shingleN)
    val postB = postings(benchmark, shingleN)
    val candidates = bandBuckets(postC, numPerm, bands).as("ca")
      .join(broadcast(bandBuckets(postB, numPerm, bands).as("cb")),
        col("ca.band_id") === col("cb.band_id") &&
        col("ca.band_sig") === col("cb.band_sig"))
      .select(col("ca.doc_id").as("doc_id"), col("cb.doc_id").as("bench_id"))
      .distinct()
    val sizesC = postC.groupBy(col("doc_id")).agg(count(lit(1)).as("n_c"))
    val sizesB = postB.groupBy(col("doc_id")).agg(count(lit(1)).as("n_b"))
    val common = candidates.as("cd")
      .join(postC.as("pa"), col("cd.doc_id") === col("pa.doc_id"))
      .join(broadcast(postB.as("pb")),
        col("cd.bench_id") === col("pb.doc_id") &&
        col("pa.shingle") === col("pb.shingle"))
      .groupBy(col("cd.doc_id").as("doc_id"), col("cd.bench_id").as("bench_id"))
      .agg(count(lit(1)).as("n_common"))
    val verified = candidates
      .join(common, Seq("doc_id", "bench_id"), "left")
      .na.fill(0L, Seq("n_common"))
      .join(sizesC, Seq("doc_id"))
      .join(broadcast(sizesB.withColumnRenamed("doc_id", "bench_id")), Seq("bench_id"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_c") + col("n_b") - col("n_common")).cast("double"))
    // attribution via max_by hash aggregate, not a window (SURVEY §8);
    // tie-break (jaccard DESC, bench_id ASC) — the q27 pattern, which
    // the DuckDB struct-max replays exactly
    val per = verified.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= tau, 1L).otherwise(0L)).as("n_contaminated"),
        max_by(struct(col("bench_id"), col("jaccard")),
          struct(col("jaccard"), (-col("bench_id")).as("tb"))).as("w"))
    corpus.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        col("w.bench_id").as("worst_bench"),
        col("w.jaccard").as("worst_jaccard"))
  }

  /** q91 fingerprint side: per-document winnowing selections as
    * (doc_id, packed) rows — packed = hash·2²¹ + pos, one row per
    * SELECTED gram (see [[graft.functions.WinnowSetExpr]] for the
    * algorithm and the guarantee). The selection is a pure map over
    * the corpus: the only exchange in q91 is the match join on the
    * fingerprint hash. Null-text docs are dropped explicitly (the §8
    * null-shingle engine-divergence rule).
    */
  private[graft] def winnowSelections(documents: DataFrame, k: Int, w: Int): DataFrame =
    documents
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        split(lower(graft.operators.TextOps.wsTrim(col("text"))), "\\s+").as("toks"))
      .select(col("doc_id"),
        explode(graft.functions.VectorFunctions.winnow_set(col("toks"), k, w)).as("packed"))

  /** q91: WINNOWING near-duplicate match (Schleimer et al. 2003 — the
    * MOSS pipeline): winnow each document to its selected fingerprints
    * (guaranteed to catch any shared run of ≥ w+k-1 tokens, at ~2/(w+1)
    * of the gram volume), drop fingerprints common to more than `maxDf`
    * documents (the MOSS "ignore ubiquitous code" rule — at corpus
    * scale this is also the skew guard: no fingerprint bucket ever
    * joins more than maxDf docs, so the pair join is linear by
    * construction), and report every document pair sharing at least
    * `minShared` surviving fingerprints.
    *
    * Between q25 (fixed-size sketch, whole-doc similarity, no
    * containment guarantee) and q71 (every window digest, exact but
    * full-volume): the partial-overlap detector a plagiarism /
    * licence-contamination pass runs at 100 TB.
    *
    * Output: (doc_a < doc_b, n_shared).
    */
  def winnowPairs(documents: DataFrame, k: Int = 4, w: Int = 4,
                  maxDf: Int = 10, minShared: Int = 2): DataFrame = {
    val fp = winnowSelections(documents, k, w)
      .select(col("doc_id"),
        shiftright(col("packed"), graft.functions.WinnowSetExpr.PosBits).as("h"))
      .distinct()
    val capped = fp.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("h"))
    val surv = fp.join(capped, Seq("h"))
    surv.as("a").join(surv.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
