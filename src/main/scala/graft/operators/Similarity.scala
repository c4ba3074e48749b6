package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate/exact similarity search over the `embeddings` table
  * (SURVEY.md §2 q28–q30). Embeddings stay `Array[Float]`; all vector
  * math is higher-order `functions` (zip_with / aggregate) — codegen'd
  * column expressions, no UDFs, no driver-side collects.
  *
  * FP determinism: dot products and norms accumulate in DOUBLE,
  * sequentially left-to-right (`aggregate` with a 0.0 seed), and cosine
  * is always dot / (sqrt(na) * sqrt(nb)) in that exact operation order —
  * so Spark and the DuckDB oracle (same reduction order spelled out in
  * SQL) produce bit-identical doubles.
  *
  * Scale: brute-force top-k is the verified O(N²/p) baseline — right
  * answer, used to grade the approximate paths; at 100 TB you run
  * q29's LSH buckets (candidates-per-bucket cost) or shard the
  * brute-force with a broadcast query set. The self-join broadcasts the
  * smaller (projected) side when under the AQE threshold.
  */
object Similarity {

  /** Row count for LSH/IVF auto-sizing, cached per (session,
    * SizingKey) so repeated invocations of a query don't each pay a
    * counting job (the count itself is cheap — parquet answers it from
    * footer metadata — but it is still a scheduled job per call).
    * SizingKey, not canonicalized plan text alone: canonicalization
    * strips the file listing, so two directories with the same schema
    * collide (the r6 BenchScale burst bug — see SizingKey scaladoc).
    * Auto-sizing only needs N's order of magnitude, so a stale entry
    * after an in-place file change is harmless to correctness of the
    * output (pass bandBits/nCentroids explicitly to bypass sizing
    * entirely). Cache mechanics live in SessionCache (shared with
    * Analytics.occStats).
    */
  private val nCache = new graft.operators.SessionCache[Long]
  private def approxCount(df: DataFrame): Long =
    nCache.getOrCompute(df.sparkSession, graft.operators.SizingKey(df))(df.count())

  /** Sequential-order double dot product — a native codegen'd Catalyst
    * expression (graft.functions.DotProductD); same FP contract as the
    * higher-order `aggregate(zip_with(...))` formulation it replaces,
    * which is CodegenFallback and ~10× slower on the N² hot path.
    */
  def dotd(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_d(a, b)

  /** Squared L2 norm, same accumulation order. */
  def norm2(a: Column): Column = dotd(a, a)

  /** cosine(a, b) with the canonical operation order. */
  def cosine(a: Column, b: Column, na2: Column, nb2: Column): Column =
    dotd(a, b) / (sqrt(na2) * sqrt(nb2))

  /** q28: exact brute-force cosine top-k — the correctness baseline.
    * Output: (vec_id, neighbor_id, rank), ints only; the float score is
    * deliberately excluded from the oracle-checked surface (ranks are
    * stable, raw doubles are representation-fragile across engines).
    */
  def knnBruteForce(embeddings: DataFrame, k: Int = 10): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"))
    val a = e.select(col("vec_id").as("vec_id"), col("embedding").as("ea"), col("n2").as("na2"))
    val b = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"), col("n2").as("nb2"))
    // project the fat embedding arrays away BEFORE the window: the N²
    // row set that shuffles into the top-k sort is 24 bytes/row, not
    // ~550 (2×64 floats) — at scale that's the difference between a
    // 600 MB and a 13 GB exchange.
    val pairs = a.join(b, col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosine(col("ea"), col("eb"), col("na2"), col("nb2")).as("cos"))
    // top_k_by (bounded-heap aggregate, graft.functions.TopKBy) instead
    // of a row_number window: map-side partials reduce each partition to
    // ≤k rows per vec, so the exchange carries N×k rows, not the N²
    // candidate set, and nothing sorts the full pair set.
    pairs.groupBy(col("vec_id"))
      .agg(graft.functions.TopKByFunctions.top_k_by(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("vec_id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** q29 (rows-only): multi-table LSH approximate top-k. `nTables`
    * independent random-hyperplane hash tables of `bandBits` bits each
    * (RhpSignatureExpr with a per-table plane offset — tables are NOT
    * capped by one 64-bit signature); candidates are vectors sharing
    * ANY table bucket; exact cosine ranks the candidate set. Output one
    * row per vector (null neighbor if all its buckets are singletons).
    *
    * Sizing rule (same logic as IVF's √N centroids): bandBits ≈
    * log2(N / target-bucket-occupancy) bounds per-table cost at
    * N × occupancy; nTables buys recall (miss ≈ (1 − p^bandBits)^nTables
    * for per-bit collision p = 1 − θ/π). bandBits ≤ 0 auto-sizes from
    * a count of the input (occupancy target ~32), so the candidate
    * volume stays ~nTables × 32 × N at every scale instead of drifting
    * toward all-pairs as N grows past 2^bandBits.
    *
    * Measured at 16 tables × 4 bits on the sf0.001 corpus (the auto
    * choice at N=500): recall@1 ≈ 0.94 — against ISOTROPIC random
    * vectors, LSH's worst case (median top-1 cosine is only 0.36
    * there; real embedding corpora cluster, so the same budget buys
    * far smaller buckets at equal recall). SimilaritySpec pins it.
    *
    * SKEW CAP (`bucketCap`): occupancy-target sizing keeps the MEAN
    * bucket small, but a tight cluster shares every hyperplane bit, so
    * its bucket never splits no matter how many bits are added — on
    * cluster-skewed corpora candidate volume drifts toward
    * Σ cluster² ≈ N² (BenchScale measured exactly that on the test
    * embeddings: row-traffic exponent 1.98 before the cap). Buckets
    * over `bucketCap` are therefore SALTED into ceil(occ/cap) slices —
    * each vector lands in one pseudorandom slice per (table, bucket),
    * and only same-slice pairs join, bounding per-bucket pairs at
    * ~occ·cap. Top-k recall survives because the salts are independent
    * across the nTables tables: a specific pair co-bucketed in an
    * occ=4·cap cluster still co-slices somewhere with probability
    * 1 − (1 − 1/4)^16 ≈ 0.99. (This cap is sound for TOP-K, whose
    * output is N·k; the all-pairs emitters q30b/q27 are output-bound
    * instead — see embeddingDedupLsh.)
    */
  def knnLsh(embeddings: DataFrame, nTables: Int = 16, bandBits: Int = 0,
             k: Int = 5, bucketCap: Int = 128): DataFrame = {
    val bb =
      if (bandBits > 0) bandBits
      else {
        val n = approxCount(embeddings)
        math.min(24, math.max(4,
          math.ceil(math.log(math.max(1.0, n / 32.0)) / math.log(2.0)).toInt))
      }
    // all nTables signatures in ONE fused expression (element t is
    // bit-identical to the per-table rhp_signature at offset t*bb);
    // posexplode replaces the 16-column projection + array(struct(...))
    val e = embeddings.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"),
      graft.functions.VectorFunctions
        .rhp_multi_signature(col("embedding"), bb, nTables).as("sigs"))
    val rawBands = e.select(col("vec_id"), posexplode(col("sigs")).as(Seq("band_id", "band_sig")))
    // occupancy-aware salting (see scaladoc): a window count over the
    // bucket key — one linear shuffle — sizes the slice count; buckets
    // at or under the cap get slice 0 on both sides, i.e. the plain
    // uncapped join
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band_id"), col("band_sig"))
    val bands = rawBands
      .withColumn("nsalt",
        ceil(count(lit(1)).over(w) / lit(bucketCap.toDouble)).cast("long"))
      .withColumn("salt",
        when(col("nsalt") <= 1L, lit(0L))
          .otherwise(pmod(xxhash64(col("vec_id"), col("band_id")), col("nsalt"))))
      .select(col("vec_id"), col("band_id"), col("band_sig"), col("salt"))
    // directed candidate pairs; a pair colliding in several tables is
    // scored per collision and deduped INSIDE the top-k aggregate
    // (top_k_by_distinct) — no standalone distinct() exchange over the
    // candidate set, and duplicates carry the identical cosine so the
    // result is unchanged
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_sig") === col("b.band_sig") &&
        col("a.salt") === col("b.salt") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"))
    val pairs = cand
      .join(e.select(col("vec_id"), col("embedding").as("ea"), col("n2").as("na2")), Seq("vec_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"),
        col("n2").as("nb2")), Seq("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosine(col("ea"), col("eb"), col("na2"), col("nb2")).as("cos"))
    val ranked = pairs.groupBy(col("vec_id"))
      .agg(graft.functions.TopKByFunctions
        .top_k_by_distinct(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("vec_id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"), col("t.ord").as("cos"))
    e.select(col("vec_id"))
      .join(ranked, Seq("vec_id"), "left")
      .select(col("vec_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** q28b: the same exact cosine top-k as knnBruteForce, as a blocked
    * kernel — THE one operator where mapPartitions is warranted: a
    * native engine does brute-force ANN as a blocked matrix sweep, and
    * no join plan matches that constant factor (the declarative q28
    * materializes N² join rows just to aggregate them away).
    *
    * SHARDED BUILD SIDE (the r1 verdict's #2 finding): the r1 version
    * collected the ENTIRE table to the driver and broadcast it once —
    * a hard ceiling at ~1M×64 floats and a driver bottleneck. Now the
    * build side is processed in ⌈N / maxChunkRows⌉ hash-chunks: per
    * chunk, collect ONLY that chunk (driver holds one chunk at a
    * time), broadcast it, sweep every probe partition against it with
    * a bounded TopKBuffer, persist the N×k partial, then destroy the
    * broadcast before the next chunk. Partials merge with the same
    * top_k_by aggregate q28 uses — per-chunk top-k of exact cosines is
    * losslessly re-rankable, so the global top-k is identical. Driver
    * peak memory is one chunk; the merge exchange carries
    * N×k×chunks rows, never N².
    *
    * FP + ordering contract identical to q28 (sequential double dot,
    * (cos desc, id asc) ties at every stage), so it hash-matches the
    * same oracle.
    */
  def knnBruteForceBlocked(embeddings: DataFrame, k: Int = 10,
                           maxChunkRows: Int = 1000000): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = embeddings.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val n = base.count()
    val nChunks = math.max(1, math.ceil(n.toDouble / maxChunkRows).toInt)

    val partials = (0 until nChunks).map { c =>
      val rows =
        (if (nChunks == 1) base
         else base.filter(pmod(xxhash64(col("vec_id")), lit(nChunks)) === c))
          .collect()
      val m = rows.length
      val ids = new Array[Long](m)
      val vecs = new Array[Array[Float]](m)
      val norms = new Array[Double](m)
      var i = 0
      while (i < m) {
        ids(i) = rows(i).getLong(0)
        vecs(i) = rows(i).getSeq[Float](1).toArray
        var s = 0.0
        val v = vecs(i)
        var d = 0
        while (d < v.length) { s += v(d).toDouble * v(d).toDouble; d += 1 }
        norms(i) = s
        i += 1
      }
      val bc = spark.sparkContext.broadcast((ids, vecs, norms))

      val part = base.as[(Long, Array[Float])]
        .mapPartitions { it =>
          val (bIds, bVecs, bNorms) = bc.value
          it.flatMap { case (qid, qv) =>
            var qn = 0.0
            var d = 0
            while (d < qv.length) { qn += qv(d).toDouble * qv(d).toDouble; d += 1 }
            val qSqrt = math.sqrt(qn)
            val buf = new graft.functions.TopKBuffer(k)
            var j = 0
            while (j < bIds.length) {
              if (bIds(j) != qid) {
                val bv = bVecs(j)
                var dot = 0.0
                var e = 0
                val len = math.min(qv.length, bv.length)
                while (e < len) { dot += qv(e).toDouble * bv(e).toDouble; e += 1 }
                buf.insert(dot / (qSqrt * math.sqrt(bNorms(j))), bIds(j))
              }
              j += 1
            }
            (0 until buf.n).iterator.map(r => (qid, buf.ids(r), buf.ords(r)))
          }
        }
        .toDF("vec_id", "neighbor_id", "cos")
      if (nChunks == 1) part
      else {
        // materialize the partial NOW and truncate its lineage (a plain
        // persist still serializes the broadcast reference into every
        // downstream task), so the broadcast and the driver's chunk
        // arrays are released before the next chunk loads. On a real
        // cluster this would be a reliable checkpoint; locally the
        // executor-stored copy is enough.
        val p = part.localCheckpoint(true)
        bc.destroy()
        p
      }
    }

    // one uniform merge: per-chunk candidates re-rank under the same
    // (cos DESC, id ASC) order — an N×k(×chunks) aggregation, never N²
    partials.reduce(_ unionAll _)
      .groupBy(col("vec_id"))
      .agg(graft.functions.TopKByFunctions.top_k_by(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("vec_id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** q32 (rows-only): IVF-Flat approximate top-k — the other standard
    * ANN scale path beside LSH (q29). Deterministic coarse quantizer:
    * the `nCentroids` vectors with the smallest xxhash64(vec_id) serve
    * as centroids (hash-sampling, no RNG state); every vector is
    * assigned to its nearest centroid (broadcast join — the centroid
    * table is tiny by construction); each query probes its `nProbe`
    * nearest centroids and ranks candidates from those inverted lists
    * by exact cosine. At scale: cost ≈ N × nCentroids (assignment) +
    * N × (nProbe/nCentroids) × N (probing) — tune nCentroids ≈ √N.
    * Output one row per vector (null neighbor if its probed lists are
    * empty of others).
    */
  /** Relational k-means: refine the hash-sampled seed centroids with
    * `iters` Lloyd steps — assign each vector to its nearest centroid
    * (broadcast, N×C scoring), then recompute each centroid as the
    * element-wise mean of its members (posexplode + quantized exact
    * sums, the q36 trick, so the result is deterministic under any
    * partitioning). Empty clusters keep their previous centroid. This
    * is IVF codebook training — the embedding-pipeline step that turns
    * the cheap seed quantizer into one that actually follows the data
    * distribution.
    *
    * Iteration protocol (the MLlib KMeans shape): the embeddings
    * projection is persisted ONCE and re-scanned from cache per step,
    * and each step's C centroids are COLLECTED to the driver and
    * re-broadcast — C × dim floats, a few KB. The r2 version instead
    * folded each iteration's centroid frame lazily into the next
    * iteration's plan; each step referenced the previous one twice, so
    * the plan (and the recompute work) doubled per iteration and `e`
    * was re-derived from parquet at every reference — q32b spent 2.5 s
    * where this spends ~1 s.
    */
  def trainCodebook(embeddings: DataFrame, nCentroids: Int = 32,
                    iters: Int = 2, sampleCap: Int = 0): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // TRAIN ON A HASH SAMPLE, not the corpus (r10 — the family's last
    // N×C term retired from the training path): each Lloyd step scores
    // sample×C, so unsampled training at C ≈ √N costs N^1.5 per
    // iteration — the assignment cost AGAIN, paid `iters` times before
    // the query even runs. Centroid ESTIMATION only needs enough
    // points per cluster for stable means; the standard practice
    // (MLlib trains on what it's given; sampling upstream is the
    // documented pattern, scikit-learn MiniBatchKMeans makes it the
    // algorithm) is a fixed per-centroid budget. Budget: `sampleCap`
    // rows, 0 → conf `graft.ivf.trainSampleCap`, else
    // min(max(4096, 64·C), 4M) — 64 points per centroid, floored so
    // small corpora keep training on everything (cap ≥ N ⇒ the sample
    // IS the corpus and results are bit-identical to unsampled),
    // capped so training cost is bounded at ANY corpus size. The
    // sample is the hash-smallest `cap` rows ((xxhash64(vec_id),
    // vec_id) order — deterministic, partitioning-independent, no RNG
    // state, the q37 discipline; TakeOrdered keeps it one pass, never
    // a global sort). Seeds are the sample's prefix, so seeding is
    // unchanged from the unsampled formulation.
    val cap = {
      val conf = spark.conf.getOption("graft.ivf.trainSampleCap").map(_.toInt)
      val c = if (sampleCap > 0) sampleCap else conf.getOrElse(0)
      if (c > 0) c else math.min(math.max(4096, 64 * nCentroids), 4000000)
    }
    require(cap >= nCentroids, s"sample cap $cap < nCentroids $nCentroids")
    val e = embeddings.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(cap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seed centroids: the hash-smallest vectors (deterministic, no
      // RNG) — the first nCentroids rows of the training sample
      var cents: Seq[(Long, Seq[Float])] = e
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(nCentroids)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      for (_ <- 1 to iters) {
        val cent = cents.toDF("cid", "cvec")
          .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))
          .select(col("cid"), col("cvec"), norm2(col("cvec")).as("cn2"))
        // the embedding rides through the assignment aggregate (one
        // value per vec_id, so first() is deterministic) — map-side
        // partials shrink the N×C frame to N rows before the exchange,
        // and the join back to `e` that a bare argmax would need
        // disappears
        val assign = e.join(broadcast(cent), lit(true))
          .select(col("vec_id"), col("cid"),
            cosine(col("embedding"), col("cvec"), col("n2"), col("cn2")).as("ccos"),
            col("embedding"))
          .groupBy(col("vec_id"))
          .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("tb"))).as("cid"),
            first(col("embedding")).as("embedding"))
        val means = assign
          .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("cid"), col("pos"))
          .agg((sum(floor(col("v").cast("double") * lit(1048576.0) + lit(0.5)).cast("long"))
            .cast("double") / lit(1048576.0) / count(lit(1))).as("m"))
          .groupBy(col("cid"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cid"),
            expr("transform(pm, x -> CAST(x.m AS FLOAT))").as("cvec"))
          .as[(Long, Seq[Float])].collect().toMap
        // empty clusters fall back to their previous centroid
        cents = cents.map { case (cid, prev) => (cid, means.getOrElse(cid, prev)) }
      }
      cents.toDF("cid", "cvec")
        .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))
        .select(col("cid"), col("cvec"), norm2(col("cvec")).as("cn2"))
    } finally e.unpersist()
  }

  def knnIvf(embeddings: DataFrame, nCentroids: Int = 0, nProbe: Int = 4,
             k: Int = 5, lloydIters: Int = 0): DataFrame = {
    // nCentroids ≤ 0 auto-sizes C ≈ √N (floor 16) — the balance point
    // of the cost model in the scaladoc: assignment N·C + probing
    // N²·nProbe/C is minimized at C ~ √(N·nProbe), and a FIXED C turns
    // the probe term quadratic as N outgrows it (BenchScale measured
    // row-traffic exponent 1.94 at the old fixed default of 32)
    val c =
      if (nCentroids > 0) nCentroids
      else math.max(16, math.ceil(math.sqrt(approxCount(embeddings).toDouble)).toInt)
    val e = embeddings.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"))
    val centroids =
      if (lloydIters > 0) trainCodebook(embeddings, c, lloydIters)
        .select(col("cid"), col("cvec"), col("cn2"))
      else e.orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(c)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"), col("n2").as("cn2"))

    // ONE aggregation over the N×C scoring frame serves both roles:
    // the nProbe nearest centroids per vector are the probe lists, and
    // element 0 IS the inverted-list assignment — top_k_by's
    // (ccos DESC, cid ASC) order is exactly the max_by(ccos, -cid)
    // tie-break the former separate assignment pass used. The tiny
    // result (N × nProbe ids) is materialized EAGERLY with a local
    // checkpoint so the two consumers don't re-run the scoring pass:
    // unlike persist(), no CacheManager entry outlives the returned
    // frame (the r3 version leaked one cached RDD per invocation, and
    // logged `Asked to cache already cached data` on every repeat) —
    // the ContextCleaner releases the checkpoint blocks as soon as the
    // result becomes unreachable.
    val top = e.join(broadcast(centroids), lit(true))
      .select(col("vec_id"), col("cid"),
        cosine(col("embedding"), col("cvec"), col("n2"), col("cn2")).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(graft.functions.TopKByFunctions
        .top_k_by(col("ccos"), col("cid"), nProbe).as("top"))
      .localCheckpoint(true)

    // inverted lists: each vector in exactly one centroid's list.
    // LIST CAP: uniform lists are ~N/C, but a tight cluster's list
    // grows with the cluster (≈ linearly in N) — probing it turns the
    // N²·nProbe/C model term back into ~N² on skewed corpora
    // (BenchScale measured work exponent 1.95 uncapped). Each list
    // keeps only its 2·ceil(N/C) members NEAREST the centroid (ccos is
    // already in the aggregate); with that bound candidates ≤
    // 2·nProbe·N²/C = O(N^1.5) at C ≈ √N, provably. Truncated members
    // remain queries — they lose only retrievability through an
    // oversized list, exactly where candidates are plentiful.
    val assign = top.select(col("vec_id"), col("top")(0)("id").as("cid"),
      col("top")(0)("ord").as("ccos"))
    // the cap applies to the PROBE side only — every vector keeps its
    // assignment (and its output row); an over-cap vector just can't be
    // RETRIEVED through the oversized list
    val listCap = 2 * math.ceil(
      math.max(1.0, approxCount(embeddings).toDouble) / c).toInt
    val byList = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid")).orderBy(col("ccos").desc, col("vec_id"))
    val listed = assign
      .withColumn("rn", row_number().over(byList))
      .filter(col("rn") <= listCap)
      .select(col("vec_id"), col("cid"))

    // each query probes its nProbe nearest centroids
    val probes = top.select(col("vec_id"), explode(col("top.id")).as("probe_cid"))

    val candidates = probes
      .join(listed.select(col("vec_id").as("neighbor_id"), col("cid").as("probe_cid")),
        Seq("probe_cid"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"))

    val scored = candidates
      .join(e.select(col("vec_id"), col("embedding").as("ea"), col("n2").as("na2")), Seq("vec_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"), col("n2").as("nb2")),
        Seq("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosine(col("ea"), col("eb"), col("na2"), col("nb2")).as("cos"))
    val ranked = scored.groupBy(col("vec_id"))
      .agg(graft.functions.TopKByFunctions.top_k_by(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("vec_id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"), col("t.ord").as("cos"))

    assign.select(col("vec_id"), col("cid"))
      .join(ranked, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** q36: per-label centroids — the embedding-quality op behind IVF
    * codebook training and cluster drift monitoring: element-wise mean
    * vector per label, emitted relationally as (label, pos, n,
    * mean_val) so the 64-wide vector never rides through the shuffle
    * as an array. Components are quantized to integer micro-units
    * (floor(x·1e6 + 0.5) — pure double IEEE ops, identical on any
    * engine; a DECIMAL cast would tie-break .5s half-up here and
    * half-even elsewhere) and summed as longs: exact under any
    * partitioning, bit-equal to the DuckDB oracle.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .groupBy(col("label"), (col("pos0") + 1).cast("long").as("pos"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("v").cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))
          .cast("double") / lit(1000000.0) / count(lit(1))).as("mean_val"))

  /** q30: near-duplicate pairs by cosine ≥ tau (exact, pair ids only —
    * same FP-stability rationale as q28). Emits each qualifying pair
    * once with id_a < id_b.
    *
    * PHYSICAL SHAPE (the r1 verdict's #1 finding): the naive `a.join(b,
    * id_a < id_b)` is a non-equi join → BroadcastNestedLoopJoin — one
    * side fully broadcast, the driver a bottleneck, unusable at scale.
    * This version enumerates the N² candidate space as a balanced
    * block-pair EQUI-join (the 1-Bucket-Theta pattern, Okcan &
    * Riedewald, SIGMOD'11): vectors hash into `nBlocks` blocks; every
    * unordered block pair (i ≤ j) is one join task; side A replicates a
    * block-g vector to tasks (g, j≥g), side B to tasks (i≤g, g). The
    * join key is the task id — a plain shuffle join, ~N·(B+1)/2 rows
    * per side, (N/B)² work per task, evenly spread over B(B+1)/2 tasks,
    * no broadcast, no driver state.
    *
    * WHY NOT LSH here: measured on this corpus, 4123 of 4137 qualifying
    * pairs at sf0.1 have cosine in [0.35, 0.5) — the bulk tail of
    * random vectors, where the RHP per-bit collision probability is
    * only 1 − θ/π ≈ 0.61. No banding scheme reaches recall 1 there at
    * sub-quadratic cost (the LSH ρ-exponent bounds it away), so an
    * EXACT tau-join is inherently Θ(N²) comparisons — the operator's
    * job is to distribute them evenly, which this shape does. The
    * sub-quadratic path with honestly-approximate semantics is
    * embeddingDedupLsh (q30b) below.
    */
  def embeddingDedup(embeddings: DataFrame, tau: Double = 0.35,
                     nBlocks: Int = 16): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("n2"))
      .withColumn("g", pmod(xxhash64(col("vec_id")), lit(nBlocks)).cast("int"))
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"),
        col("n2").as("na2"), col("g").as("ga"),
        explode(sequence(col("g"), lit(nBlocks - 1))).as("tb"))
      .select(col("ia"), col("ea"), col("na2"), col("ga"),
        (col("ga") * nBlocks + col("tb")).as("task"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"),
        col("n2").as("nb2"), col("g").as("gb"),
        explode(sequence(lit(0), col("g"))).as("ta"))
      .select(col("ib"), col("eb"), col("nb2"), col("gb"),
        (col("ta") * nBlocks + col("gb")).as("task"))
    // task (i,j), i<j: A carries block i, B block j — each cross-block
    // pair meets exactly once. Task (i,i): both sides carry block i —
    // the id inequality keeps one orientation. cos(a,b) ≡ cos(b,a)
    // bit-exactly (per-element products commute, the index order of the
    // accumulation is unchanged), so emitting (least, greatest) matches
    // the oracle's id_a < id_b orientation with no FP hazard.
    a.join(b, Seq("task"))
      .filter(col("ga") =!= col("gb") || col("ia") < col("ib"))
      .filter(cosine(col("ea"), col("eb"), col("na2"), col("nb2")) >= tau)
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"))
  }

  /** q30b: sub-quadratic near-duplicate pairs — banded LSH candidates +
    * exact cosine verify. Semantics are honestly approximate (pairs
    * must share one of nBits/bandBits signature bands to be considered;
    * measured recall vs q30's exact output is asserted in
    * SimilaritySpec), but the pipeline is EXACTLY reproducible in the
    * DuckDB oracle: the signature (QrhpSignatureExpr) is pure integer
    * arithmetic, so the candidate sets — and therefore the verified
    * output — are engine-independent, and this query is oracle-checked
    * rows+schema+hash like the exact one.
    *
    * Scale: candidate cost is Σ_buckets |bucket|² per band — the
    * equi-join-on-(band, sig) shape of q25/q26. bandBits ≤ 0
    * auto-sizes from the input count with the same integer ladder the
    * oracle replays (smallest b ≥ 4 with N ≤ 32·2^b, capped at 16):
    * bucket OCCUPANCY stays ~32 at every scale, so candidate volume is
    * ~nSigs·nBands·32·N instead of drifting toward all-pairs as N
    * outgrows a fixed bucket width. Band count is nSigs·(64/bandBits)
    * (leftover signature bits unused) — fewer, deeper tables as N
    * grows, the standard LSH budget trade. `nSigs` INDEPENDENT 64-bit
    * signatures (disjoint plane ranges via planeOffset) multiply the
    * band budget: at tau in the random-similarity tail (cosine ~0.35,
    * per-bit collision ~0.61) one 64-bit signature's recall tops out
    * near 0.8 — the second signature lifts pair recall to ~0.96 and
    * GROUP recall (q42b) past 0.9 for 2× candidate volume, same
    * asymptotic shape.
    */
  def embeddingDedupLsh(embeddings: DataFrame, tau: Double = 0.35,
                        nBits: Int = 64, bandBits: Int = 0,
                        nSigs: Int = 2): DataFrame = {
    val bb =
      if (bandBits > 0) bandBits
      else {
        val n = approxCount(embeddings)
        var b = 4
        while (b < 16 && n > 32L * (1L << b)) b += 1
        b
      }
    val nBands = nBits / bb
    val sigCols = (0 until nSigs).map { t =>
      graft.functions.VectorFunctions
        .qrhp_signature(col("embedding"), nBits, t * nBits).as(s"sig$t")
    }
    val e = embeddings.select(Seq(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2")) ++ sigCols: _*)
    val bandStructs = for (t <- 0 until nSigs; band <- 0 until nBands) yield
      struct(lit(t * nBands + band).as("band_id"),
        shiftrightunsigned(col(s"sig$t"), band * bb)
          .bitwiseAND(lit((1L << bb) - 1)).as("band_sig"))
    val bands = e.select(col("vec_id"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band_id").as("band_id"),
        col("bb.band_sig").as("band_sig"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_sig") === col("b.band_sig") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
        col("n2").as("na2")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
        col("n2").as("nb2")), Seq("id_b"))
      .filter(cosine(col("ea"), col("eb"), col("na2"), col("nb2")) >= tau)
      .select(col("id_a"), col("id_b"))
  }

  /** q29b: ORACLE-EXACT LSH top-k — the hash-checkable promotion of
    * q29 (r11 verdict task #3), the way q50's aHash and q63's IVF were
    * promoted: keep the approximate-candidate semantics, move every
    * bit of the pipeline into the integer domain so the DuckDB replay
    * matches rows+schema+hash.
    *
    *  - candidates: EXACTLY q30b's machinery — nSigs independent
    *    integer-quantized random-hyperplane signatures
    *    (QrhpSignatureExpr: 31-bit LCG planes × the 2²⁰-quantized
    *    vector, pure int64), split into auto-sized bands (same
    *    N≤32·2^b ladder the oracle replays), candidate pairs = any
    *    shared (band_id, band_sig) bucket;
    *  - ranking: q63's integer squared-L2 over the same 2²⁰
    *    quantization — no shift needed, differences cancel it —
    *    ranked (d2 ASC, neighbor ASC), ties deterministic in both
    *    engines; multi-band duplicate candidates dedup INSIDE the
    *    bounded top_k_by_distinct aggregate (no standalone distinct
    *    exchange), d2 ≤ 64·2⁴⁴ < 2⁵³ so the double ord is exact.
    *
    * vs q29 (which stays registered as the FP-cosine path with
    * occupancy salting): the integer contract buys checkability at the
    * cost of ranking by quantized-L2 instead of float cosine — on unit-
    * normalized corpora the two orders agree except within 2⁻²⁰
    * quantization bands (SimilaritySpec measures recall@k vs the q28
    * exact baseline). Candidate volume is q30b's Σ|bucket|² shape,
    * occupancy-bounded by the band ladder. Inner semantics: vectors
    * whose buckets are all singletons emit no rows (q63 convention).
    *
    * Output: (vec_id, rank, neighbor_id, d2).
    */
  def knnLshInt(embeddings: DataFrame, nBits: Int = 64, bandBits: Int = 0,
                nSigs: Int = 2, topK: Int = 5): DataFrame = {
    val bb =
      if (bandBits > 0) bandBits
      else {
        val n = approxCount(embeddings)
        var b = 4
        while (b < 16 && n > 32L * (1L << b)) b += 1
        b
      }
    val nBands = nBits / bb
    val sigCols = (0 until nSigs).map { t =>
      graft.functions.VectorFunctions
        .qrhp_signature(col("embedding"), nBits, t * nBits).as(s"sig$t")
    }
    val e = embeddings.select(Seq(col("vec_id"),
      expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT))").as("q"))
      ++ sigCols: _*)
    val bandStructs = for (t <- 0 until nSigs; band <- 0 until nBands) yield
      struct(lit(t * nBands + band).as("band_id"),
        shiftrightunsigned(col(s"sig$t"), band * bb)
          .bitwiseAND(lit((1L << bb) - 1)).as("band_sig"))
    val bands = e.select(col("vec_id"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band_id").as("band_id"),
        col("bb.band_sig").as("band_sig"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_sig") === col("b.band_sig") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"))
    cand
      .join(e.select(col("vec_id"), col("q").as("qa")), Seq("vec_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("q").as("qb")),
        Seq("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        graft.functions.VectorFunctions.l2_dist(col("qa"), col("qb")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(graft.functions.TopKByFunctions
        .top_k_by_distinct((-col("d2")).cast("double"), col("neighbor_id"), topK).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("t.id").as("neighbor_id"), (-col("t.ord")).cast("long").as("d2"))
  }

  /** The q29b oracle: the q30b QRHP signature/band replay (weights,
    * quantization, bit aggregation, auto band ladder — verbatim the
    * CTE chain q30b/q42b pin) feeding q63's integer pair-d2 ranking
    * (row_number (d2 ASC, neighbor ASC) ≤ topK).
    */
  def knnLshIntOracleSql(topK: Int = 5): String =
    s"""WITH w AS (
       |  SELECT j, d, (s5 // 65536 - 16384) AS w FROM (
       |    SELECT j, d, (1103515245 * xor(s3, s3 // 2048) + 12345) % 2147483648 AS s5 FROM (
       |      SELECT j, d, (1103515245 * xor(s1, s1 // 65536) + 12345) % 2147483648 AS s3 FROM (
       |        SELECT j, d, (1103515245 * (j*1000003 + d) + 12345) % 2147483648 AS s1
       |        FROM range(0, 128) t1(j), range(0, 64) t2(d))))),
       |qv AS (
       |  SELECT vec_id, d,
       |         CAST(floor(CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
       |  FROM embeddings, range(0, 64) t(d)),
       |qq AS (
       |  SELECT vec_id, list(q ORDER BY d) AS q FROM qv GROUP BY vec_id),
       |bits AS (
       |  SELECT vec_id, j, CASE WHEN sum(q * w) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM qv JOIN w USING (d)
       |  GROUP BY vec_id, j),
       |bw AS (
       |  SELECT CASE WHEN n <= 512 THEN 4 WHEN n <= 1024 THEN 5
       |              WHEN n <= 2048 THEN 6 WHEN n <= 4096 THEN 7
       |              WHEN n <= 8192 THEN 8 WHEN n <= 16384 THEN 9
       |              WHEN n <= 32768 THEN 10 WHEN n <= 65536 THEN 11
       |              WHEN n <= 131072 THEN 12 WHEN n <= 262144 THEN 13
       |              WHEN n <= 524288 THEN 14 WHEN n <= 1048576 THEN 15
       |              ELSE 16 END AS bb
       |  FROM (SELECT count(*) AS n FROM embeddings)),
       |bands AS (
       |  SELECT vec_id, (j // 64) * (64 // bb) + (j % 64) // bb AS band_id,
       |         sum(bit * (1 << ((j % 64) % bb))) AS band_sig
       |  FROM bits, bw
       |  WHERE (j % 64) < (64 // bb) * bb
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_sig = b.band_sig
       |   AND a.vec_id <> b.vec_id),
       |pd AS (
       |  SELECT c.vec_id, c.neighbor_id,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(range(1, len(a.q) + 1),
       |             i -> (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)])
       |                * (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)]))),
       |           (acc, x) -> acc + x) AS d2
       |  FROM cand c
       |  JOIN qq a ON a.vec_id = c.vec_id
       |  JOIN qq b ON b.vec_id = c.neighbor_id),
       |rk AS (
       |  SELECT vec_id, neighbor_id, d2,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY d2 ASC, neighbor_id ASC) AS rank
       |  FROM pd)
       |SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, d2
       |FROM rk WHERE rank <= $topK""".stripMargin

  /** q60: ORACLE-EXACT k-means clustering — Lloyd's algorithm run
    * ENTIRELY in integer arithmetic, so the distributed iteration
    * hash-matches an unrolled-CTE DuckDB replay bit-for-bit (the q55
    * PageRank discipline applied to clustering; trainCodebook/q32b
    * stay the FP rows-only path, this is the checkable twin). The
    * clustering step a training pipeline runs for corpus partitioning,
    * topic bucketing, or semantic-dedup sharding — and the first
    * member of the embedding family whose ASSIGNMENTS (not just
    * recall) the oracle verifies.
    *
    * Determinism recipe:
    *  - quantize each float component to `q = floor(v·2²⁰ + 0.5) + 2²⁰`
    *    — the q36 micro-unit trick plus a +2²⁰ SHIFT that makes every
    *    value nonnegative (distances are shift-invariant, means commute
    *    with the shift), so every later floor-division is plain
    *    truncating `div` ↔ DuckDB `//` with no negative-operand
    *    divergence (the §8 `div`-truncation hazard engineered away
    *    rather than patched with pmod);
    *  - squared-L2 distances and sums stay in int64: |diff| < 2²²,
    *    d2 ≤ 64·2⁴⁴ = 2⁵⁰; per-(cid,pos) member sums < N·2²¹
    *    (overflow at N ≈ 2⁴² rows — beyond 100 TB of embeddings);
    *  - seeds = the k hash-smallest vectors by the ReplayableHash
    *    family at index 215 (fresh index; 0..63 minhash, 64..127
    *    simhash, 200 q37, 210/211 q46, 212..214 pack/mixture) — the
    *    q37 partitioning-independent no-RNG discipline, closed-form in
    *    SQL; vec_id is pre-reduced mod P so `a·s` cannot overflow at
    *    any id magnitude;
    *  - argmin tie-break (d2 ASC, cid ASC) via ONE `array_min` over an
    *    array of (d2, cid) structs — lexicographic struct order, the
    *    max_by-over-struct idiom's total-order cousin (↔ row_number
    *    ORDER BY d2, cid in the oracle);
    *  - empty clusters keep their previous centroid (both sides
    *    express it as the same coalesce against the prior iteration).
    *
    * Scale shape: centroids are driver-side LITERALS (k·64 longs — the
    * trainCodebook collect protocol, bounded by k), so the assignment
    * pass is a PURE MAP over the checkpointed quantized frame: zero
    * joins, zero exchanges — strictly cheaper than the N×C
    * broadcast-join assignment (no N×C intermediate rows exist at
    * all). Per iteration the only shuffle is the (cid, pos) partial
    * aggregate (N·64 narrow rows → k·64). The literal-expression tree
    * is ~8 nodes per centroid (array literals are single Literal
    * nodes), fine to k ~ hundreds; at the √N sizings beyond that, use
    * trainCodebook — this operator's contract is exact-checkable
    * clustering at fixed k, not ANN codebook training.
    *
    * Output: (vec_id, cluster, d2) — one row per vector, all int64.
    */
  def kmeansAssign(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame =
    kmeansFit(embeddings, k, iters) match {
      case None =>
        embeddings.sparkSession.createDataFrame(
          embeddings.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "vec_id BIGINT, cluster BIGINT, d2 BIGINT"))
      case Some((cents, q)) =>
        kmeansAssigned(q, cents)
          .select(col("vec_id"), col("best.cid").cast("long").as("cluster"),
            col("best.d2").as("d2"))
    }

  /** The trained q60 centroids alone: same fit, the quantized frame
    * discarded.
    */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 8,
                      iters: Int = 3): Seq[(Int, Seq[Long])] =
    kmeansFit(embeddings, k, iters).map(_._1).getOrElse(Nil)

  /** One assignment pass: d2 per centroid from literal arrays, argmin
    * via array_min over (d2, cid) structs — a PURE MAP, zero joins.
    */
  private[operators] def kmeansAssigned(q: DataFrame, cs: Seq[(Int, Seq[Long])]): DataFrame = {
    // L2DistExpr, not aggregate(zip_with(...)): the lambda pair is
    // CodegenFallback (interpreted per element) and this map runs
    // N×k×dim element ops per iteration — the kernel swap alone took
    // q60 1.7 → ~0.6 s at sf0.1. Integer sums are order-free, so the
    // value is bit-identical to the lambda fold and the oracle.
    val ds = cs.map { case (cid, cvec) =>
      struct(
        graft.functions.VectorFunctions.l2_dist(col("q"), typedLit(cvec)).as("d2"),
        lit(cid).as("cid"))
    }
    q.select(col("vec_id"), col("q"), array_min(array(ds: _*)).as("best"))
  }

  /** Shared q60 fit: quantize+checkpoint, hash-seed, `iters` integer
    * Lloyd steps. None on an empty corpus; otherwise the trained
    * centroids plus the checkpointed quantized frame (so the caller's
    * final assignment re-reads the checkpoint, not parquet).
    */
  private[operators] def kmeansFit(embeddings: DataFrame, k: Int,
                        iters: Int): Option[(Seq[(Int, Seq[Long])], DataFrame)] = {
    // Hard bound on the literal-centroid plan shape: each centroid
    // adds ~8 expression nodes per assignment pass, and a deploy-sized
    // k (√N ~ tens of thousands) would silently hand janino a
    // multi-second (or uncompilable) expression tree — the q29
    // giant-tree lesson applied preemptively. Beyond this, the right
    // operator is trainCodebook's join-path ANN family, not exact
    // literal-map k-means.
    require(k >= 1 && k <= 512,
      s"kmeansFit: k=$k out of [1, 512] — the literal-centroid map is " +
        "bounded by plan size; for larger k use trainCodebook's join path")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val P = graft.functions.ReplayableHash.P
    val ha = graft.functions.ReplayableHash.a(215)
    val hb = graft.functions.ReplayableHash.b(215)
    // quantize + shift (nonnegative by construction), hash for seeding;
    // checkpointed eagerly — re-scanned iters+1 times (§8 persist rule)
    val q = embeddings.select(col("vec_id"),
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) + 1048576)").as("q"),
        ((lit(ha) * (col("vec_id") % lit(P)) + lit(hb)) % lit(P)).as("h"))
      .localCheckpoint(true)
    // seeds: hash-smallest k vectors (TakeOrdered — one pass, no
    // global sort); cid = rank in (h, vec_id) order
    val seeds: Array[Seq[Long]] = q.orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("q")).as[Seq[Long]].collect()
    if (seeds.isEmpty) return None
    var cents: Seq[(Int, Seq[Long])] = seeds.toSeq.zipWithIndex.map(_.swap)
    for (_ <- 1 to iters) {
      // new centroid = element-wise floor(sum/count) over members
      // (nonnegative, so div == floor); empty clusters keep previous
      val means = kmeansAssigned(q, cents)
        .select(col("best.cid").as("cid"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .select(col("cid"), col("pos"), expr("s div n").as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), expr("transform(pm, x -> x.m)").as("cvec"))
        .as[(Int, Seq[Long])].collect().toMap
      cents = cents.map { case (cid, prev) => (cid, means.getOrElse(cid, prev)) }
    }
    Some((cents, q))
  }

  /** The q60 oracle: the identical integer Lloyd iteration unrolled as
    * chained CTEs (the pageRankOracleSql discipline — DuckDB's
    * recursive form forbids aggregates in the recursive member). Same
    * quantize-shift, same index-215 seed hash, same truncating `//`
    * (nonnegative domain makes it floor), argmin as row_number
    * (d2 ASC, cid ASC) ↔ Spark's array_min struct order. Distance
    * folds are scalar-accumulator list_reduce — the §4-stable class
    * (probed at threads=8 before commit, per the q51 rule).
    */
  /** q79: CLUSTER-BALANCED SAMPLING — the diversity-preserving subset
    * selection step of corpus curation (cluster the embedding space,
    * then take a bounded per-cluster quota): uniform sampling
    * over-represents dense regions, so pipelines that want coverage
    * sample per cluster instead (the cluster-then-cap recipe behind
    * SemDeDup-style curation and per-domain balancing, composed here
    * from the library's own proven kernels — q60's integer Lloyd for
    * the clusters, q37's deterministic hash selection, q28's bounded
    * TopKBy for the per-group cap).
    *
    * Keep = the `quota` hash-smallest members per cluster, order by
    * (universal-hash(index 232) of the poly-hashed id, vec_id) — a
    * pure function of vec_id, so the sample is reproducible across
    * runs and partitionings; clusters smaller than the quota keep
    * everything (both paths exercised at the registered sizing:
    * quota=40 vs N/k=62.5 at sf0.01).
    *
    * Scale: assignment is q60's literal-centroid pure map (zero
    * joins); the cap is ONE aggregate keyed by cluster whose
    * TypedImperativeAggregate state is ≤ quota rows per cluster PER
    * PARTITION (map-side partials — never a row_number window over
    * the corpus, whose dominant-cluster partition is the 100 TB
    * straggler). Output: (vec_id, cluster, r) with r the 1-based
    * within-cluster sample rank.
    */
  def clusterSample(embeddings: DataFrame, k: Int = 8, iters: Int = 3,
                    quota: Int = 40): DataFrame = {
    require(quota >= 1, "quota >= 1")
    val P = graft.functions.ReplayableHash.P
    val ha = graft.functions.ReplayableHash.a(232)
    val hb = graft.functions.ReplayableHash.b(232)
    val s = graft.functions.VectorFunctions.poly_hash(
      concat(lit("cbal:"), col("vec_id").cast("string")))
    kmeansAssign(embeddings, k, iters)
      .select(col("vec_id"), col("cluster"),
        ((lit(ha) * s + lit(hb)) % lit(P)).as("h"))
      // bottom-k by h == top-k by -h under TopKBy's (ord DESC, id ASC);
      // h < 2³¹ so the double ord is exact, ties fall to vec_id ASC —
      // identical to the oracle's (h ASC, vec_id ASC) row_number
      .groupBy(col("cluster"))
      .agg(graft.functions.TopKByFunctions.top_k_by(
        -col("h").cast("double"), col("vec_id"), quota).as("top"))
      .select(col("cluster"), posexplode(col("top")))
      .select(col("col.id").as("vec_id"), col("cluster"),
        (col("pos") + 1).cast("long").as("r"))
  }

  /** The q79 oracle: the q60 centroid CTEs + the identical hash draw,
    * rank as row_number (h ASC, vec_id ASC) capped at the quota.
    */
  def clusterSampleOracleSql(k: Int = 8, iters: Int = 3,
                             quota: Int = 40): String = {
    val P = graft.functions.ReplayableHash.P
    val ha = graft.functions.ReplayableHash.a(232)
    val hb = graft.functions.ReplayableHash.b(232)
    s"""${kmeansCentroidCtes(k, iters)},
       |${kmeansAssignCte(iters + 1, s"cent$iters")},
       |sd AS (
       |  SELECT vec_id,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(range(1, length(kk)+1),
       |             i -> CAST(unicode(substring(kk, CAST(i AS INT), 1)) AS BIGINT))),
       |           (h, c) -> (h * 31 + c) % 1000000007) AS s
       |  FROM (SELECT vec_id, 'cbal:' || CAST(vec_id AS VARCHAR) AS kk
       |        FROM embeddings) t),
       |jj AS (
       |  SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster,
       |         ($ha * sd.s + $hb) % $P AS h
       |  FROM a${iters + 1} a JOIN sd USING (vec_id)),
       |rr AS (
       |  SELECT vec_id, cluster,
       |         CAST(row_number() OVER (PARTITION BY cluster
       |           ORDER BY h ASC, vec_id ASC) AS BIGINT) AS r
       |  FROM jj)
       |SELECT vec_id, cluster, r FROM rr WHERE r <= $quota""".stripMargin
  }

  def kmeansOracleSql(k: Int = 8, iters: Int = 3): String =
    s"""${kmeansCentroidCtes(k, iters)},
       |${kmeansAssignCte(iters + 1, s"cent$iters")}
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster, d2
       |FROM a${iters + 1}""".stripMargin

  /** The q63 oracle: the q60 centroid CTEs (shared prefix) extended
    * with the IVF retrieval chain — per-vector distances to ALL k
    * final centroids ranked (d2 ASC, cid ASC), rn = 1 is the inverted-
    * list assignment, rn ≤ nProbe the probe set, candidates = probed
    * lists minus self, exact integer pair-d2 ranked (d2 ASC,
    * neighbor ASC) to topK. Every fold is the §4-stable
    * scalar-accumulator list_reduce.
    */
  def knnIvfIntOracleSql(k: Int = 8, iters: Int = 3, nProbe: Int = 3,
                         topK: Int = 5): String = {
    val d2fold =
      """list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(range(1, len(a.q) + 1),
        |               i -> (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)])
        |                  * (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)]))),
        |             (acc, x) -> acc + x)""".stripMargin
    s"""${kmeansCentroidCtes(k, iters)},
       |dists AS (
       |  SELECT v.vec_id, c.cid,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(range(1, len(v.q) + 1),
       |               i -> (v.q[CAST(i AS INT)] - c.c[CAST(i AS INT)])
       |                  * (v.q[CAST(i AS INT)] - c.c[CAST(i AS INT)]))),
       |             (acc, x) -> acc + x) ASC, c.cid ASC) AS rn
       |  FROM q v CROSS JOIN cent$iters c),
       |assign AS (SELECT vec_id, cid FROM dists WHERE rn = 1),
       |cand AS (
       |  SELECT p.vec_id, n.vec_id AS neighbor_id
       |  FROM (SELECT vec_id, cid FROM dists WHERE rn <= $nProbe) p
       |  JOIN assign n ON n.cid = p.cid AND n.vec_id <> p.vec_id),
       |pd AS (
       |  SELECT c.vec_id, c.neighbor_id, $d2fold AS d2
       |  FROM cand c
       |  JOIN q a ON a.vec_id = c.vec_id
       |  JOIN q b ON b.vec_id = c.neighbor_id),
       |rk AS (
       |  SELECT vec_id, neighbor_id, d2,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY d2 ASC, neighbor_id ASC) AS rank
       |  FROM pd)
       |SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, d2
       |FROM rk WHERE rank <= $topK""".stripMargin
  }

  /** q63: ORACLE-EXACT IVF KNN — approximate nearest neighbours whose
    * every candidate and every rank HASH-MATCHES a DuckDB replay,
    * closing the ANN family's last checkability gap (q29/q32/q32b are
    * rows-only because FP cosine sign flips under reordering; here the
    * whole retrieval — codebook, assignment, probing, ranking — runs
    * in the q60 integer domain where no reordering can change a bit).
    *
    * Pipeline: q60's integer Lloyd codebook (shared kmeansFit — same
    * seeds, same quantization `floor(v·2²⁰+0.5)+2²⁰`); per vector the
    * distances to ALL k centroids sorted lexicographically as (d2,
    * cid) structs — element 0 is the inverted-list assignment, the
    * first nProbe elements are the probe set (↔ the oracle's
    * row_number (d2 ASC, cid ASC)); candidates = union of probed
    * lists minus self via ONE equi-join on cluster id; exact integer
    * pair-d2 (zip_with fold, |d2| ≤ 64·2⁴² < 2⁵³ so the TopKBy double
    * ord carries −d2 exactly); top-k per query by (d2 ASC,
    * neighbor ASC) as a bounded partial aggregation — never a window
    * sort over a posting list.
    *
    * Scale: candidates ≈ N²·nProbe/k — at k ≈ √N this is the provable
    * O(N^1.5) of q32 (BenchScale probes exactly that sizing under
    * `q63_ivf_sqrtn`). The REGISTERED oracle instance pins k = 8,
    * iters = 3 (the unrolled-CTE checkability contract, like q60);
    * deploy-at-scale callers pass k ≈ √N through the same code. q32's
    * per-list cap is deliberately absent here: capping is a recall
    * heuristic the exact-checkable contract must not hide behind —
    * use knnIvf when lists skew.
    *
    * Output: (vec_id, rank, neighbor_id, d2) — queries whose probed
    * lists hold no other vector emit no rows (inner semantics, both
    * engines).
    */
  def knnIvfInt(embeddings: DataFrame, k: Int = 8, iters: Int = 3,
                nProbe: Int = 3, topK: Int = 5): DataFrame = {
    require(nProbe >= 1 && nProbe <= k, "1 <= nProbe <= k")
    kmeansFit(embeddings, k, iters) match {
      case None =>
        embeddings.sparkSession.createDataFrame(
          embeddings.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "vec_id BIGINT, rank BIGINT, neighbor_id BIGINT, d2 BIGINT"))
      case Some((cents, q)) =>
        val ds = cents.map { case (cid, cvec) =>
          struct(
            graft.functions.VectorFunctions.l2_dist(col("q"), typedLit(cvec)).as("d2"),
            lit(cid.toLong).as("cid"))
        }
        val ranked = q.select(col("vec_id"), col("q"),
          array_sort(array(ds: _*)).as("ranked"))
        val assign = ranked.select(col("vec_id").as("neighbor_id"),
          col("ranked")(0)("cid").as("cluster"), col("q").as("qn"))
        val probes = ranked
          .select(col("vec_id"), col("q"),
            explode(slice(col("ranked"), 1, nProbe)).as("p"))
          .select(col("vec_id"), col("q"), col("p.cid").as("cluster"))
        probes.join(assign, Seq("cluster"))
          .filter(col("vec_id") =!= col("neighbor_id"))
          .select(col("vec_id"), col("neighbor_id"),
            graft.functions.VectorFunctions.l2_dist(col("q"), col("qn")).as("d2"))
          .groupBy(col("vec_id"))
          .agg(graft.functions.TopKByFunctions
            .top_k_by((-col("d2")).cast("double"), col("neighbor_id"), topK).as("top"))
          .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
            col("t.id").as("neighbor_id"), (-col("t.ord")).cast("long").as("d2"))
    }
  }

  /** One oracle assignment CTE: argmin centroid per vector from
    * `$centIn` via row_number (d2 ASC, cid ASC), carrying q and d2.
    */
  private[operators] def kmeansAssignCte(it: Int, centIn: String): String =
      s"""a$it AS (
         |  SELECT vec_id, q, cid, d2 FROM (
         |    SELECT v.vec_id, v.q, c.cid,
         |           list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             list_transform(range(1, len(v.q) + 1),
         |               i -> (v.q[CAST(i AS INT)] - c.c[CAST(i AS INT)])
         |                  * (v.q[CAST(i AS INT)] - c.c[CAST(i AS INT)]))),
         |             (acc, x) -> acc + x) AS d2,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY list_reduce(list_prepend(CAST(0 AS BIGINT),
         |               list_transform(range(1, len(v.q) + 1),
         |                 i -> (v.q[CAST(i AS INT)] - c.c[CAST(i AS INT)])
         |                    * (v.q[CAST(i AS INT)] - c.c[CAST(i AS INT)]))),
         |               (acc, x) -> acc + x) ASC, c.cid ASC) AS rn
         |    FROM q v CROSS JOIN $centIn c) t WHERE rn = 1)""".stripMargin

  /** Shared q60/q63 oracle prefix: quantize, hash-seed, `iters`
    * unrolled integer Lloyd steps → final centroid CTE `cent$iters`.
    */
  private[operators] def kmeansCentroidCtes(k: Int, iters: Int): String = {
    val P = graft.functions.ReplayableHash.P
    val ha = graft.functions.ReplayableHash.a(215)
    val hb = graft.functions.ReplayableHash.b(215)
    val steps = (1 to iters).map { it =>
      s"""${kmeansAssignCte(it, s"cent${it - 1}")},
         |m$it AS (
         |  SELECT cid, i AS pos,
         |         CAST(CAST(sum(q[CAST(i AS INT)]) AS BIGINT) // count(*) AS BIGINT) AS m
         |  FROM a$it, range(1, 65) AS t(i)
         |  GROUP BY cid, i),
         |cent$it AS (
         |  SELECT c0.cid, coalesce(l.c, c0.c) AS c
         |  FROM cent${it - 1} c0 LEFT JOIN
         |    (SELECT cid, list(m ORDER BY pos) AS c FROM m$it GROUP BY cid) l
         |    USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) + 1048576) AS q,
       |         (($ha * (vec_id % $P) + $hb) % $P) AS h
       |  FROM embeddings),
       |cent0 AS (
       |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, q AS c
       |  FROM q ORDER BY h, vec_id LIMIT $k),
       |$steps""".stripMargin
  }

  // ==== q65: PRODUCT QUANTIZATION (Jégou/Douze/Schmid, "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011) — the
  // memory-side ANN scale path the IVF family (q63) doesn't cover:
  // compress each 64-dim vector to M=8 sub-codes (one byte-sized id
  // per subspace) and answer queries with ASYMMETRIC DISTANCE
  // COMPUTATION (ADC) against the codes alone. Everything runs in the
  // q60 integer domain (same quantize `floor(v·2²⁰+0.5)+2²⁰`, same
  // index-215 seed hash, integer Lloyd per subspace), so BOTH the
  // encoder and the search are hash-exact against a DuckDB replay —
  // where FAISS-style FP PQ could only be recall-gated. ====

  private val PQ_M = 8 // subspaces over the 64-dim corpus vectors
  private val PQ_D = 8 // dims per subspace

  /** Shared q65 fit: quantize+hash once (the kmeansFit discipline),
    * explode each vector into its M subvectors, then run ONE joint
    * integer Lloyd over all subspaces — the per-subspace aggregates
    * ride a single (sub, cid, pos) shuffle per iteration instead of M
    * sequential jobs. Seeds are the hash-smallest `kcode` vectors,
    * sliced per subspace (one ordering pass shared by every
    * subspace). Returns the (sub, cid) → codeword map (driver-side,
    * M·kcode·PQ_D longs — bounded), the checkpointed exploded frame,
    * and the checkpointed full-vector frame (for query selection).
    */
  private[operators] def pqFit(embeddings: DataFrame, kcode: Int, iters: Int)
      : Option[(Map[(Int, Int), Seq[Long]], DataFrame, DataFrame)] = {
    val spark = embeddings.sparkSession
    val P = graft.functions.ReplayableHash.P
    val ha = graft.functions.ReplayableHash.a(215)
    val hb = graft.functions.ReplayableHash.b(215)
    val q = embeddings.select(col("vec_id"),
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) + 1048576)").as("q"),
        ((lit(ha) * (col("vec_id") % lit(P)) + lit(hb)) % lit(P)).as("h"))
      .localCheckpoint(true)
    pqFitQ(q, kcode, iters).map { case (cents, ex) => (cents, ex, q) }
  }

  /** The fit core over an ALREADY-integer frame (vec_id, q:
    * array<long>, h) — shared by q65 (quantized embeddings) and q66
    * (coarse-residual vectors). Any common shift of `q`'s domain
    * cancels in every distance, so callers only owe nonnegativity
    * (the truncating-div ↔ floor contract of the mean update).
    */
  private[operators] def pqFitQ(q: DataFrame, kcode: Int, iters: Int)
      : Option[(Map[(Int, Int), Seq[Long]], DataFrame)] = {
    require(kcode >= 1 && kcode <= 64,
      s"pqFit: kcode=$kcode out of [1, 64] — the per-subspace argmin is a " +
        "literal when-chain of M*kcode distance nodes; PQ's whole point is " +
        "tiny per-subspace codebooks (the paper uses 256)")
    val spark = q.sparkSession
    import spark.implicits._
    val subs = (0 until PQ_M).map(m =>
      struct(lit(m).as("sub"), slice(col("q"), m * PQ_D + 1, PQ_D).as("qs")))
    val ex = q.select(col("vec_id"), explode(array(subs: _*)).as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"), col("s.qs").as("qs"))
      .localCheckpoint(true)
    val seeds: Array[Seq[Long]] = q.orderBy(col("h"), col("vec_id")).limit(kcode)
      .select(col("q")).as[Seq[Long]].collect()
    if (seeds.isEmpty) return None
    var cents: Map[(Int, Int), Seq[Long]] =
      (for { m <- 0 until PQ_M; (v, j) <- seeds.zipWithIndex.toSeq }
        yield (m, j) -> v.slice(m * PQ_D, m * PQ_D + PQ_D)).toMap
    for (_ <- 1 to iters) {
      // joint mean update: (sub, cid, pos) partials in one shuffle;
      // empty cells keep their previous codeword (the q60 coalesce)
      val means = pqAssigned(ex, cents)
        .select(col("sub"), col("best.cid").as("cid"),
          posexplode(col("qs")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .select(col("sub"), col("cid"), col("pos"), expr("s div n").as("m"))
        .groupBy(col("sub"), col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("sub"), col("cid"), expr("transform(pm, x -> x.m)").as("cvec"))
        .as[(Int, Int, Seq[Long])].collect()
        .map { case (m, j, v) => (m, j) -> v }.toMap
      cents = cents.map { case (key, prev) => (key, means.getOrElse(key, prev)) }
    }
    Some((cents, ex))
  }

  /** The trained q65 codebook alone (for s28's frozen-model streaming
    * encoder): same fit, the exploded frames discarded.
    */
  def pqCodebook(embeddings: DataFrame, kcode: Int = 8,
                 iters: Int = 2): Map[(Int, Int), Seq[Long]] =
    pqFit(embeddings, kcode, iters).map(_._1).getOrElse(Map.empty)

  /** One encoding pass over the exploded frame: per (vector, sub) the
    * argmin codeword via array_min over (d2, cid) structs from
    * LITERAL codewords, dispatched on `sub` by a when-chain — a PURE
    * MAP, zero joins (the kmeansAssigned shape, M-way).
    */
  private def pqAssigned(ex: DataFrame, cents: Map[(Int, Int), Seq[Long]]): DataFrame = {
    val kcode = cents.keys.map(_._2).max + 1
    val bySub = (0 until PQ_M).map { m =>
      val ds = (0 until kcode).map { j =>
        struct(
          graft.functions.VectorFunctions.l2_dist(col("qs"), typedLit(cents((m, j)))).as("d2"),
          lit(j).as("cid"))
      }
      array_min(array(ds: _*))
    }
    val bestCol = bySub.zipWithIndex.tail.foldLeft(when(col("sub") === 0, bySub.head)) {
      case (acc, (c, m)) => acc.when(col("sub") === m, c)
    }
    ex.select(col("vec_id"), col("sub"), col("qs"), bestCol.as("best"))
  }

  /** q65: PQ ENCODING — each corpus vector compressed to M=8 sub-codes
    * (its nearest codeword per subspace). Output: (vec_id, sub, code,
    * d2) — M rows per vector, all int64; d2 is the subspace
    * quantization error (Σ over subs = the reconstruction error the
    * paper bounds ADC by). The registered instance pins kcode=8,
    * iters=2 — the unrolled-CTE checkability contract (q60/q63/q64);
    * deploy sizing is kcode=256 through the same code.
    *
    * Scale: the fit is `iters` joint (sub, cid, pos) aggregates (N·64
    * narrow rows each — exactly q60's traffic); the encode itself is
    * a pure map. Codes are M·log2(kcode) bits per vector — the
    * memory-side story: a 10⁹-vector corpus's codes fit where raw
    * vectors can't, which is what makes exhaustive ADC scans viable.
    */
  def pqCodes(embeddings: DataFrame, kcode: Int = 8, iters: Int = 2): DataFrame =
    pqFit(embeddings, kcode, iters) match {
      case None =>
        embeddings.sparkSession.createDataFrame(
          embeddings.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "vec_id BIGINT, sub BIGINT, code BIGINT, d2 BIGINT"))
      case Some((cents, ex, _)) =>
        pqAssigned(ex, cents).select(col("vec_id"),
          col("sub").cast("long").as("sub"),
          col("best.cid").cast("long").as("code"), col("best.d2").as("d2"))
    }

  /** q65b: ADC SEARCH over the PQ codes — the paper's asymmetric
    * distance: query stays UNquantized, items are their codes, and
    * the approximate distance is Σ_m d2(query_sub_m, codeword_m) —
    * one lookup-table entry per (query, sub, code), M adds per item.
    * Queries are the hash-smallest `nQueries` corpus vectors (the
    * replayable no-RNG selection), self excluded, top-k by (adist
    * ASC, neighbor ASC).
    *
    * Scale: the LUT is nQueries·M·kcode rows (driver-computed integer
    * math from the bounded codeword map — 640 longs at the registered
    * sizing) and BROADCASTS against the codes; per item the sum is a
    * map-side (query, vec) partial aggregate feeding bounded TopKBy
    * partials — no window over N, no join wider than the broadcast.
    * |adist| ≤ 64·2⁴⁴ < 2⁵³, so the TopKBy double ord carries −adist
    * exactly (the q63 bound argument).
    *
    * Output: (query_id, rank, neighbor_id, adist).
    */
  def pqSearch(embeddings: DataFrame, kcode: Int = 8, iters: Int = 2,
               nQueries: Int = 10, topK: Int = 5): DataFrame =
    pqFit(embeddings, kcode, iters) match {
      case None =>
        embeddings.sparkSession.createDataFrame(
          embeddings.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "query_id BIGINT, rank BIGINT, neighbor_id BIGINT, adist BIGINT"))
      case Some((cents, ex, q)) =>
        val spark = embeddings.sparkSession
        import spark.implicits._
        val codes = pqAssigned(ex, cents)
          .select(col("vec_id"), col("sub"), col("best.cid").as("code"))
        val qrows: Array[(Long, Seq[Long])] = q.orderBy(col("h"), col("vec_id"))
          .limit(nQueries).select(col("vec_id"), col("q")).as[(Long, Seq[Long])].collect()
        val kc = cents.keys.map(_._2).max + 1
        // the ADC lookup table: pure driver-side integer math over the
        // bounded codeword map — same Σ(Δ)² fold as L2DistExpr
        val lut = for {
          (qid, qv) <- qrows.toSeq
          m <- 0 until PQ_M
          j <- 0 until kc
        } yield {
          val qs = qv.slice(m * PQ_D, m * PQ_D + PQ_D)
          val d2 = qs.iterator.zip(cents((m, j)).iterator)
            .map { case (a, b) => val d = a - b; d * d }.sum
          (qid, m, j, d2)
        }
        codes.join(broadcast(lut.toDF("query_id", "sub", "code", "pd2")),
            Seq("sub", "code"))
          .filter(col("vec_id") =!= col("query_id"))
          .groupBy(col("query_id"), col("vec_id"))
          .agg(sum(col("pd2")).as("adist"))
          .groupBy(col("query_id"))
          .agg(graft.functions.TopKByFunctions
            .top_k_by((-col("adist")).cast("double"), col("vec_id"), topK).as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
            col("t.id").as("neighbor_id"), (-col("t.ord")).cast("long").as("adist"))
    }

  // ==== q82: SCALAR QUANTIZATION (SQ8) — the third member of the
  // compression family next to PQ (q65) and IVFADC (q66): one byte
  // per DIMENSION (FAISS ScalarQuantizer QT_8bit semantics — train =
  // per-dimension min/max, encode = uniform 256-level grid), the
  // memory-reduction path used when PQ's codebook granularity is too
  // lossy and 4× compression of float32 is enough. Everything runs in
  // the q60 integer domain (quantize `floor(v·2²⁰+0.5)+2²⁰` — the
  // shift makes the whole encode nonnegative, so truncating div IS
  // floor on both engines), so codes AND per-dimension reconstruction
  // error are hash-exact against the DuckDB replay. ====

  /** q82: SQ8 encode — per (vec, dim): the byte code and the integer
    * reconstruction error.
    *
    *   code_d = ((vq_d − min_d)·255) div (max_d − min_d)   (span 0 → 0)
    *   err_d  = (vq_d − min_d) − (code_d·span_d) div 255   (≥ 0: floor)
    *
    * Train is ONE 64-group min/max aggregate (map-side partials; 64
    * partial rows per task, never a per-dim shuffle of vectors) whose
    * 64 (min, span) pairs collect to the driver — the trainCodebook
    * bounded-collect protocol — and ride the encode as array LITERALS:
    * the encode pass is a PURE MAP (zero joins, zero exchanges) over
    * the once-checkpointed quantized frame, exactly q60's
    * literal-centroid shape. Overflow: spans < 2²², (vq−min)·255 <
    * 2³⁰ ≪ 2⁶³.
    *
    * Output: (vec_id, pos, code, err), one row per dimension, all
    * int64 — the code table IS the compressed index a search layer
    * (q65b-style ADC) would probe.
    */
  def sq8Codes(embeddings: DataFrame): DataFrame = {
    val q = embeddings.select(col("vec_id"),
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) + 1048576)").as("q"))
      .localCheckpoint(true) // scanned twice: train + encode
    val mm = q.select(posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect().sortBy(_.getInt(0)).map(r => (r.getLong(1), r.getLong(2)))
    if (mm.isEmpty)
      return embeddings.sparkSession.createDataFrame(
        embeddings.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id BIGINT, pos BIGINT, code BIGINT, err BIGINT"))
    val mins = mm.map(_._1).mkString("array(", "L,", "L)")
    val spans = mm.map { case (a, b) => b - a }.mkString("array(", "L,", "L)")
    q.select(col("vec_id"), posexplode(col("q")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("v"),
        expr(s"element_at($mins, CAST(pos AS INT) + 1)").as("mn"),
        expr(s"element_at($spans, CAST(pos AS INT) + 1)").as("sp"))
      .select(col("vec_id"), col("pos"),
        expr("CASE WHEN sp > 0 THEN ((v - mn) * 255) div sp ELSE CAST(0 AS BIGINT) END").as("code"),
        col("v"), col("mn"), col("sp"))
      .select(col("vec_id"), col("pos"), col("code"),
        expr("(v - mn) - (code * sp) div 255").as("err"))
  }

  /** The trained q82 grid alone — per-dimension (min, span) pairs in
    * the quantized integer domain, position-ordered — for s40's
    * frozen-model streaming encode (the kmeansCentroids/pqCodebook
    * protocol: a drifting grid would re-encode history). ONE 64-group
    * aggregate, one bounded collect.
    */
  def sq8Grid(embeddings: DataFrame): Seq[(Long, Long)] =
    embeddings.select(
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) + 1048576)").as("q"))
      .select(posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getLong(1), r.getLong(2) - r.getLong(1))).toSeq

  /** The q82 oracle: identical quantize-shift, per-dim min/max as one
    * grouped aggregate, same truncating `//` (nonnegative domain makes
    * it floor on both engines).
    */
  def sq8OracleSql: String =
    """WITH qv AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) + 1048576) AS q
      |  FROM embeddings),
      |ex AS (
      |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos, q[CAST(i AS INT)] AS v
      |  FROM qv, range(1, 65) AS t(i)),
      |mm AS (
      |  SELECT pos, min(v) AS mn, max(v) - min(v) AS sp
      |  FROM ex GROUP BY pos)
      |SELECT e.vec_id, e.pos,
      |       CASE WHEN mm.sp > 0 THEN ((e.v - mm.mn) * 255) // mm.sp
      |            ELSE CAST(0 AS BIGINT) END AS code,
      |       (e.v - mm.mn)
      |         - (CASE WHEN mm.sp > 0 THEN ((e.v - mm.mn) * 255) // mm.sp
      |                 ELSE CAST(0 AS BIGINT) END * mm.sp) // 255 AS err
      |FROM ex e JOIN mm USING (pos)""".stripMargin

  /** q86: EMBEDDING OUTLIER scoring — the noise/poison screen run
    * before a corpus's embeddings feed retrieval or clustering
    * (points far from every semantic region are OCR garbage, adversarial
    * inserts, or mis-embedded blobs — the SemDeDup-complement: q64
    * prunes points too CLOSE together, this flags points too FAR from
    * everything): each vector's q60 integer-Lloyd assignment distance
    * d2 is compared to its own CLUSTER's p`pct` distance cutoff, and
    * `outlier` = d2 strictly above the cutoff.
    *
    * Per-cluster cutoffs come from the q46 deterministic bottom-k-by-
    * hash sketch over d2 (fresh draws 234/235 on the poly-hashed
    * vec_id) — ONE bounded aggregate with map-side partials, never a
    * rank window over the corpus (the dominant cluster is the 100 TB
    * straggler) — broadcast back onto the checkpointed assignment
    * frame as a pure map. Everything integer/replayable ⇒ hash-exact
    * vs the DuckDB replay (q60 CTEs + row_number-over-(h,v) sketch).
    *
    * Output: (vec_id, cluster, d2, cut, outlier).
    */
  def embeddingOutliers(embeddings: DataFrame, k: Int = 8, iters: Int = 3,
                        pct: Int = 95, sk: Int = 256): DataFrame = {
    import graft.functions.ReplayableHash.{a, b, P}
    val assigned = kmeansAssign(embeddings, k, iters).localCheckpoint(true)
    val s = graft.functions.VectorFunctions.poly_hash(
      concat(lit("q86:"), col("vec_id").cast("string")))
    val h = ((lit(a(234)) * s + lit(b(234))) % lit(P)) * lit(P) +
      (lit(a(235)) * s + lit(b(235))) % lit(P)
    val cuts = assigned
      .select(col("cluster"), h.as("h"), col("d2").cast("double").as("v"))
      .groupBy(col("cluster"))
      .agg(graft.functions.QuantileFunctions
        .quantile_sketch(col("h"), col("v"), sk).as("sample"))
      .select(col("cluster"),
        expr(s"try_element_at(sample, CAST($pct * (size(sample) - 1) DIV 100 AS INT) + 1)")
          .cast("long").as("cut"))
    assigned.join(broadcast(cuts), Seq("cluster"))
      .select(col("vec_id"), col("cluster"), col("d2"), col("cut"),
        (col("d2") > col("cut")).cast("long").as("outlier"))
  }

  /** The q86 oracle: the q60 centroid/assignment CTEs + the sketch
    * replayed as row_number over (h, v) per cluster (the q76 form).
    */
  def embeddingOutliersOracleSql(k: Int = 8, iters: Int = 3,
                                 pct: Int = 95, sk: Int = 256): String = {
    val P = graft.functions.ReplayableHash.P
    val (a1, b1) = (graft.functions.ReplayableHash.a(234), graft.functions.ReplayableHash.b(234))
    val (a2, b2) = (graft.functions.ReplayableHash.a(235), graft.functions.ReplayableHash.b(235))
    s"""${kmeansCentroidCtes(k, iters)},
       |${kmeansAssignCte(iters + 1, s"cent$iters")},
       |sd AS (
       |  SELECT vec_id,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(range(1, length(kk)+1),
       |             i -> CAST(unicode(substring(kk, CAST(i AS INT), 1)) AS BIGINT))),
       |           (h, c) -> (h * 31 + c) % 1000000007) AS s
       |  FROM (SELECT vec_id, 'q86:' || CAST(vec_id AS VARCHAR) AS kk
       |        FROM embeddings) t),
       |jj AS (
       |  SELECT x.vec_id, CAST(x.cid AS BIGINT) AS cluster, x.d2,
       |         (($a1 * sd.s + $b1) % $P) * $P + (($a2 * sd.s + $b2) % $P) AS h
       |  FROM a${iters + 1} x JOIN sd USING (vec_id)),
       |rr AS (
       |  SELECT cluster, CAST(d2 AS DOUBLE) AS v,
       |         row_number() OVER (PARTITION BY cluster
       |           ORDER BY h, CAST(d2 AS DOUBLE)) AS rn
       |  FROM jj),
       |cc AS (
       |  SELECT cluster,
       |         CAST(list(v ORDER BY v)[CAST($pct * (count(*) - 1) // 100 AS INT) + 1] AS BIGINT) AS cut
       |  FROM rr WHERE rn <= $sk GROUP BY 1)
       |SELECT jj.vec_id, jj.cluster, jj.d2, cc.cut,
       |       CAST(jj.d2 > cc.cut AS BIGINT) AS outlier
       |FROM jj JOIN cc USING (cluster)""".stripMargin
  }

  private def pqD2Fold(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(range(1, len($a) + 1),
       |               i -> ($a[CAST(i AS INT)] - $b[CAST(i AS INT)])
       |                  * ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]))),
       |             (acc, x) -> acc + x)""".stripMargin

  /** One oracle encoding CTE: argmin codeword per (vector, sub) from
    * `$centIn` via row_number (d2 ASC, cid ASC) — the kmeansAssignCte
    * shape with the extra sub dimension.
    */
  private def pqAssignCte(it: Int, centIn: String): String =
    s"""pa$it AS (
       |  SELECT vec_id, sub, qs, cid, d2 FROM (
       |    SELECT v.vec_id, v.sub, v.qs, c.cid, ${pqD2Fold("v.qs", "c.c")} AS d2,
       |           row_number() OVER (PARTITION BY v.vec_id, v.sub
       |             ORDER BY ${pqD2Fold("v.qs", "c.c")} ASC, c.cid ASC) AS rn
       |    FROM pqex v JOIN $centIn c ON c.sub = v.sub) t WHERE rn = 1)""".stripMargin

  /** The PQ oracle chain over an arbitrary source CTE exposing
    * (vec_id, q, h) — per-subspace seed slices, `iters` unrolled
    * joint Lloyd steps → final codeword CTE `pqcent$iters`. Shared by
    * q65 (src = the quantized `q`) and q66 (src = the coarse-residual
    * CTE).
    */
  private[operators] def pqChainCtes(kcode: Int, iters: Int, src: String): String = {
    val steps = (1 to iters).map { it =>
      s"""${pqAssignCte(it, s"pqcent${it - 1}")},
         |pqm$it AS (
         |  SELECT sub, cid, i AS pos,
         |         CAST(CAST(sum(qs[CAST(i AS INT)]) AS BIGINT) // count(*) AS BIGINT) AS m
         |  FROM pa$it, range(1, ${PQ_D + 1}) AS t(i)
         |  GROUP BY sub, cid, i),
         |pqcent$it AS (
         |  SELECT c0.sub, c0.cid, coalesce(l.c, c0.c) AS c
         |  FROM pqcent${it - 1} c0 LEFT JOIN
         |    (SELECT sub, cid, list(m ORDER BY pos) AS c FROM pqm$it GROUP BY sub, cid) l
         |    USING (sub, cid))""".stripMargin
    }.mkString(",\n")
    s"""pqseed AS (
       |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, q
       |  FROM $src ORDER BY h, vec_id LIMIT $kcode),
       |pqcent0 AS (
       |  SELECT CAST(t.m AS INT) AS sub, cid,
       |         list_slice(q, CAST(t.m*$PQ_D+1 AS BIGINT), CAST(t.m*$PQ_D+$PQ_D AS BIGINT)) AS c
       |  FROM pqseed, range(0, $PQ_M) t(m)),
       |pqex AS (
       |  SELECT vec_id, CAST(t.m AS INT) AS sub,
       |         list_slice(q, CAST(t.m*$PQ_D+1 AS BIGINT), CAST(t.m*$PQ_D+$PQ_D AS BIGINT)) AS qs
       |  FROM $src, range(0, $PQ_M) t(m)),
       |$steps""".stripMargin
  }

  /** Shared q65/q65b oracle prefix: quantize+hash (identical to the
    * q60 `q` CTE) feeding the PQ chain.
    */
  private def pqCentroidCtes(kcode: Int, iters: Int): String = {
    val P = graft.functions.ReplayableHash.P
    val ha = graft.functions.ReplayableHash.a(215)
    val hb = graft.functions.ReplayableHash.b(215)
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) + 1048576) AS q,
       |         (($ha * (vec_id % $P) + $hb) % $P) AS h
       |  FROM embeddings),
       |${pqChainCtes(kcode, iters, "q")}""".stripMargin
  }

  /** The q65 oracle: the joint per-subspace Lloyd unrolled as
    * generated CTEs (the kmeansOracleSql discipline with a sub
    * dimension), final encode as row_number (d2 ASC, cid ASC).
    */
  def pqCodesOracleSql(kcode: Int = 8, iters: Int = 2): String =
    s"""${pqCentroidCtes(kcode, iters)},
       |${pqAssignCte(iters + 1, s"pqcent$iters")}
       |SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(cid AS BIGINT) AS code, d2
       |FROM pa${iters + 1}""".stripMargin

  /** The q65b oracle: the q65 chain extended with the hash-smallest
    * query set, the (query, sub, code) LUT from the final codewords,
    * the Σ_m lookup join, and (adist ASC, neighbor ASC) ranking.
    */
  def pqSearchOracleSql(kcode: Int = 8, iters: Int = 2,
                        nQueries: Int = 10, topK: Int = 5): String =
    s"""${pqCentroidCtes(kcode, iters)},
       |${pqAssignCte(iters + 1, s"pqcent$iters")},
       |pqq AS (
       |  SELECT vec_id AS query_id, q FROM q ORDER BY h, vec_id LIMIT $nQueries),
       |pqqs AS (
       |  SELECT query_id, CAST(t.m AS INT) AS sub,
       |         list_slice(q, CAST(t.m*$PQ_D+1 AS BIGINT), CAST(t.m*$PQ_D+$PQ_D AS BIGINT)) AS qs
       |  FROM pqq, range(0, $PQ_M) t(m)),
       |pqlut AS (
       |  SELECT a.query_id, a.sub, b.cid AS code, ${pqD2Fold("a.qs", "b.c")} AS pd2
       |  FROM pqqs a JOIN pqcent$iters b ON b.sub = a.sub),
       |pqad AS (
       |  SELECT l.query_id, k.vec_id, CAST(sum(l.pd2) AS BIGINT) AS adist
       |  FROM pa${iters + 1} k JOIN pqlut l ON l.sub = k.sub AND l.code = k.cid
       |  WHERE k.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |pqrk AS (
       |  SELECT query_id, vec_id, adist,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY adist ASC, vec_id ASC) AS rank
       |  FROM pqad)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id, adist
       |FROM pqrk WHERE rank <= $topK""".stripMargin

  // ==== q66: IVFADC — the COMPLETE Jégou et al. system (TPAMI 2011
  // §IV): coarse quantizer (the q60 integer Lloyd codebook) routes
  // vectors to inverted lists, PQ codebooks are trained on the coarse
  // RESIDUALS (where PQ's distortion is smallest — the paper's key
  // design), and a query probes nProbe lists with a PER-LIST residual
  // lookup table. This is the deployable 100 TB ANN shape — FAISS's
  // IndexIVFPQ — with every stage in the shared integer domain, so
  // the ENTIRE system (coarse codebook, residuals, PQ codebooks,
  // probing, ADC ranking) is hash-exact against a DuckDB replay. ====

  /** Residuals are re-shifted by 2²² so the PQ mean update's
    * truncating div stays on the nonnegative domain (coords ∈
    * [0, 2²¹] ⇒ residuals ∈ ±2²¹ ⇒ shifted ∈ [2²¹, 2²²+2²¹]); a
    * common shift cancels in every distance. |adist| ≤ 64·2⁴⁴ < 2⁵³
    * keeps the TopKBy double ord exact (the q63 bound argument).
    */
  private val IVFADC_SHIFT = 4194304L

  /** q66: IVFADC search. Scale shape: coarse assignment and residual
    * computation are pure literal maps (zero joins); PQ training is
    * the q65 joint aggregate; the query-side LUT is nQueries·nProbe·
    * M·kcode rows of driver integer math (3,840 longs at the
    * registered sizing) BROADCAST against the codes; candidate rows =
    * only vectors in probed lists (≈ N·nProbe/kCoarse per query — the
    * IVF pruning, where flat ADC scans all N); ranking is bounded
    * TopKBy partials. Registered contract pins kCoarse=8/kcode=16/
    * pqIters=2/nProbe=3 (the unrolled-CTE checkability bound); deploy
    * sizing kCoarse≈√N, kcode=256 is the same code.
    *
    * Output: (query_id, rank, neighbor_id, adist) — queries whose
    * probed lists hold no other vector emit no rows (q63 semantics).
    */
  def ivfadcSearch(embeddings: DataFrame, kCoarse: Int = 8, coarseIters: Int = 3,
                   kcode: Int = 16, pqIters: Int = 2, nProbe: Int = 3,
                   nQueries: Int = 10, topK: Int = 5): DataFrame = {
    require(nProbe >= 1 && nProbe <= kCoarse, "1 <= nProbe <= kCoarse")
    val emptyOut = () => embeddings.sparkSession.createDataFrame(
      embeddings.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "query_id BIGINT, rank BIGINT, neighbor_id BIGINT, adist BIGINT"))
    ivfadcFit(embeddings, kCoarse, coarseIters, kcode, pqIters) match {
      case None => emptyOut()
      case Some((coarse, book, codes, q)) =>
        val spark = embeddings.sparkSession
        import spark.implicits._
        val qrows = q.orderBy(col("h"), col("vec_id")).limit(nQueries)
          .select(col("vec_id"), col("q")).as[(Long, Seq[Long])].collect()
        val kc = book.keys.map(_._2).max + 1
        val coarseMap = coarse.toMap
        // per (query, probed list): the residual LUT — driver-side
        // integer math over the bounded codebooks
        val lut = for {
          (qid, qv) <- qrows.toSeq
          (_, pcid) <- coarse.map { case (cid, c) => (intD2(qv, c), cid) }
            .sorted.take(nProbe)
          rqv = qv.zip(coarseMap(pcid)).map { case (a, b) => a - b + IVFADC_SHIFT }
          m <- 0 until PQ_M
          j <- 0 until kc
        } yield (qid, pcid, m, j, intD2(rqv.slice(m * PQ_D, m * PQ_D + PQ_D), book((m, j))))
        codes.join(broadcast(lut.toDF("query_id", "cid", "sub", "code", "pd2")),
            Seq("cid", "sub", "code"))
          .filter(col("vec_id") =!= col("query_id"))
          .groupBy(col("query_id"), col("vec_id"))
          .agg(sum(col("pd2")).as("adist"))
          .groupBy(col("query_id"))
          .agg(graft.functions.TopKByFunctions
            .top_k_by((-col("adist")).cast("double"), col("vec_id"), topK).as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
            col("t.id").as("neighbor_id"), (-col("t.ord")).cast("long").as("adist"))
    }
  }

  /** The shared q66 fit: coarse codebook + assignment (pure literal
    * map), shifted residuals (literal when-chain, checkpointed), PQ
    * codebooks trained on them, and the per-vector codes frame
    * (vec_id, sub, code, cid). None on an empty corpus.
    */
  private[operators] def ivfadcFit(embeddings: DataFrame, kCoarse: Int,
                                   coarseIters: Int, kcode: Int, pqIters: Int)
      : Option[(Seq[(Int, Seq[Long])], Map[(Int, Int), Seq[Long]], DataFrame, DataFrame)] =
    kmeansFit(embeddings, kCoarse, coarseIters).flatMap { case (coarse, q) =>
      val ds = coarse.map { case (cid, cvec) =>
        struct(
          graft.functions.VectorFunctions.l2_dist(col("q"), typedLit(cvec)).as("d2"),
          lit(cid).as("cid"))
      }
      val assigned = q
        .select(col("vec_id"), col("q"), col("h"), array_min(array(ds: _*)).as("best"))
        .select(col("vec_id"), col("q"), col("h"), col("best.cid").as("cid"))
      // shifted residual r = q − cent[cid] + 2²² as a literal
      // when-chain — still a pure map, zero joins
      def resExpr(c: Seq[Long]) =
        zip_with(col("q"), typedLit(c), (a, b) => a - b + lit(IVFADC_SHIFT))
      val resCol = coarse.tail.foldLeft(
          when(col("cid") === coarse.head._1, resExpr(coarse.head._2))) {
        case (acc, (cid, c)) => acc.when(col("cid") === cid, resExpr(c))
      }
      val rq = assigned.select(col("vec_id"), resCol.as("q"), col("h"), col("cid"))
        .localCheckpoint(true)
      pqFitQ(rq.select(col("vec_id"), col("q"), col("h")), kcode, pqIters).map {
        case (book, ex) =>
          val codes = pqAssigned(ex, book)
            .select(col("vec_id"), col("sub"), col("best.cid").as("code"))
            .join(rq.select(col("vec_id"), col("cid")), Seq("vec_id"))
          (coarse, book, codes, q)
      }
    }

  private[operators] def intD2(a: Seq[Long], b: Seq[Long]): Long =
    a.iterator.zip(b.iterator).map { case (x, y) => val d = x - y; d * d }.sum

  /** The q66 oracle: q60's coarse CTEs + assignment, the shifted
    * residual CTE, the PQ chain over it (shared pqChainCtes), then
    * probe/LUT/Σ/rank — the whole IVFADC system replayed.
    */
  def ivfadcOracleSql(kCoarse: Int = 8, coarseIters: Int = 3, kcode: Int = 16,
                      pqIters: Int = 2, nProbe: Int = 3, nQueries: Int = 10,
                      topK: Int = 5): String = {
    val ca = coarseIters + 1
    val pit = pqIters + 1
    s"""${kmeansCentroidCtes(kCoarse, coarseIters)},
       |${kmeansAssignCte(ca, s"cent$coarseIters")},
       |ivres AS (
       |  SELECT a.vec_id,
       |         list_transform(range(1, 65),
       |           i -> a.q[CAST(i AS INT)] - c.c[CAST(i AS INT)] + $IVFADC_SHIFT) AS q,
       |         s.h AS h, a.cid AS ccid
       |  FROM a$ca a JOIN cent$coarseIters c ON c.cid = a.cid
       |  JOIN q s ON s.vec_id = a.vec_id),
       |${pqChainCtes(kcode, pqIters, "ivres")},
       |${pqAssignCte(pit, s"pqcent$pqIters")},
       |ivq AS (
       |  SELECT vec_id AS query_id, q FROM q ORDER BY h, vec_id LIMIT $nQueries),
       |ivprobe AS (
       |  SELECT query_id, cid FROM (
       |    SELECT v.query_id, c.cid,
       |           row_number() OVER (PARTITION BY v.query_id
       |             ORDER BY ${pqD2Fold("v.q", "c.c")} ASC, c.cid ASC) AS rn
       |    FROM ivq v CROSS JOIN cent$coarseIters c) t WHERE rn <= $nProbe),
       |ivrq AS (
       |  SELECT p.query_id, p.cid AS ccid,
       |         list_transform(range(1, 65),
       |           i -> v.q[CAST(i AS INT)] - c.c[CAST(i AS INT)] + $IVFADC_SHIFT) AS q
       |  FROM ivprobe p JOIN ivq v ON v.query_id = p.query_id
       |  JOIN cent$coarseIters c ON c.cid = p.cid),
       |ivrqs AS (
       |  SELECT query_id, ccid, CAST(t.m AS INT) AS sub,
       |         list_slice(q, CAST(t.m*$PQ_D+1 AS BIGINT), CAST(t.m*$PQ_D+$PQ_D AS BIGINT)) AS qs
       |  FROM ivrq, range(0, $PQ_M) t(m)),
       |ivlut AS (
       |  SELECT a.query_id, a.ccid, a.sub, b.cid AS code, ${pqD2Fold("a.qs", "b.c")} AS pd2
       |  FROM ivrqs a JOIN pqcent$pqIters b ON b.sub = a.sub),
       |ivcodes AS (
       |  SELECT k.vec_id, r.ccid, k.sub, k.cid AS code
       |  FROM pa$pit k JOIN ivres r ON r.vec_id = k.vec_id),
       |ivad AS (
       |  SELECT l.query_id, k.vec_id, CAST(sum(l.pd2) AS BIGINT) AS adist
       |  FROM ivcodes k
       |  JOIN ivlut l ON l.ccid = k.ccid AND l.sub = k.sub AND l.code = k.code
       |  WHERE k.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |ivrk AS (
       |  SELECT query_id, vec_id, adist,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY adist ASC, vec_id ASC) AS rank
       |  FROM ivad)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id, adist
       |FROM ivrk WHERE rank <= $topK""".stripMargin
  }

  /** q95: PCA POWER ITERATION in fixed point — the dominant principal
    * component of the (centered) embedding cloud and every vector's
    * projection onto it: the whitening/drift screen an embedding
    * pipeline runs before indexing (is one direction eating the
    * variance? did a model update rotate the space?), and the 1-D
    * ordering dimension semantic curricula sort by. The q60 discipline
    * applied to linear algebra: every quantity integer, every step
    * replayable, so the whole factorization is hash-checkable where a
    * float LAPACK call could only be sign/ulp-gated.
    *
    * Algorithm (matrix-free — the covariance matrix is NEVER
    * materialized): quantize to the q60 2²⁰ grid, center with the
    * truncating integer mean, then iterate v ← C·v where
    * C·v = Σ_rows c·(c·v) via two narrow aggregates per iteration:
    *   s_row = c·v            (per-row dot, |s| ≤ 64·2²¹·2¹² = 2³⁹)
    *   s'    = s div 2²⁰      (row scale-down, |s'| ≤ 2¹⁹ — keeps the
    *                           outer-product sum inside exact range)
    *   w_pos = Σ c_pos·s'     (summed as DECIMAL(38,0): products are
    *                           ≤ 2⁴⁰ and a 100 TB corpus would overflow
    *                           int64 — decimal sums are exact and
    *                           order-free, the dsum rule; DuckDB's
    *                           BIGINT sum is HUGEINT for the same
    *                           reason)
    *   v     = (w·2¹²) div max|w|  — L∞ normalization to the ±4096
    *                           grid, computed driver-side in BigInt on
    *                           the collected 64-row w (the bounded
    *                           LUT-collect class; Java, Spark DIV and
    *                           DuckDB // all truncate toward zero —
    *                           probed, so trunc-div is engine-safe
    *                           even on negatives).
    * All integer divisions are trunc-toward-zero in both engines;
    * iteration count is the registered contract (power iteration
    * converges geometrically in λ2/λ1 — 3 iterations pin the oracle,
    * production runs iterate to a gap tolerance with the same code).
    *
    * Scale shape: the centered (vec_id, pos, cv) frame is checkpointed
    * ONCE (narrow — 3 int64 columns, never the float arrays); each
    * iteration costs one map-side-combined aggregate to N rows, one
    * vec_id-keyed join back (AQE-broadcast when s fits), one 64-row
    * aggregate. The eigenvector is a 64-long driver literal, so each
    * dot pass is a pure map — the kmeansAssign literal-centroid
    * protocol.
    *
    * Output: (vec_id, proj) — the Q-domain projection of each centered
    * vector onto the final iterate.
    */
  def pcaPower(embeddings: DataFrame, dim: Int = 64, iters: Int = 3): DataFrame = {
    val (v, c) = pcaFit(embeddings, dim, iters)
    val vlit = array(v.map(lit).toIndexedSeq: _*)
    c.groupBy(col("vec_id"))
      .agg(sum(col("cv") * element_at(vlit, (col("pos") + 1).cast("int"))).as("proj"))
      .select(col("vec_id"), col("proj"))
  }

  /** The final q95 iterate itself (pos -> component on the +-4096 grid)
    * — exposed for SimilaritySpec's variance/convergence contracts.
    */
  def pcaComponent(embeddings: DataFrame, dim: Int = 64, iters: Int = 3): Array[Long] =
    pcaFit(embeddings, dim, iters)._1

  /** Shared q95 fold: returns (final iterate, the checkpointed centered
    * (vec_id, pos, cv) frame).
    */
  private def pcaFit(embeddings: DataFrame, dim: Int,
                     iters: Int): (Array[Long], DataFrame) = {
    val q = embeddings.select(col("vec_id"),
      posexplode(expr(
        "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT))"))
        .as(Seq("pos", "qv")))
    val means = q.groupBy(col("pos"))
      .agg(expr("sum(qv) DIV count(1)").as("m"))
    val c = q.join(broadcast(means), Seq("pos"))
      .select(col("vec_id"), col("pos"), (col("qv") - col("m")).as("cv"))
      .localCheckpoint(true)
    var v = Array.fill(dim)(4096L)
    var it = 0
    while (it < iters) {
      val vlit = array(v.map(lit).toIndexedSeq: _*)
      val s = c.groupBy(col("vec_id"))
        .agg(sum(col("cv") * element_at(vlit, (col("pos") + 1).cast("int"))).as("s"))
        .selectExpr("vec_id", "s DIV 1048576 AS sp")
      val w = c.join(s, Seq("vec_id"))
        .groupBy(col("pos"))
        .agg(sum((col("cv") * col("sp"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("w"))
        .orderBy(col("pos")).collect() // dim rows — bounded
      if (w.nonEmpty) {
        val wb = {
          val arr = Array.fill(dim)(BigInt(0))
          w.foreach(r => arr(r.getInt(0)) = BigInt(r.getDecimal(1).toBigInteger))
          arr
        }
        val wmax = wb.map(_.abs).max
        if (wmax > 0) v = wb.map(x => ((x * 4096) / wmax).toLong)
      }
      it += 1
    }
    (v, c)
  }
}
