package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.sources.Tables

/** MODEL-ARTIFACT PERSISTENCE (r13) — the serialized handoff between a
  * batch run that derives a frozen model and a LATER process that
  * consumes it (q103's incremental curation loads the v1 release's
  * `curate_state` before curating the v2 delta). A consumer is often a
  * different process, or a different cluster, from the run that built
  * the model, and the thing that crosses that boundary is a versioned
  * artifact on shared storage. The reference's own analog: its
  * compacted topics ARE its persisted model state — a Kafka Streams
  * app bootstraps its GlobalKTable/KTable state from the topic before
  * the stream flows (reference Streams.java:102-115,
  * builder/BuildSystem.java populates them); this store is the
  * lake-native restatement (parquet tables + a JSON manifest).
  *
  * Layout under `dir`:
  * {{{
  *   MODEL_MANIFEST.json        — family, version, params, table list
  *   tables/<name>/  (parquet)  — one Spark parquet dataset per table
  * }}}
  *
  * Crash safety: tables are written FIRST, the manifest LAST — the
  * manifest is the commit marker (the ExactlyOnceSink write-then-marker
  * contract, Sinks.scala): a crash mid-save leaves no manifest and
  * [[load]] refuses the directory instead of serving half a model.
  * Manifest JSON goes through Jackson (on the Spark classpath — the
  * readMeta discipline), so params containing quotes round-trip.
  *
  * Determinism: artifacts are integer/string tables, so save → load
  * returns the saved rows exactly; the content digest (and, for
  * duplication-sized families, the row-count proxy) refuses anything
  * else. ModelStoreSpec pins the manifest, integrity, proxy and
  * lifecycle contracts; PipelineSpec pins the q103 round trip.
  *
  * Scale: model-sized tables (k·dim centroids, vocab and rate tables)
  * are collected by their typed loaders; duplication-sized tables
  * (curate_state's digest and shingle tables) stay DataFrames end to
  * end and are saved/loaded as parquet without ever collecting.
  */
object ModelStore {

  val ManifestFile = "MODEL_MANIFEST.json"

  /** The version stamp a deployment pins: loaders verify `family`
    * (loading a PQ codebook where a kmeans model is expected must fail
    * loudly, not mis-shape silently); `version` is the release's
    * monotone stamp — rollback = point the stream at the prior dir.
    * `digests` (r14, the r13 verdict's integrity task): one
    * order-independent content digest per table, verified at [[load]]
    * — a corrupted or tampered parquet refuses as loudly as a family
    * mismatch instead of mis-scoring silently.
    */
  case class Manifest(family: String, version: Long, createdUtcMs: Long,
                      params: Map[String, String], tables: Seq[String],
                      digests: Map[String, Long] = Map.empty,
                      rows: Map[String, Long] = Map.empty)

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Order-independent content digest of a table: xxhash64 over every
    * row (all columns, schema order) summed with wraparound — row and
    * partition order can't affect it, so the value is stable across
    * writers, readers, and re-layouts of the same rows. Computed over
    * the WRITTEN parquet (what a future load will actually read), one
    * scan per table — model-sized everywhere except the dup-window
    * family, where a single narrow extra scan at save time is the
    * price of refusing corrupt dedup state at deploy time.
    */
  def tableDigest(df: DataFrame): Long = tableDigestAndCount(df)._1

  /** Digest + row count in ONE scan (the save path records both; the
    * count is the r16 cheap-proxy check for the families whose digest
    * recompute is skipped at load — see [[load]]).
    */
  def tableDigestAndCount(df: DataFrame): (Long, Long) = {
    // sum through DECIMAL(38,0) — a raw BIGINT sum of 2⁶³-scale hashes
    // overflow-throws under ANSI — then wrap to the long (mod 2⁶⁴,
    // order-independent, exact up to ~10¹⁹ rows)
    val row = df.select(xxhash64(df.columns.map(col): _*)
        .cast("decimal(38,0)").as("h"))
      .agg(coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")),
        count(lit(1)))
      .collect()(0)
    (row.getDecimal(0).toBigInteger.longValue(), row.getLong(1))
  }

  /** Generic save: parquet tables first, manifest last (the commit
    * marker). Overwrites any prior model at `dir` — versioned releases
    * use versioned directories (`.../family=kmeans/v=12/`), the lake
    * convention, so overwrite only ever hits a failed attempt.
    */
  def save(spark: SparkSession, dir: String, family: String, version: Long,
           params: Map[String, String], tables: Map[String, DataFrame]): Manifest = {
    require(family.nonEmpty && version >= 0, "family and nonnegative version required")
    val f = fs(spark, dir)
    // a fresh save must not inherit a stale manifest: drop the marker
    // BEFORE touching tables so a crash mid-write leaves an
    // unreadable (uncommitted) dir, never a mixed one
    f.delete(new Path(dir, ManifestFile), false)
    val names = tables.keys.toSeq.sorted
    names.foreach { n =>
      require(n.matches("[A-Za-z0-9_]+"), s"table name '$n' must be a plain identifier")
      tables(n).write.mode("overwrite").parquet(s"$dir/tables/$n")
    }
    // digest what a loader will READ (the written files), not the
    // in-memory frame — a write-path corruption must be caught here
    val dc = names.map(n =>
      n -> tableDigestAndCount(Tables.parquet(spark, s"$dir/tables/$n"))).toMap
    val digests = dc.map { case (n, (d, _)) => n -> d }
    val rowCounts = dc.map { case (n, (_, c)) => n -> c }
    val m = Manifest(family, version, System.currentTimeMillis(), params,
      names, digests, rowCounts)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.put("family", m.family)
    root.put("version", m.version)
    root.put("created_utc_ms", m.createdUtcMs)
    val pn = root.putObject("params")
    m.params.toSeq.sortBy(_._1).foreach { case (k, v) => pn.put(k, v) }
    val tn = root.putArray("tables")
    names.foreach(tn.add)
    val dn = root.putObject("digests")
    names.foreach(n => dn.put(n, digests(n)))
    val rn = root.putObject("rows")
    names.foreach(n => rn.put(n, rowCounts(n)))
    val out = f.create(new Path(dir, ManifestFile), true)
    try out.write(om.writeValueAsBytes(root)) finally out.close()
    m
  }

  /** Manifest alone (no table reads) — the cheap "what is deployed
    * here" probe. Throws if the directory holds no COMMITTED model.
    */
  def manifest(spark: SparkSession, dir: String): Manifest = {
    val f = fs(spark, dir)
    val p = new Path(dir, ManifestFile)
    require(f.exists(p), s"no committed model at $dir (missing $ManifestFile — " +
      "either never saved or a save crashed before its commit marker)")
    val in = f.open(p)
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    val params = {
      val b = Map.newBuilder[String, String]
      val it = node.get("params").fields()
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      b.result()
    }
    val tables = {
      val b = Seq.newBuilder[String]
      val it = node.get("tables").elements()
      while (it.hasNext) b += it.next().asText()
      b.result()
    }
    def longMap(field: String): Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      val dn = node.get(field)
      if (dn != null) {
        val it = dn.fields()
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asLong() }
      }
      b.result()
    }
    Manifest(node.get("family").asText(), node.get("version").asLong(),
      node.get("created_utc_ms").asLong(), params, tables,
      longMap("digests"), longMap("rows"))
  }

  /** Families whose tables are DUPLICATION-sized (scale with corpus
    * duplication, not with a model): re-digesting them at every load
    * is a full extra scan per table BEFORE any real work — at 100 TB
    * that can double the consumer job. Their digests are still written
    * at save time and required present at load; the recompute is
    * opt-in (`verifyLarge = true`, e.g. after an untrusted copy).
    */
  val DuplicationSizedFamilies: Set[String] = Set("dup_windows", "curate_state")

  /** Generic load with the family check AND the integrity check (r14):
    * every table's recomputed content digest must equal the manifest's
    * — a flipped value, a dropped row, or a swapped parquet file
    * refuses here with the table named, never serves a silently wrong
    * model. A manifest without digests (pre-r14 format) is refused the
    * same way: integrity unknown is integrity failed for a deployment
    * artifact (re-save to upgrade).
    *
    * TRADE (r15): for [[DuplicationSizedFamilies]] the digest
    * RECOMPUTE is skipped by default — those tables are corpus-
    * duplication-sized (win_digests, corpus_shingles), so verifying
    * them costs a full extra scan per table before the chain's own
    * scans even start. The save-side digest is still present and the
    * manifest commit marker still guards torn saves; pass
    * `verifyLarge = true` to force the full recompute (after an
    * untrusted copy / storage migration). Model-sized families always
    * verify — their scan is a few rows.
    */
  def load(spark: SparkSession, dir: String, expectFamily: String,
           verifyLarge: Boolean = false): (Manifest, Map[String, DataFrame]) = {
    val m = manifest(spark, dir)
    require(m.family == expectFamily,
      s"model at $dir is family '${m.family}', expected '$expectFamily'")
    val frames = m.tables.map(n => n -> Tables.parquet(spark, s"$dir/tables/$n")).toMap
    m.tables.foreach { n =>
      require(m.digests.contains(n),
        s"model at $dir has no content digest for table '$n' " +
          "(pre-digest manifest format) — refusing to serve unverifiable state; re-save it")
      // r16: the skip path still runs a CHEAP proxy check — the row
      // count (a column-pruned footer-driven scan, no hashing) must
      // match the manifest's save-time count, so a truncated or
      // swapped parquet refuses even when the digest recompute is
      // skipped. A pre-r16 manifest without row counts gets the full
      // digest recompute instead (integrity unknown ≠ integrity waived).
      val recompute = verifyLarge || !DuplicationSizedFamilies(m.family) ||
        !m.rows.contains(n)
      if (recompute) {
        val want = m.digests(n)
        val got = tableDigest(frames(n))
        require(got == want,
          s"model table '$n' at $dir fails its integrity check " +
            s"(digest $got != manifest $want) — corrupted or tampered, refusing to load")
      } else {
        val want = m.rows(n)
        val got = frames(n).count()
        require(got == want,
          s"model table '$n' at $dir fails its row-count proxy check " +
            s"($got rows != manifest $want) — truncated or swapped state, refusing to load " +
            "(run load(verifyLarge = true) for the full digest check)")
      }
    }
    (m, frames)
  }

  // -------- versioned-release lifecycle (r14, the r13 verdict's
  // -------- lifecycle task): the scaladoc's `.../v=<n>/` convention
  // -------- made first-class — enumerate, pin, and garbage-collect

  /** Directory of version `v` under a versioned model root. */
  def versionDir(base: String, v: Long): String = s"$base/v=$v"

  /** COMMITTED versions under `base`, ascending — a `v=<n>` child
    * counts only with its manifest present (an uncommitted crash
    * leftover is invisible here, exactly as it is to [[load]]).
    */
  def listVersions(spark: SparkSession, base: String): Seq[Long] = {
    val f = fs(spark, base)
    val p = new Path(base)
    if (!f.exists(p)) return Seq.empty
    f.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("v=")) scala.util.Try(n.drop(2).toLong).toOption else None
      }
      .filter(v => f.exists(new Path(versionDir(base, v), ManifestFile)))
      .sorted
  }

  /** Resolve a load directory: an explicit pin loads THAT version and
    * ignores any newer supersede (the rollback/canary path — a pinned
    * consumer must not silently upgrade); no pin loads the newest
    * committed version. Missing pins fail loudly.
    */
  def resolve(spark: SparkSession, base: String, pin: Option[Long] = None): String =
    pin match {
      case Some(v) =>
        val dir = versionDir(base, v)
        require(fs(spark, base).exists(new Path(dir, ManifestFile)),
          s"pinned model version $v has no committed artifact under $base")
        dir
      case None =>
        val vs = listVersions(spark, base)
        require(vs.nonEmpty, s"no committed model versions under $base")
        versionDir(base, vs.last)
    }

  /** Delete all but the newest `keepN` committed versions; returns the
    * versions deleted. Never touches the newest committed version
    * (keepN >= 1 enforced) and never touches UNCOMMITTED directories —
    * a save may be in flight there; crash leftovers are the operator's
    * explicit cleanup, not gc's guess.
    */
  def gc(spark: SparkSession, base: String, keepN: Int): Seq[Long] = {
    require(keepN >= 1, "gc must keep at least the newest committed version")
    val vs = listVersions(spark, base)
    val drop = vs.dropRight(keepN)
    val f = fs(spark, base)
    drop.foreach(v => f.delete(new Path(versionDir(base, v)), true))
    drop
  }

  // -------- typed per-family helpers: the families a registered
  // -------- query, a contract test or a frozen-model streaming twin
  // -------- loads by name; each returns exactly the type its consumer
  // -------- takes, so the deploy path is load(...) |> consumer(...)

  /** q60 centroids (s26 router; also q79/q86's assignment input):
    * table `centroids` = (cid INT, vec ARRAY<BIGINT>).
    */
  def saveKmeans(spark: SparkSession, dir: String,
                 centroids: Seq[(Int, Seq[Long])], version: Long,
                 params: Map[String, String] = Map.empty): Manifest = {
    require(centroids.nonEmpty, "refusing to persist an empty centroid set")
    import spark.implicits._
    save(spark, dir, "kmeans", version,
      params + ("k" -> centroids.size.toString, "dim" -> centroids.head._2.size.toString),
      Map("centroids" -> centroids.toDF("cid", "vec")))
  }

  def loadKmeans(spark: SparkSession, dir: String): Seq[(Int, Seq[Long])] = {
    val (_, t) = load(spark, dir, "kmeans")
    t("centroids").collect() // k rows — the kmeansCentroids bounded protocol
      .map(r => (r.getInt(0), r.getSeq[Long](1).toSeq))
      .sortBy(_._1).toSeq
  }

  /** q65 PQ codebook (s28 encoder): table `codebook` =
    * (sub INT, code INT, vec ARRAY<BIGINT>).
    */
  def savePq(spark: SparkSession, dir: String,
             codebook: Map[(Int, Int), Seq[Long]], version: Long,
             params: Map[String, String] = Map.empty): Manifest = {
    require(codebook.nonEmpty, "refusing to persist an empty PQ codebook")
    import spark.implicits._
    val rows = codebook.toSeq.map { case ((m, j), c) => (m, j, c) }
      .sortBy(x => (x._1, x._2))
    save(spark, dir, "pq", version,
      params + ("M" -> (rows.map(_._1).max + 1).toString,
        "kcode" -> (rows.map(_._2).max + 1).toString),
      Map("codebook" -> rows.toDF("sub", "code", "vec")))
  }

  def loadPq(spark: SparkSession, dir: String): Map[(Int, Int), Seq[Long]] = {
    val (_, t) = load(spark, dir, "pq")
    t("codebook").collect() // M·kcode rows — bounded
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2).toSeq).toMap
  }

  /** q82 SQ8 grid (s40 encoder): table `grid` =
    * (pos INT, mn BIGINT, span BIGINT), position-ordered on load.
    */
  def saveSq8(spark: SparkSession, dir: String, grid: Seq[(Long, Long)],
              version: Long, params: Map[String, String] = Map.empty): Manifest = {
    require(grid.nonEmpty, "refusing to persist an empty SQ8 grid")
    import spark.implicits._
    save(spark, dir, "sq8", version, params + ("dim" -> grid.size.toString),
      Map("grid" -> grid.zipWithIndex
        .map { case ((mn, sp), i) => (i, mn, sp) }.toDF("pos", "mn", "span")))
  }

  def loadSq8(spark: SparkSession, dir: String): Seq[(Long, Long)] = {
    val (_, t) = load(spark, dir, "sq8")
    t("grid").collect().sortBy(_.getInt(0)) // dim rows — bounded
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
  }

  /** q67 BPE merge rules (s31 tokenizer): table `rules` = bpeTrain's
    * output (rank, lhs, rhs, cnt) verbatim; the load returns the
    * rank-ordered (lhs, rhs) list streamBpeEncode consumes.
    */
  def saveBpeRules(spark: SparkSession, dir: String, rules: DataFrame,
                   version: Long, params: Map[String, String] = Map.empty): Manifest =
    save(spark, dir, "bpe", version, params, Map("rules" -> rules))

  def loadBpeRules(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val (_, t) = load(spark, dir, "bpe")
    t("rules").collect() // ≤ merges rows — bounded
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).map(x => (x._2, x._3)).toSeq
  }

  /** q93 z-order grid (s50 encoder): table `grid` = one row
    * (pmin, pmax, smin, smax).
    */
  def saveZGrid(spark: SparkSession, dir: String,
                grid: (Long, Long, Long, Long), version: Long,
                params: Map[String, String] = Map.empty): Manifest = {
    import spark.implicits._
    save(spark, dir, "zgrid", version, params,
      Map("grid" -> Seq(grid).toDF("pmin", "pmax", "smin", "smax")))
  }

  def loadZGrid(spark: SparkSession, dir: String): (Long, Long, Long, Long) = {
    val (_, t) = load(spark, dir, "zgrid")
    val r = t("grid").head() // 1 row
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** q71 dup-window table — the DUPLICATION-sized family: table
    * `dup_windows` = (h STRING md5-hex, fdoc BIGINT, fpos INT), exactly
    * ExactSubstr.dupWindowTable's rows. [[loadDupTable]] returns that
    * Map (bounded by the same cap the builder asserts);
    * [[loadDupTableDf]] returns the parquet frame directly, with no
    * collect anywhere.
    */
  def saveDupTable(spark: SparkSession, dir: String,
                   dup: Map[String, (Long, Int)], version: Long,
                   params: Map[String, String] = Map.empty): Manifest = {
    require(dup.nonEmpty, "refusing to persist an empty dup-window table")
    import spark.implicits._
    save(spark, dir, "dup_windows", version, params,
      Map("dup_windows" -> dup.toSeq.map { case (h, (d, p)) => (h, d, p) }
        .sortBy(_._1).toDF("h", "fdoc", "fpos")))
  }

  def loadDupTable(spark: SparkSession, dir: String): Map[String, (Long, Int)] =
    loadDupTableDf(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap

  def loadDupTableDf(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "dup_windows")._2("dup_windows")

  /** q72 Naive-Bayes classifier (s-family admission scorer): table
    * `weights` = (bucket BIGINT, w BIGINT), exactly B rows (the
    * streaming twin requires full bucket coverage); the class prior
    * and bucket count ride in params.
    */
  def saveNbModel(spark: SparkSession, dir: String,
                  model: graft.operators.Classifier.NbModel, version: Long,
                  params: Map[String, String] = Map.empty): Manifest = {
    require(model.weights.size == model.buckets,
      s"NB model must cover all ${model.buckets} buckets, has ${model.weights.size}")
    import spark.implicits._
    save(spark, dir, "nb", version,
      params + ("prior_q16" -> model.priorQ16.toString,
        "buckets" -> model.buckets.toString),
      Map("weights" -> model.weights.toSeq.sortBy(_._1).toDF("bucket", "w")))
  }

  def loadNbModel(spark: SparkSession, dir: String)
      : graft.operators.Classifier.NbModel = {
    val (m, t) = load(spark, dir, "nb")
    graft.operators.Classifier.NbModel(
      t("weights").collect() // B rows — bounded
        .map(r => r.getLong(0) -> r.getLong(1)).toMap,
      m.params("prior_q16").toLong, m.params("buckets").toInt)
  }

  /** q101's trained unigram model (family `unigram`, s56's segmenter):
    * table `pieces` = (piece STRING, cnt BIGINT, cost_q16 BIGINT) —
    * vocab-sized; the segmentation maxLen rides in params (pieces must
    * be walked on the grid they were trained with).
    */
  def saveUnigram(spark: SparkSession, dir: String,
                  model: graft.operators.Unigram.Model, maxLen: Int,
                  version: Long,
                  params: Map[String, String] = Map.empty): Manifest = {
    require(model.pieces.nonEmpty, "refusing to persist an empty unigram model")
    import spark.implicits._
    save(spark, dir, "unigram", version, params + ("max_len" -> maxLen.toString),
      Map("pieces" -> model.pieces.sortBy(_._1).toDF("piece", "cnt", "cost_q16")))
  }

  def loadUnigram(spark: SparkSession, dir: String)
      : (graft.operators.Unigram.Model, Int) = {
    val (m, t) = load(spark, dir, "unigram")
    (graft.operators.Unigram.Model(
      t("pieces").collect() // vocab-sized — bounded
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq),
      m.params("max_len").toInt)
  }

  /** q103's incremental-curation state (family `curate_state`): the
    * v1 release's frozen cross-document tables — `canon_digests` /
    * `seg_digests` / `win_digests` (h STRING; duplication-sized,
    * DataFrame end to end, never collected) and `corpus_shingles` /
    * `bench_shingles` (shingle BIGINT) — plus the q53 chain's scalars (vocab,
    * rates, cutoffs, gate knobs) in tables/params. One artifact is the
    * whole monthly-release handoff: v2's delta curates from exactly
    * this, nothing else.
    */
  def saveCurateState(spark: SparkSession, dir: String,
                      st: graft.operators.Pipeline.CurateState, version: Long,
                      params: Map[String, String] = Map.empty): Manifest = {
    require(st.vocab.nonEmpty && st.ratesMyriad.nonEmpty,
      "refusing to persist a curate state with no vocab or rates")
    import spark.implicits._
    val p = params ++ Map(
      "mem_cut_myriad" -> st.memCutMyriad.toString,
      "rule_gate" -> st.ruleGate.toString,
      "seg_words" -> st.segWords.toString, "shingle_n" -> st.shingleN.toString,
      "max_n" -> st.maxN.toString, "capacity" -> st.capacity.toString,
      "shards" -> st.shards.toString, "sub_k" -> st.subK.toString) ++
      st.lenCut.map(v => "len_cut" -> v.toString) ++
      st.alphaCut.map(v => "alpha_cut" -> v.toString)
    save(spark, dir, "curate_state", version, p, Map(
      "bench_shingles" -> st.benchShingles.toDF("shingle"),
      "canon_digests" -> st.canonDigests.toDF("h"),
      "seg_digests" -> st.segDigests.toDF("h"),
      "win_digests" -> st.winDigests.toDF("h"),
      "corpus_shingles" -> st.corpusShingles.toDF("shingle"),
      "vocab" -> st.vocab.zipWithIndex.map(_.swap).toDF("idx", "gram"),
      "rates" -> st.ratesMyriad.toSeq.sortBy(_._1).toDF("lang", "rate")))
  }

  def loadCurateState(spark: SparkSession, dir: String)
      : graft.operators.Pipeline.CurateState = {
    val (m, t) = load(spark, dir, "curate_state")
    graft.operators.Pipeline.CurateState(
      vocab = t("vocab").collect().sortBy(_.getInt(0)).map(_.getString(1)).toSeq,
      ratesMyriad = t("rates").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap,
      lenCut = m.params.get("len_cut").map(java.lang.Double.parseDouble),
      alphaCut = m.params.get("alpha_cut").map(java.lang.Double.parseDouble),
      memCutMyriad = m.params("mem_cut_myriad").toInt,
      ruleGate = m.params("rule_gate").toBoolean,
      segWords = m.params("seg_words").toInt,
      shingleN = m.params("shingle_n").toInt,
      maxN = m.params("max_n").toInt,
      capacity = m.params("capacity").toInt,
      shards = m.params("shards").toInt,
      subK = m.params("sub_k").toInt,
      benchShingles = t("bench_shingles"),
      canonDigests = t("canon_digests"),
      segDigests = t("seg_digests"),
      winDigests = t("win_digests"),
      corpusShingles = t("corpus_shingles"))
  }
}
