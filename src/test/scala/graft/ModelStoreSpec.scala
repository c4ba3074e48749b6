package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** ModelStore contracts. The generic ones: the manifest round-trips
  * and refuses a wrong family or an uncommitted directory; a tampered
  * table refuses at load; duplication-sized families keep the
  * row-count proxy; versioned releases list, pin and garbage-collect.
  * Then, per typed family: batch-train → SAVE → LOAD → run the
  * frozen-model consumer with the LOADED artifact (never the
  * in-process value) → assert row-exact equality against the batch
  * operator. This is the serialize/load handoff a production ingest
  * service performs — the reference's analog is bootstrapping KTable
  * state from its compacted topics (Streams.java:102-115) before the
  * stream flows. The typed family a registered query loads
  * (`curate_state`, q103) is pinned in PipelineSpec.
  */
class ModelStoreSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.sources.Tables
  import graft.streaming.StreamOps

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"modelstore_$name").toString

  test("manifest contract: fields round-trip; wrong family refuses; uncommitted dir refuses") {
    import spark.implicits._
    val dir = tmp("manifest")
    val m = ModelStore.save(spark, dir, "kmeans", 12L,
      Map("k" -> "8", "note" -> "quote\" and ,comma"),
      Map("centroids" -> Seq((1, Seq(1L, 2L))).toDF("cid", "vec")))
    val back = ModelStore.manifest(spark, dir)
    assert(back.family == "kmeans" && back.version == 12L)
    assert(back.params("note") == "quote\" and ,comma", "params must JSON-round-trip exactly")
    assert(back.tables == Seq("centroids"))
    assert(back.createdUtcMs == m.createdUtcMs)
    // family check: a PQ loader pointed at a kmeans model must fail loudly
    val e = intercept[IllegalArgumentException](ModelStore.load(spark, dir, "pq"))
    assert(e.getMessage.contains("family"))
    // crash simulation: tables present but no commit marker → refused
    val crashed = tmp("crashed")
    Seq((1, Seq(1L))).toDF("cid", "vec").write.parquet(s"$crashed/tables/centroids")
    val e2 = intercept[IllegalArgumentException](ModelStore.manifest(spark, crashed))
    assert(e2.getMessage.contains("no committed model"))
    // re-save over a prior model replaces it (the failed-attempt path)
    ModelStore.save(spark, dir, "kmeans", 13L, Map.empty,
      Map("centroids" -> Seq((2, Seq(9L))).toDF("cid", "vec")))
    assert(ModelStore.manifest(spark, dir).version == 13L)
    assert(ModelStore.loadKmeans(spark, dir) == Seq((2, Seq(9L))))
  }

  test("integrity (r14): a tampered table refuses at load with the table named") {
    import spark.implicits._
    val dir = tmp("tamper")
    ModelStore.save(spark, dir, "kmeans", 1L, Map.empty,
      Map("centroids" -> Seq((1, Seq(1L, 2L)), (2, Seq(3L, 4L))).toDF("cid", "vec")))
    // sanity: the untampered artifact loads
    ModelStore.load(spark, dir, "kmeans")
    // tamper: swap a value in the parquet UNDER the committed manifest
    Seq((1, Seq(1L, 2L)), (2, Seq(3L, 5L))).toDF("cid", "vec")
      .write.mode("overwrite").parquet(s"$dir/tables/centroids")
    val e = intercept[IllegalArgumentException](ModelStore.load(spark, dir, "kmeans"))
    assert(e.getMessage.contains("integrity") && e.getMessage.contains("centroids"))
    // digest is content-based, not layout-based: the same rows written
    // with a different partitioning still load
    val dir2 = tmp("relayout")
    ModelStore.save(spark, dir2, "kmeans", 1L, Map.empty,
      Map("centroids" -> Seq((1, Seq(1L, 2L)), (2, Seq(3L, 4L))).toDF("cid", "vec")))
    Seq((2, Seq(3L, 4L)), (1, Seq(1L, 2L))).toDF("cid", "vec").repartition(3)
      .write.mode("overwrite").parquet(s"$dir2/tables/centroids")
    assert(ModelStore.loadKmeans(spark, dir2) == Seq((1, Seq(1L, 2L)), (2, Seq(3L, 4L))),
      "row/partition order must not affect the digest")
    // a manifest WITHOUT digests (pre-r14 format) refuses as unverifiable
    val m3 = tmp("legacy")
    ModelStore.save(spark, m3, "kmeans", 1L, Map.empty,
      Map("centroids" -> Seq((1, Seq(1L))).toDF("cid", "vec")))
    val mf = new java.io.File(m3, ModelStore.ManifestFile)
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath))
    val stripped = txt.replaceAll(""","digests":\{[^}]*\}""", "")
    assert(stripped != txt, "test must actually strip the digests node")
    java.nio.file.Files.write(mf.toPath, stripped.getBytes)
    // drop the local-fs CRC sidecar the out-of-band rewrite invalidated
    new java.io.File(m3, s".${ModelStore.ManifestFile}.crc").delete()
    val e2 = intercept[IllegalArgumentException](ModelStore.load(spark, m3, "kmeans"))
    assert(e2.getMessage.contains("no content digest"))
  }

  test("row-count proxy (r16): skip-path families refuse truncated state; pre-r16 manifests fall back to the full digest") {
    import spark.implicits._
    // a duplication-sized family skips the digest recompute — the
    // cheap row-count proxy must still catch a truncated table
    val dir = tmp("proxy")
    ModelStore.save(spark, dir, "dup_windows", 1L, Map.empty,
      Map("win" -> Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("h", "pos")))
    ModelStore.load(spark, dir, "dup_windows") // sanity: loads
    Seq(("a", 1L), ("b", 2L)).toDF("h", "pos")
      .write.mode("overwrite").parquet(s"$dir/tables/win")
    val e = intercept[IllegalArgumentException](
      ModelStore.load(spark, dir, "dup_windows"))
    assert(e.getMessage.contains("row-count proxy") && e.getMessage.contains("win"))
    // same-count corruption slips the proxy BY DESIGN (the documented
    // trade) — but verifyLarge=true still catches it via the digest
    val dir2 = tmp("proxy2")
    ModelStore.save(spark, dir2, "dup_windows", 1L, Map.empty,
      Map("win" -> Seq(("a", 1L), ("b", 2L)).toDF("h", "pos")))
    Seq(("a", 1L), ("b", 9L)).toDF("h", "pos")
      .write.mode("overwrite").parquet(s"$dir2/tables/win")
    ModelStore.load(spark, dir2, "dup_windows") // proxy passes (2 rows)
    val e2 = intercept[IllegalArgumentException](
      ModelStore.load(spark, dir2, "dup_windows", verifyLarge = true))
    assert(e2.getMessage.contains("integrity"))
    // a pre-r16 manifest (no rows node) forces the full digest path
    // even for skip families: integrity unknown is not integrity waived
    val dir3 = tmp("proxy3")
    ModelStore.save(spark, dir3, "dup_windows", 1L, Map.empty,
      Map("win" -> Seq(("a", 1L)).toDF("h", "pos")))
    val mf = new java.io.File(dir3, ModelStore.ManifestFile)
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath))
    val stripped = txt.replaceAll(""","rows":\{[^}]*\}""", "")
    assert(stripped != txt, "test must actually strip the rows node")
    java.nio.file.Files.write(mf.toPath, stripped.getBytes)
    new java.io.File(dir3, s".${ModelStore.ManifestFile}.crc").delete()
    Seq(("zz", 1L)).toDF("h", "pos") // same count, different content
      .write.mode("overwrite").parquet(s"$dir3/tables/win")
    val e3 = intercept[IllegalArgumentException](
      ModelStore.load(spark, dir3, "dup_windows"))
    assert(e3.getMessage.contains("integrity"))
  }

  test("lifecycle (r14): listVersions sees only committed dirs; gc keeps newest; pins ignore supersedes") {
    import spark.implicits._
    val base = tmp("versions")
    def saveV(v: Long, cid: Int): Unit =
      ModelStore.save(spark, ModelStore.versionDir(base, v), "kmeans", v,
        Map.empty, Map("centroids" -> Seq((cid, Seq(cid.toLong))).toDF("cid", "vec")))
    saveV(1L, 1); saveV(2L, 2); saveV(3L, 3)
    // an uncommitted crash leftover is invisible
    Seq((9, Seq(9L))).toDF("cid", "vec")
      .write.parquet(s"${ModelStore.versionDir(base, 9L)}/tables/centroids")
    assert(ModelStore.listVersions(spark, base) == Seq(1L, 2L, 3L))
    // pinned load ignores the newer supersede; unpinned takes newest
    assert(ModelStore.resolve(spark, base) == ModelStore.versionDir(base, 3L))
    val pinned = ModelStore.resolve(spark, base, Some(2L))
    assert(ModelStore.loadKmeans(spark, pinned) == Seq((2, Seq(2L))))
    intercept[IllegalArgumentException](ModelStore.resolve(spark, base, Some(7L)))
    // gc: drops 1, keeps 2..3, never touches the uncommitted dir
    assert(ModelStore.gc(spark, base, keepN = 2) == Seq(1L))
    assert(ModelStore.listVersions(spark, base) == Seq(2L, 3L))
    assert(new java.io.File(s"${ModelStore.versionDir(base, 9L)}/tables/centroids").exists)
    // gc(1) keeps exactly the newest; keepN = 0 refuses
    assert(ModelStore.gc(spark, base, keepN = 1) == Seq(2L))
    assert(ModelStore.listVersions(spark, base) == Seq(3L))
    intercept[IllegalArgumentException](ModelStore.gc(spark, base, keepN = 0))
    assert(ModelStore.loadKmeans(spark,
      ModelStore.resolve(spark, base)) == Seq((3, Seq(3L))))
  }

  test("kmeans: stream from the LOADED artifact is row-exact vs batch q60") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val embs = Tables.embeddings(spark, sfDir)
    val batch = graft.operators.Similarity.kmeansAssign(embs, k = 8, iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cents = graft.operators.Similarity.kmeansCentroids(embs, k = 8, iters = 3)
    val dir = tmp("kmeans")
    ModelStore.saveKmeans(spark, dir, cents, version = 1L)
    val loaded = ModelStore.loadKmeans(spark, dir)
    assert(loaded == cents.sortBy(_._1), "centroids must round-trip bit-exact")

    val source = MemoryStream[(Long, Seq[Float])]
    val got = collection.mutable.Map[Long, (Long, Long)]()
    val q = StreamOps.streamKmeansAssign(source.toDS(), loaded)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.KmAssign], _: Long) =>
        b.collect().foreach(r => got(r.vec_id) = (r.cluster, r.d2)); ()
      }.start()
    try {
      val rows = embs.select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      rows.grouped(rows.length / 2 + 1).foreach { ch =>
        source.addData(ch.toIndexedSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(got.toMap == batch, "loaded-artifact stream must equal batch q60")
  }

  test("pq: stream from the LOADED codebook is row-exact vs batch q65") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val embs = Tables.embeddings(spark, sfDir)
    val batch = graft.operators.Similarity.pqCodes(embs, kcode = 16, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val book = graft.operators.Similarity.pqCodebook(embs, kcode = 16, iters = 3)
    val dir = tmp("pq")
    ModelStore.savePq(spark, dir, book, version = 3L)
    assert(ModelStore.manifest(spark, dir).params("kcode") == "16")
    val loaded = ModelStore.loadPq(spark, dir)
    assert(loaded == book, "codebook must round-trip bit-exact")

    val source = MemoryStream[(Long, Seq[Float])]
    val got = collection.mutable.Map[(Long, Long), (Long, Long)]()
    val q = StreamOps.streamPqEncode(source.toDS(), loaded)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.PqCode], _: Long) =>
        b.collect().foreach(r => got((r.vec_id, r.sub)) = (r.code, r.d2)); ()
      }.start()
    try {
      val rows = embs.select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      source.addData(rows.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toMap == batch, "loaded-artifact stream must equal batch q65")
  }

  test("sq8: stream from the LOADED grid is row-exact vs batch q82") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val embs = Tables.embeddings(spark, sfDir)
    val batch = graft.operators.Similarity.sq8Codes(embs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val grid = graft.operators.Similarity.sq8Grid(embs)
    val dir = tmp("sq8")
    ModelStore.saveSq8(spark, dir, grid, version = 2L)
    val loaded = ModelStore.loadSq8(spark, dir)
    assert(loaded == grid, "grid must round-trip bit-exact, position order preserved")

    val source = MemoryStream[(Long, Seq[Float])]
    val got = collection.mutable.Map[(Long, Long), (Long, Long)]()
    val q = StreamOps.streamSq8Encode(source.toDS(), loaded)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.Sq8Code], _: Long) =>
        b.collect().foreach(r => got((r.vec_id, r.pos)) = (r.code, r.err)); ()
      }.start()
    try {
      val rows = embs.select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      source.addData(rows.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toMap == batch, "loaded-artifact stream must equal batch q82")
  }

  test("bpe: stream from the LOADED rules is row-exact vs batch q68") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    val batch = graft.operators.Bpe.bpeEncode(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val rulesDf = graft.operators.Bpe.bpeTrain(d)
    val dir = tmp("bpe")
    ModelStore.saveBpeRules(spark, dir, rulesDf, version = 24L,
      params = Map("merges" -> "24", "vocabCap" -> "256"))
    val loaded = ModelStore.loadBpeRules(spark, dir)
    assert(loaded.size == 24, "rank-ordered rule list must load complete")
    assert(loaded == rulesDf.collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq)

    val source = MemoryStream[(Long, String)]
    val got = collection.mutable.Map[Long, (Long, String)]()
    val q = StreamOps.streamBpeEncode(source.toDS(), loaded)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.BpeDoc], _: Long) =>
        b.collect().foreach(r => got(r.doc_id) = (r.n_subwords, r.subtext)); ()
      }.start()
    try {
      val rows = d.select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      source.addData(rows.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toMap == batch, "loaded-artifact stream must equal batch q68")
  }

  test("zgrid: stream from the LOADED grid is row-exact vs batch q93's encode") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Layout
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val grid = Layout.zGrid(li)
    val dir = tmp("zgrid")
    ModelStore.saveZGrid(spark, dir, grid, version = 9L)
    val (pmin, pmax, smin, smax) = ModelStore.loadZGrid(spark, dir)
    assert((pmin, pmax, smin, smax) == grid)
    val batch = Layout.zorderEncode(li).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(4), r.getLong(5)))).toMap
    val rows = li.as[(Long, Int, Long, Long)].collect()
    val got = collection.mutable.Map[(Long, Int), (Long, Long)]()
    val source = MemoryStream[(Long, Int, Long, Long)]
    val q = Layout.zEncodeFrozen(
        source.toDS().toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        pmin, pmax, smin, smax)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got((r.getLong(0), r.getInt(1))) = ((r.getLong(4), r.getLong(5))))
        ()
      }.start()
    try { source.addData(rows.toIndexedSeq: _*); q.processAllAvailable() }
    finally q.stop()
    assert(got.toMap == batch, "loaded-grid stream encode must equal batch q93")
  }

  test("dup_windows: the duplication-sized family round-trips without a collect on the save path") {
    val docs = Tables.documents(spark, sfDir)
    val dup = graft.operators.ExactSubstr.dupWindowTable(docs, k = 6)
    assert(dup.nonEmpty, "corpus must have planted dup windows for this test to bite")
    val dir = tmp("dup")
    ModelStore.saveDupTable(spark, dir, dup, version = 4L)
    assert(ModelStore.loadDupTable(spark, dir) == dup,
      "digest -> first-occurrence map must round-trip exactly")
    // the scale path: the parquet frame itself, for stream-static joins
    assert(ModelStore.loadDupTableDf(spark, dir).count() == dup.size)
  }

  test("nb: stream classification from the LOADED model is row-exact vs batch q72") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    val batch = graft.operators.Classifier.nbClassify(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val model = graft.operators.Classifier.nbModel(d)
    val dir = tmp("nb")
    ModelStore.saveNbModel(spark, dir, model, version = 6L)
    val loaded = ModelStore.loadNbModel(spark, dir)
    assert(loaded == model, "bucket weights + prior must round-trip exactly")

    val source = MemoryStream[(Long, String)]
    val got = collection.mutable.Map[Long, (Long, Long, Long, Long)]()
    val q = StreamOps.streamNbClassify(source.toDS(), loaded)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.NbScore], _: Long) =>
        b.collect().foreach(r =>
          got(r.doc_id) = (r.is_train, r.n_feats, r.score_q16, r.pred)); ()
      }.start()
    try {
      source.addData(d.select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toMap == batch, "loaded-artifact stream must equal batch q72")
  }

  test("unigram: the s56 encoder from the LOADED artifact is row-exact vs batch q101b") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Unigram
    val docs = Tables.documents(spark, sfDir)
    val batch = Unigram.unigramEncode(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val model = Unigram.unigramFit(docs)
    val dir = tmp("unigram")
    ModelStore.saveUnigram(spark, dir, model, maxLen = 4, version = 3L)
    val (loaded, maxLen) = ModelStore.loadUnigram(spark, dir)
    assert(loaded.pieces.toSet == model.pieces.toSet && maxLen == 4,
      "pieces + grid must round-trip exactly (order is not part of the model)")

    val feed = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val source = MemoryStream[(Long, String)]
    val got = collection.mutable.Map[Long, (Long, String)]()
    val q = StreamOps.streamUnigramEncode(source.toDS(), loaded, maxLen)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.UnigramSegDoc], _: Long) =>
        b.collect().foreach(d => got(d.doc_id) = ((d.n_pieces, d.subtext))); ()
      }.start()
    try { source.addData(feed.toIndexedSeq: _*); q.processAllAvailable() }
    finally q.stop()
    assert(got.toMap == batch, "loaded-artifact encoder must equal batch q101b")
  }
}
