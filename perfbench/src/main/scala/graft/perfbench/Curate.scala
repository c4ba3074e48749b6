package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.{GreedyTokenizerFunctions, QuantileFunctions, VectorFunctions}
import graft.operators.{ExactSubstr, Materializer, Pipeline, QualityRules, TextOps}
import graft.sources.Tables

/** `curate`: the registered q53 curation chain (`Pipeline.curate` with
  * materialized stages) as closed-loop jobs over the generated corpus.
  */
object Curate {
  val Query = "q53_curate"

  /** The registered configuration of q53 (SparkEntry), which the traced
    * chain below spells out stage by stage.
    */
  private val targets = Map("en" -> 2000, "es" -> 2000, "de" -> 2000, "fr" -> 2000, "zh" -> 2000)
  private val (segWords, shingleN, vocabM, maxN, capacity, shards, gatePct, subK, memCut) =
    (8, 4, 64, 4, 512, 8, 5, 6, 2000)

  def job(ctx: Ctx, dir: String): Checksum =
    Checksum.of(SparkEntry.queries(Query)(ctx.spark, dir))

  /** q53 one stage per span, each stage's output forced through the
    * program's Materializer. Its checksum must equal [[job]]'s.
    */
  def tracedJob(ctx: Ctx, dir: String): Checksum = {
    val tr = ctx.tracer
    def stage[T](name: String)(body: => T): T = tr.span(s"operators.pipeline.$name")(body)
    // row counts are bookkeeping: their own span, left out of stage times
    def tally(key: String, df: DataFrame): Unit =
      tr.count(key, tr.span(Layers.Bookkeeping)(df.count()).toDouble)
    def force(df: DataFrame): DataFrame = {
      tr.count("scan_nodes", PlanCounts.scans(df).toDouble)
      val m = tr.span("operators.pipeline.materialize")(Materializer.materialize(df))
      tally("rows_out", m)
      m
    }
    def keep(in: DataFrame)(out: => DataFrame): DataFrame = { tally("rows_in", in); force(out) }
    tr.span("job") {
      val docs = tr.span("sources.scan") {
        val d = Tables.documents(ctx.spark, dir)
        tr.count("rows", Checksum.of(d).rows.toDouble)
        tr.count("bytes", Files.bytes(s"$dir/documents.parquet").toDouble)
        d
      }
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val docs0 = stage("normalize")(force(corpus.select(col("doc_id"), col("lang"),
        TextOps.normalizeCol(col("text")).as("text"))))
      val ruled = stage("rules")(keep(docs0)(QualityRules.gopherFilter(docs0)))
      val canon = stage("dedup_exact")(keep(ruled)(
        TextOps.dedupExact(ruled).select("doc_id").join(ruled, "doc_id")))
      val cleaned = stage("segment_dedup")(force(TextOps.segmentDedup(canon, segWords)
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(canon.select("doc_id", "lang"), "doc_id")))
      val subbed = stage("substr") {
        val starts = force(ExactSubstr.windowStarts(cleaned, subK))
        force(cleaned.join(starts, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"), col("text"),
            coalesce(col("starts"), array().cast("array<int>")).as("st"),
            filter(split(lower(TextOps.wsTrim(col("text"))), "\\s+"), t => length(t) > 0).as("toks"))
          .select(col("doc_id"), col("lang"),
            when(col("text").isNull, lit(null).cast("string"))
              .otherwise(concat_ws(" ", expr(
                s"filter(toks, (t, j) -> NOT exists(st, p -> j+1 >= p AND j+1 < p + $subK))")))
              .as("text")))
      }
      val gated = stage("quality_gate") {
        val (lenCut, alphaCut) = Pipeline.qualityCutoffs(subbed, gatePct)
        keep(subbed)(Pipeline.qualityGate(subbed, lenCut, alphaCut))
      }
      val decon = stage("decontaminate") {
        val bench0 = bench.select(col("doc_id"), TextOps.normalizeCol(col("text")).as("text"))
        keep(gated)(TextOps.decontaminate(gated, bench0, shingleN)
          .filter(col("contaminated") === 0).select("doc_id").join(gated, "doc_id"))
      }
      val red = stage("pii_redact")(force(decon.select(col("doc_id"),
        TextOps.piiRedactCol(col("text")).as("text"), col("lang"))))
      val mem = stage("memorization")(keep(red)(TextOps.memorizationRisk(red, shingleN)
        .filter(col("n_dup") * lit(10000L) <= lit(memCut.toLong) * col("n_shingles"))
        .select("doc_id").join(red, "doc_id")))
      val vocab = stage("vocab")(TextOps.tokenizerVocabSeq(mem, vocabM, maxN))
      val admitted = stage("mixture")(keep(mem)(
        TextOps.mixtureSolveTokenized(mem, targets, vocab, maxN)))
      val out = stage("pack")(Checksum.of(TextOps.packCore(
        admitted.select(col("doc_id"), col("n_tokens").as("n_tok")), capacity, shards)))
      tr.count("materialized_bytes", ctx.spark.sparkContext.getRDDStorageInfo
        .map(i => (i.memSize + i.diskSize).toDouble).sum)
      kernels(ctx, corpus, vocab)
      out
    }
  }

  /** One span per Catalyst kernel: a projection (or, for the sketch, an
    * aggregate) of that kernel over the corpus, forced by a reduction.
    */
  private def kernels(ctx: Ctx, corpus: DataFrame, vocab: Seq[String]): Unit = {
    val tr = ctx.tracer
    def project(name: String)(k: Column): Unit = tr.span(s"functions.$name") {
      val r = corpus.select(k.as("x")).agg(count(lit(1)), bit_xor(xxhash64(col("x")))).head()
      tr.count("rows", r.getLong(0).toDouble)
    }
    project("nfc")(VectorFunctions.nfc_normalize(col("text")))
    project("poly_hash")(VectorFunctions.poly_hash(col("text")))
    project("greedy_tokenize")(GreedyTokenizerFunctions.token_stats(lower(col("text")), vocab, maxN))
    tr.span("functions.quantile_sketch") {
      corpus.agg(count(lit(1)), QuantileFunctions.quantile_sketch(xxhash64(col("doc_id")),
        col("n_chars").cast("double"), 1024)).head()
      tr.count("rows", corpus.count().toDouble)
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark; val r = ctx.result
    Log.phase("generate")
    val gen = (0 until 3).map(i => Loop.time(Gen.corpus(spark, ctx.dir(s"corpus$i"), ctx.seed))._2)
    (1 until 3).foreach(i => Files.delete(s"${ctx.work}/corpus$i"))
    val dir = s"${ctx.work}/corpus0"
    // the first (cold) warm-up job dumps q53 for the DuckDB oracle; its
    // checksum is the reference every timed job must reproduce
    val out = s"${ctx.work}/out/$Query"
    Log.phase("first job")
    val (ref, first) = Loop.time {
      SparkEntry.queries(Query)(spark, dir).write.mode("overwrite").parquet(out)
      ctx.releaseBlocks()
      r.checks += ((Query, out, SparkEntry.oracleSql(Query)))
      Checksum.of(spark.read.parquet(out))
    }
    Log.phase("warm up")
    val warm = first + Loop.warmup(minJobs = 1, maxSeconds = 4) { () => job(ctx, dir); ctx.releaseBlocks() }
    r.metric("setup_s", Stats.median(gen) + warm, "s")
    r.info("gen_s") = gen; r.info("warmup_s") = warm
    val docs = spark.read.parquet(s"$dir/documents.parquet").count().toDouble
    r.info("documents") = docs

    Log.phase("measure")
    val (runs, window) = Loop.time(Loop.closed(ctx.seconds, 2)(
      () => job(ctx, dir) == ref)(() => ctx.releaseBlocks()))
    Loop.report(ctx, runs, docs, window)
    if (ctx.traced) {
      val untracedP50 = r.metrics("latency_p50_s")._1
      Log.phase("traced")
      ctx.tracer.enabled = true
      Host.resetHeapPeak()
      val truns = Loop.closed(ctx.seconds, 2) { () =>
        val c = tracedJob(ctx, dir)
        // composition guard: the stage-by-stage chain must be q53 itself
        if (c != ref) throw new IllegalStateException(
          s"traced curate chain diverged from Pipeline.curate: $c vs $ref")
        true
      }(() => ctx.releaseBlocks())
      ctx.tracer.enabled = false
      r.attempted += truns.size; r.failed += truns.count(!_.ok)
      r.info("composition_guard") = if (truns.forall(_.ok)) "pass" else "FAIL"
      val heap = Host.heapPeakMb
      val jobs = ctx.tracer.all.filter(_.name == "job")
      val L = new Layers(ctx, jobs)
      L.sources()
      Layers.PipelineStages.foreach(s =>
        r.metric(s"operators.pipeline.${s}_ms", L.workMs(s"operators.pipeline.$s"), "ms"))
      r.metric("operators.pipeline.materialize_ms", L.selfMs("operators.pipeline.materialize"), "ms")
      Layers.FilterStages.foreach { s =>
        val name = s"operators.pipeline.$s"
        r.metric(s"${name}_keep", L.count(name, "rows_out") / L.count(name, "rows_in"), "ratio")
      }
      r.metric("operators.pipeline.keep_ratio",
        L.count("operators.pipeline.mixture", "rows_out") / L.count("operators.pipeline.normalize", "rows_out"), "ratio")
      r.metric("operators.pipeline.materialized_bytes", L.count("job", "materialized_bytes"), "B")
      r.metric("operators.pipeline.scan_nodes",
        Layers.PipelineStages.map(s => L.count(s"operators.pipeline.$s", "scan_nodes")).sum, "count")
      Layers.Kernels.foreach { k =>
        val ms = L.selfMs(s"functions.$k")
        r.metric(s"functions.${k}_ms", ms, "ms")
        r.metric(s"functions.${k}_rows_per_s", L.count(s"functions.$k", "rows") / (ms / 1000), "1/s")
      }
      L.runtime(heap)
      L.overhead(untracedP50, truns)
    }
  }
}
