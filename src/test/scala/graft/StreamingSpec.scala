package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming operators (s01–s04) verified against their batch analogs
  * on the same input — the update-mode state results after draining a
  * MemoryStream must equal the batch aggregation of the same rows
  * (SURVEY.md §4: streaming ops are ScalaTest-verified vs batch).
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.streaming.{KafkaIO, StreamOps}
  import graft.sources.Tables

  test("s01 per-sku streaming stats converge to the batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_orderkey"), col("l_quantity"))
      .as[StreamOps.SkuEvent].collect()

    val source = MemoryStream[StreamOps.SkuEvent]
    val q = StreamOps.streamProductStats(source.toDS())
      .writeStream.format("memory").queryName("s01_out")
      .outputMode(OutputMode.Update()).start()
    try {
      // feed in two batches to force cross-batch state merge
      val (first, second) = li.splitAt(li.length / 2)
      source.addData(first.toSeq); q.processAllAvailable()
      source.addData(second.toSeq); q.processAllAvailable()
    } finally q.stop()

    // latest state per key from the update-mode changelog: quantity and
    // orders are monotone non-decreasing per key, so latest == max.
    val latest = spark.table("s01_out")
      .groupBy(col("l_partkey"))
      .agg(max(col("quantity")).cast("double").as("quantity"),
        max(col("orders")).as("orders"))

    val batch = graft.operators.CoreOps.productStats(Tables.lineitem(spark, sfDir))
    assertSameRows(latest, batch.select(col("l_partkey"),
      col("quantity"), col("orders")))
  }

  test("s01b HLL-state stats: exact quantities, distinct counts within 5%") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_orderkey"), col("l_quantity"))
      .as[StreamOps.SkuEvent].collect()

    val source = MemoryStream[StreamOps.SkuEvent]
    val q = StreamOps.streamProductStatsApprox(source.toDS())
      .writeStream.format("memory").queryName("s01b_out")
      .outputMode(OutputMode.Update()).start()
    try {
      val (first, second) = li.splitAt(li.length / 2)
      source.addData(first.toSeq); q.processAllAvailable()
      source.addData(second.toSeq); q.processAllAvailable()
    } finally q.stop()

    val latest = spark.table("s01b_out").groupBy(col("l_partkey"))
      .agg(max(col("quantity")).cast("double").as("quantity"),
        max(col("orders")).as("est_orders"))
    val exact = graft.operators.CoreOps.productStats(Tables.lineitem(spark, sfDir))
    // exact quantity, approximate distinct: |est - exact| <= 5% + 1
    val joined = latest.join(exact.withColumnRenamed("quantity", "q_exact"), "l_partkey")
    assert(joined.filter(col("quantity") =!= col("q_exact")).count() == 0)
    val bad = joined.filter(
      abs(col("est_orders") - col("orders")) > col("orders") * 0.05 + 1)
    assert(bad.count() == 0, bad.collect().take(5).mkString(";"))
  }

  test("hll sketch: merge equals union, estimates accurate to 2% at 100k") {
    import graft.functions.Hll
    val a = Hll.emptyRegisters(); val b = Hll.emptyRegisters()
    (0L until 60000L).foreach(Hll.add(a, _))
    (40000L until 100000L).foreach(Hll.add(b, _))
    Hll.merge(a, b)
    val est = Hll.estimate(a)
    assert(math.abs(est - 100000L) < 2000, s"est=$est")
    // small range is near-exact (linear counting σ ≈ 2.2 at n=200, m=4096)
    val s = Hll.emptyRegisters()
    (0L until 200L).foreach(Hll.add(s, _))
    assert(math.abs(Hll.estimate(s) - 200L) <= 7)
  }

  test("s08 transformWithState stats match flatMapGroupsWithState (s01b)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_partkey"), col("l_orderkey"), col("l_quantity"))
        .as[StreamOps.SkuEvent].collect()
      val source = MemoryStream[StreamOps.SkuEvent]
      val q = StreamOps.streamProductStatsTws(source.toDS())
        .writeStream.format("memory").queryName("s08_out")
        .outputMode(OutputMode.Update()).start()
      try {
        val (first, second) = li.splitAt(li.length / 2)
        source.addData(first.toSeq); q.processAllAvailable()
        source.addData(second.toSeq); q.processAllAvailable()
      } finally q.stop()
      val latest = spark.table("s08_out").groupBy(col("l_partkey"))
        .agg(max(col("quantity")).cast("double").as("quantity"),
          max(col("orders")).as("orders"))
      val exact = graft.operators.CoreOps.productStats(Tables.lineitem(spark, sfDir))
      val j = latest.join(exact.withColumnRenamed("quantity", "q_exact")
        .withColumnRenamed("orders", "o_exact"), "l_partkey")
      assert(j.count() == exact.count())
      assert(j.filter(col("quantity") =!= col("q_exact")).count() == 0)
      assert(j.filter(
        abs(col("orders") - col("o_exact")) > col("o_exact") * 0.05 + 1).count() == 0)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("s05 restore stream merges V1 sketches into V2 state correctly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.HllFunctions._
    val li = Tables.lineitem(spark, sfDir)
    // the V1 changelog: per-sku partial stats from two disjoint eras,
    // quantities + mergeable order sketches (batch-built)
    def sketches(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      li.filter(p(col("l_orderkey")))
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("quantity"), hll_sketch(col("l_orderkey")).as("sketch"))
        .as[graft.streaming.StreamOps.SkuSketch].collect()
    val v1Old = sketches(k => k % 2 === 0)
    val v1New = sketches(k => k % 2 =!= 0)

    val source = MemoryStream[graft.streaming.StreamOps.SkuSketch]
    val q = graft.streaming.StreamOps.streamStatsRestore(source.toDS())
      .writeStream.format("memory").queryName("s05_out")
      .outputMode(OutputMode.Update()).start()
    try {
      source.addData(v1Old.toSeq); q.processAllAvailable()
      source.addData(v1New.toSeq); q.processAllAvailable()
    } finally q.stop()

    val latest = spark.table("s05_out").groupBy(col("l_partkey"))
      .agg(max(col("quantity")).cast("double").as("quantity"),
        max(col("orders")).as("est_orders"))
    val exact = graft.operators.CoreOps.productStats(li)
    val joined = latest.join(exact.withColumnRenamed("quantity", "q_exact")
      .withColumnRenamed("orders", "o_exact"), "l_partkey")
    assert(joined.count() == exact.count())
    assert(joined.filter(abs(col("quantity") - col("q_exact")) > 1e-6).count() == 0)
    assert(joined.filter(
      abs(col("est_orders") - col("o_exact")) > col("o_exact") * 0.05 + 1).count() == 0)
  }

  test("s02 streaming window agg equals the batch tumbling aggregation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .as[graft.sources.Models.Event].collect()

    val source = MemoryStream[graft.sources.Models.Event]
    val q = StreamOps.streamWindowAgg(source.toDF())
      .writeStream.format("memory").queryName("s02_out")
      .outputMode(OutputMode.Update()).start()
    try { source.addData(ev.toSeq); q.processAllAvailable() } finally q.stop()

    val got = spark.table("s02_out")
      .groupBy("window_start", "event_type")
      .agg(max("n_events").as("n_events"), max("total_value").as("total_value"))
    val want = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .cast("double").as("total_value"))
    assertSameRows(got, want)
  }

  test("s03 stream-static join matches the batch enrichment") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("l_quantity"))
    val rows = li.as[(Long, Long, Int, Double)].collect()

    val source = MemoryStream[(Long, Long, Int, Double)]
    val stream = source.toDF()
      .toDF("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    val q = StreamOps.streamEnrichPrice(stream, Tables.part(spark, sfDir))
      .writeStream.format("memory").queryName("s03_out")
      .outputMode(OutputMode.Append()).start()
    try { source.addData(rows.toSeq); q.processAllAvailable() } finally q.stop()

    val batch = graft.operators.CoreOps.enrichPrice(li, Tables.part(spark, sfDir))
    assertSameRows(spark.table("s03_out"), batch)
  }

  test("s06 streaming pickup pipeline converges to the batch reassembly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("l_quantity"))
    val rows = li.as[(Long, Long, Int, Double)].collect()

    val source = MemoryStream[(Long, Long, Int, Double)]
    val stream = source.toDF().toDF("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    val q = graft.streaming.StreamOps
      .pickupPipelineStream(stream, Tables.part(spark, sfDir))
      .writeStream.format("memory").queryName("s06_out")
      .outputMode(OutputMode.Update()).start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      source.addData(first.toSeq); q.processAllAvailable()
      source.addData(second.toSeq); q.processAllAvailable()
    } finally q.stop()

    // latest state per order: item_count and order_total grow monotonically
    val latest = spark.table("s06_out").groupBy(col("l_orderkey"))
      .agg(max(col("item_count")).as("item_count"),
        max(col("order_total")).cast("double").as("stream_total"))
    val batch = graft.operators.CoreOps.orderReassembly(li, Tables.part(spark, sfDir))
    // every batch-complete order must appear with the full item count
    val j = batch.join(latest, Seq("l_orderkey"), "left")
    assert(j.filter(latest("item_count").isNull).count() == 0)
    assert(j.filter(batch("item_count") =!= latest("item_count")).count() == 0)
    // totals agree up to the per-item DECIMAL(30,6) rounding the batch
    // side applies (stream keeps full BigDecimal precision)
    assert(j.filter(abs(col("order_total") - col("stream_total")) > 1e-3).count() == 0)
  }

  test("s07 streaming dedup emits each distinct document exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[graft.sources.Models.Document].collect()
    // duplicate the whole corpus across two batches under new ids
    val clones = docs.map(d => d.copy(doc_id = d.doc_id + 100000))

    val source = MemoryStream[graft.sources.Models.Document]
    val q = graft.streaming.StreamOps.streamDedupExact(source.toDF())
      .writeStream.format("memory").queryName("s07_out")
      .outputMode(OutputMode.Append()).start()
    try {
      source.addData(docs.toSeq); q.processAllAvailable()
      source.addData(clones.toSeq); q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("s07_out")
    assert(out.count() == docs.length)             // clones all suppressed
    assert(out.select("text_hash").distinct().count() == docs.length)
    assert(out.filter(col("doc_id") >= 100000).count() == 0) // first wins
  }

  private def freshDir(name: String): String = {
    val dir = new java.io.File(s"/tmp/graft-test-$name")
    if (dir.exists()) { import scala.reflect.io.Directory; new Directory(dir).deleteRecursively() }
    dir.getAbsolutePath
  }

  test("s09 exactly-once sink: duplicate batch delivery leaves the snapshot unchanged") {
    import spark.implicits._
    import graft.streaming.ExactlyOnceSink
    val dir = freshDir("eos")
    def snap(): Seq[String] = ExactlyOnceSink.snapshot(spark, dir).get
      .collect().map(_.toString).sorted.toSeq

    val b0 = Seq((1L, 10.0), (2L, 20.0)).toDF("o_orderkey", "total")
    val b1 = Seq((2L, 25.0), (3L, 30.0)).toDF("o_orderkey", "total")

    ExactlyOnceSink.upsertBatch(dir, Seq("o_orderkey"))(b0, 0L)
    val afterB0 = snap()
    assert(afterB0.size == 2)
    // duplicate delivery of batch 0 (checkpoint-recovery replay)
    ExactlyOnceSink.upsertBatch(dir, Seq("o_orderkey"))(b0, 0L)
    assert(snap() == afterB0)

    // batch 1: updates key 2, inserts key 3 — the keyed MERGE
    ExactlyOnceSink.upsertBatch(dir, Seq("o_orderkey"))(b1, 1L)
    val afterB1 = snap()
    assert(afterB1.size == 3)
    assert(ExactlyOnceSink.snapshot(spark, dir).get
      .filter(col("o_orderkey") === 2L).head().getDouble(1) == 25.0)

    // replay batch 1, then a stale replay of batch 0: both no-ops
    ExactlyOnceSink.upsertBatch(dir, Seq("o_orderkey"))(b1, 1L)
    assert(snap() == afterB1)
    ExactlyOnceSink.upsertBatch(dir, Seq("o_orderkey"))(b0, 0L)
    assert(snap() == afterB1)
  }

  test("s09 within-batch collapse: versionCol picks the newest row, bare dupes throw") {
    import spark.implicits._
    import graft.streaming.ExactlyOnceSink
    val dir = freshDir("eos-ver")
    // changelog-style batch: two updates for key 1 in ONE trigger
    val b = Seq((1L, 10.0, 1L), (1L, 20.0, 2L), (2L, 5.0, 1L))
      .toDF("o_orderkey", "total", "seq")
    ExactlyOnceSink.upsertBatch(dir, Seq("o_orderkey"), versionCol = Some("seq"))(b, 0L)
    val snap = ExactlyOnceSink.snapshot(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(snap == Map(1L -> 20.0, 2L -> 5.0)) // newest version won
    // without a versionCol the same batch must fail loudly, not keep
    // an arbitrary row — the check rides inside the write job (one job,
    // not two extra counts), so the error surfaces wrapped
    val dupDir = freshDir("eos-ver2")
    val ex = intercept[Exception] {
      ExactlyOnceSink.upsertBatch(dupDir, Seq("o_orderkey"))(b, 0L)
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).flatMap(c => Option(c.getMessage)).mkString(" | ")
    assert(msgs.contains("versionCol"), s"got: $msgs")
    // the aborted write left no committed version — nothing to read
    assert(ExactlyOnceSink.committedVersions(spark, dupDir).isEmpty)
  }

  test("s09 versionCol works with a non-orderable (map) column; meta write leaves no tmp") {
    import spark.implicits._
    import graft.streaming.ExactlyOnceSink
    val dir = freshDir("eos-map")
    // a MapType column can't join a sort key: the tie-break struct must
    // restrict itself to orderable columns or analysis fails here
    // (r6 advisor finding)
    val b = Seq((1L, 10.0, Map("a" -> 1), 1L), (1L, 20.0, Map("b" -> 2), 2L),
        (2L, 5.0, Map("c" -> 3), 1L))
      .toDF("o_orderkey", "total", "props", "seq")
    ExactlyOnceSink.upsertBatch(dir, Seq("o_orderkey"), versionCol = Some("seq"))(b, 0L)
    val snap = ExactlyOnceSink.snapshot(spark, dir).get.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getMap[String, Int](2).toMap)).toMap
    assert(snap == Map(1L -> (20.0, Map("b" -> 2)), 2L -> (5.0, Map("c" -> 3))))
    // version TIES still deterministic via the orderable columns
    val tied = Seq((3L, 1.0, Map("x" -> 1), 7L), (3L, 9.0, Map("y" -> 2), 7L))
      .toDF("o_orderkey", "total", "props", "seq")
    ExactlyOnceSink.upsertBatch(dir, Seq("o_orderkey"), versionCol = Some("seq"))(tied, 1L)
    assert(ExactlyOnceSink.snapshot(spark, dir).get
      .filter(col("o_orderkey") === 3L).head().getDouble(1) == 9.0)
    // the meta temp file was renamed over the target, not left behind
    val ls = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(ls.contains("_graft_meta.json") && !ls.exists(_.endsWith(".tmp")), ls.toString)
  }

  test("s09 end-to-end: streaming reassembly lands exactly once in the sink table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = freshDir("eos-e2e")
    val li = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"), "left")
      .select(col("l_orderkey").cast("long"), col("l_linenumber").cast("int"),
        col("l_quantity").cast("double"),
        col("p_retailprice").cast("double").as("price"))
      .as[StreamOps.OrderItem].collect()

    val source = MemoryStream[StreamOps.OrderItem]
    val q = StreamOps.streamOrderReassembly(source.toDS())
      .writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.OrderState], id: Long) =>
        graft.streaming.ExactlyOnceSink.upsertBatch(dir, Seq("l_orderkey"))(b.toDF(), id)
      }
      .start()
    try {
      val (first, second) = li.splitAt(li.length / 2)
      source.addData(first.toSeq); q.processAllAvailable()
      source.addData(second.toSeq); q.processAllAvailable()
    } finally q.stop()

    // snapshot holds the LATEST state per order (update-mode changelog
    // upserted by key): counts must equal the batch reassembly's
    val out = graft.streaming.ExactlyOnceSink.snapshot(spark, dir).get
    val batch = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
    val j = batch.join(out, Seq("l_orderkey"), "left")
    assert(j.filter(col("item_count").isNull).count() == 0)
    assert(j.filter(col("item_count") =!= col("n")).count() == 0)
  }

  test("s10 dim refresh: a microbatch sees the updated product price") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dimDir = freshDir("dim"); val sinkDir = freshDir("dim-sink")
    val ckpt = freshDir("dim-ckpt")
    Seq((7L, 100.0)).toDF("p_partkey", "p_retailprice")
      .write.mode("overwrite").parquet(dimDir)

    val source = MemoryStream[(Long, Long, Int, Double)]
    val stream = source.toDF()
      .toDF("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    val q = graft.streaming.RefreshingDim.enrichPriceQuery(stream, dimDir, sinkDir, ckpt)
    try {
      source.addData((1L, 7L, 1, 2.0)); q.processAllAvailable()
      // the dim is updated WHILE the query runs — KTable semantics
      Seq((7L, 200.0)).toDF("p_partkey", "p_retailprice")
        .write.mode("overwrite").parquet(dimDir)
      source.addData((2L, 7L, 1, 3.0)); q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(sinkDir)
    assert(out.count() == 2)
    assert(out.filter(col("l_orderkey") === 1L).head().getAs[Double]("price") == 100.0)
    assert(out.filter(col("l_orderkey") === 2L).head().getAs[Double]("price") == 200.0)
  }

  test("s11 streaming minhash signatures equal the batch q25 signatures") {
    import spark.implicits._
    // batch side: recompute the 32 mins with the relational pipeline's
    // own building blocks over the same corpus
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect()
    val batchSig = {
      import graft.operators.Dedup.ReplayableHash
      val toksDf = Tables.documents(spark, sfDir)
        .select(col("doc_id"), split(lower(graft.operators.TextOps.wsTrim(col("text"))), "\\s+").as("toks"))
        .select(col("doc_id"), explode(array_distinct(
          expr("""transform(sequence(1, greatest(size(toks) - 2, 1)),
                   i -> concat_ws(' ', slice(toks, i, 3)))"""))).as("sh"))
        .select(col("doc_id"), graft.functions.VectorFunctions.poly_hash(col("sh")).as("s"))
        .distinct()
      val minCols = (0 until 32).map(i =>
        min((lit(ReplayableHash.a(i)) * col("s") + lit(ReplayableHash.b(i)))
          % lit(ReplayableHash.P)).as(s"m$i"))
      toksDf.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
        .collect().map(r => r.getLong(0) -> (1 to 32).map(r.getLong).toVector).toMap
    }
    for ((id, text) <- docs.take(50)) {
      val streamSig = StreamOps.minhashSignature(text).toVector
      assert(streamSig == batchSig(id), s"signature mismatch for doc $id")
    }
  }

  test("s09 log-structured: per-batch bytes scale with the batch, not the table") {
    import spark.implicits._
    import graft.streaming.ExactlyOnceSink
    val dir = freshDir("eos-obatch")
    def dirBytes(p: String): Long = {
      val f = new java.io.File(p)
      if (!f.exists()) 0L
      else f.listFiles().map(c => if (c.isDirectory) dirBytes(c.getPath) else c.length()).sum
    }
    // batch 0 builds a 20k-row table; batch 1 upserts 20 rows
    val big = spark.range(20000).select(col("id").as("k"),
      (col("id") * 2).cast("double").as("v"))
    val small = spark.range(20).select(col("id").as("k"), lit(-1.0).as("v"))
    ExactlyOnceSink.upsertBatch(dir, Seq("k"), compactEvery = 100)(big, 0L)
    ExactlyOnceSink.upsertBatch(dir, Seq("k"), compactEvery = 100)(small, 1L)
    val bigBytes = dirBytes(s"$dir/delta/v=0")
    val smallBytes = dirBytes(s"$dir/delta/v=1")
    // the small trigger writes ~1/1000th of the data; parquet file
    // overhead dominates it, so assert an order of magnitude, not a ratio
    assert(smallBytes * 10 < bigBytes,
      s"small batch wrote $smallBytes bytes vs table-build $bigBytes — not O(batch)")
    // and the merge semantics are intact
    val snap = ExactlyOnceSink.snapshot(spark, dir).get
    assert(snap.count() == 20000)
    assert(snap.filter(col("v") === -1.0).count() == 20)
  }

  test("s09 compaction folds deltas into a base and preserves the snapshot") {
    import spark.implicits._
    import graft.streaming.ExactlyOnceSink
    val dir = freshDir("eos-compact")
    // 5 batches at compactEvery=4: compaction fires on batch 3 (4
    // pending deltas), batch 4 lands as a fresh delta on top
    for (b <- 0L until 5L) {
      val batch = Seq((b, s"val$b"), (100L + b, s"new$b")).toDF("k", "v")
      ExactlyOnceSink.upsertBatch(dir, Seq("k"), compactEvery = 4)(batch, b)
    }
    assert(ExactlyOnceSink.committedBases(spark, dir) == Seq(3L))
    assert(ExactlyOnceSink.committedDeltas(spark, dir).contains(4L))
    val snap = ExactlyOnceSink.snapshot(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap.size == 10)
    assert(snap(4L) == "val4" && snap(104L) == "new4" && snap(0L) == "val0")
    // replay of an already-folded batch is still a no-op
    ExactlyOnceSink.upsertBatch(dir, Seq("k"), compactEvery = 4)(
      Seq((0L, "GHOST")).toDF("k", "v"), 2L)
    assert(ExactlyOnceSink.snapshot(spark, dir).get
      .filter(col("v") === "GHOST").count() == 0)
  }

  test("s09 tombstone deletes the key from the committed table (KTable contract)") {
    import spark.implicits._
    import graft.streaming.ExactlyOnceSink
    val dir = freshDir("eos-tomb")
    val up = Some("deleted")
    val b0 = Seq((1L, 10.0, false), (2L, 20.0, false), (3L, 30.0, false))
      .toDF("k", "v", "deleted")
    val b1 = Seq((2L, 0.0, true)).toDF("k", "v", "deleted") // tombstone key 2
    ExactlyOnceSink.upsertBatch(dir, Seq("k"), tombstoneCol = up)(b0, 0L)
    ExactlyOnceSink.upsertBatch(dir, Seq("k"), tombstoneCol = up)(b1, 1L)
    val snap = ExactlyOnceSink.snapshot(spark, dir).get
    assert(snap.columns.toSeq == Seq("k", "v")) // flag consumed by the sink
    assert(snap.count() == 2)
    assert(snap.filter(col("k") === 2L).count() == 0)
    // replayed tombstone batch: still exactly-once
    ExactlyOnceSink.upsertBatch(dir, Seq("k"), tombstoneCol = up)(b1, 1L)
    assert(ExactlyOnceSink.snapshot(spark, dir).get.count() == 2)
    // re-insert after delete is a fresh insert (compacted-topic behavior)
    ExactlyOnceSink.upsertBatch(dir, Seq("k"), tombstoneCol = up)(
      Seq((2L, 25.0, false)).toDF("k", "v", "deleted"), 2L)
    assert(ExactlyOnceSink.snapshot(spark, dir).get
      .filter(col("k") === 2L).head().getDouble(1) == 25.0)
    // tombstones survive compaction boundaries correctly: delete again,
    // then force a compaction and confirm the key stays gone
    ExactlyOnceSink.upsertBatch(dir, Seq("k"), tombstoneCol = up, compactEvery = 1)(
      Seq((2L, 0.0, true)).toDF("k", "v", "deleted"), 3L)
    assert(ExactlyOnceSink.committedBases(spark, dir).nonEmpty)
    val afterCompact = ExactlyOnceSink.snapshot(spark, dir).get
    assert(afterCompact.count() == 2)
    assert(afterCompact.filter(col("k") === 2L).count() == 0)
  }

  test("s09 crash mid-compaction: unmarked base is invisible, re-attempted, and swept") {
    import spark.implicits._
    import graft.streaming.ExactlyOnceSink
    val dir = freshDir("eos-crash")
    // two committed deltas, below the compaction threshold of 3
    ExactlyOnceSink.upsertBatch(dir, Seq("k"), compactEvery = 3)(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    ExactlyOnceSink.upsertBatch(dir, Seq("k"), compactEvery = 3)(
      Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), 1L)
    // simulate a crash between the compaction's data write and its
    // marker: a base dir with plausible-but-WRONG content, unmarked
    Seq((9L, "GARBAGE")).toDF("k", "v")
      .withColumn("__v", lit(1L)).withColumn("__deleted", lit(false))
      .write.parquet(s"$dir/base/v=1")
    assert(ExactlyOnceSink.committedBases(spark, dir).isEmpty)
    val snap1 = ExactlyOnceSink.snapshot(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap1 == Map(1L -> "a", 2L -> "b2", 3L -> "c"),
      s"snapshot read the unmarked base: $snap1")
    // next upsert crosses the threshold: compaction re-attempts cleanly
    // and sweeps the orphan
    ExactlyOnceSink.upsertBatch(dir, Seq("k"), compactEvery = 3)(
      Seq((4L, "d")).toDF("k", "v"), 2L)
    assert(ExactlyOnceSink.committedBases(spark, dir) == Seq(2L))
    assert(!new java.io.File(s"$dir/base/v=1").exists(), "orphan base not swept")
    val snap2 = ExactlyOnceSink.snapshot(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap2 == Map(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d"))
    // retention across further compactions never deletes the newest
    // committed base
    for (b <- 3L until 10L)
      ExactlyOnceSink.upsertBatch(dir, Seq("k"), compactEvery = 3)(
        Seq((b * 10, s"x$b")).toDF("k", "v"), b)
    val bases = ExactlyOnceSink.committedBases(spark, dir)
    assert(bases.nonEmpty &&
      new java.io.File(s"$dir/base/v=${bases.last}/_graft_committed").exists())
    assert(ExactlyOnceSink.snapshot(spark, dir).get.count() == 4 + 7)
  }

  test("s09 meta round-trips column names containing quotes and commas") {
    import graft.streaming.ExactlyOnceSink
    val dir = freshDir("eos-meta")
    // adversarial names: an embedded double-quote and a comma — the old
    // regex parser split on exactly these
    val kCol = "or\"der,key"
    val vCol = "to,ta\"l"
    val df = spark.range(3).select(col("id").as(kCol),
      (col("id") * 2).cast("double").as(vCol))
    ExactlyOnceSink.upsertBatch(dir, Seq(kCol))(df, 0L)
    val snap = ExactlyOnceSink.snapshot(spark, dir).get
    assert(snap.columns.toSeq == Seq(kCol, vCol))
    assert(snap.count() == 3)
    // and upserts still merge by that key
    ExactlyOnceSink.upsertBatch(dir, Seq(kCol))(
      spark.range(2, 5).select(col("id").as(kCol), lit(-1.0).as(vCol)), 1L)
    val m = ExactlyOnceSink.snapshot(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m == Map(0L -> 0.0, 1L -> 2.0, 2L -> -1.0, 3L -> -1.0, 4L -> -1.0))
  }

  test("s12 dim KTable: tombstone removes the key from state and sink") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{ExactlyOnceSink, StreamOps}
    val dir = freshDir("s12-sink")
    val source = MemoryStream[StreamOps.DimUpdate]
    val q = StreamOps.streamDimTable(source.toDS())
      .writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.DimRow], id: Long) =>
        ExactlyOnceSink.upsertBatch(dir, Seq("p_partkey"),
          tombstoneCol = Some("deleted"))(b.toDF(), id)
      }
      .start()
    try {
      source.addData(StreamOps.DimUpdate(7L, Some(100.0)),
        StreamOps.DimUpdate(8L, Some(50.0)))
      q.processAllAvailable()
      source.addData(StreamOps.DimUpdate(7L, Some(200.0))) // price update
      q.processAllAvailable()
      source.addData(StreamOps.DimUpdate(8L, None)) // tombstone: delete 8
      q.processAllAvailable()
      // key 8 re-arrives after the delete: state was REMOVED, so this
      // must behave as a fresh insert, then get deleted again
      source.addData(StreamOps.DimUpdate(8L, Some(75.0)),
        StreamOps.DimUpdate(9L, None)) // delete of a never-seen key: no-op row
      q.processAllAvailable()
      source.addData(StreamOps.DimUpdate(8L, None))
      q.processAllAvailable()
    } finally q.stop()

    val snap = ExactlyOnceSink.snapshot(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(snap == Map(7L -> 200.0), s"got $snap")
  }

  test("s12 dim KTable: within-batch winner is by seq, not arrival order; stale replay never regresses") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps
    val source = MemoryStream[StreamOps.DimUpdate]
    // latest changelog row per key, as a downstream sink would hold it
    val rows = collection.mutable.Map[Long, (Double, Boolean)]()
    val q = StreamOps.streamDimTable(source.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.DimRow], _: Long) =>
        b.collect().foreach(r => rows(r.p_partkey) = (r.p_retailprice, r.deleted))
        ()
      }.start()
    try {
      // ONE batch per key with adversarial arrival order — after the
      // groupByKey shuffle the iterator order is an artifact, so only
      // the seq may decide:
      source.addData(
        StreamOps.DimUpdate(5L, None, seq = 3L), // tombstone is newest…
        StreamOps.DimUpdate(5L, Some(5.0), seq = 1L),
        StreamOps.DimUpdate(5L, Some(10.0), seq = 2L), // …upsert arrives later
        StreamOps.DimUpdate(6L, None, seq = 1L), // stale tombstone first
        StreamOps.DimUpdate(6L, Some(42.0), seq = 2L),
        StreamOps.DimUpdate(4L, Some(7.0), seq = 5L),
        StreamOps.DimUpdate(4L, None, seq = 5L)) // seq TIE: tombstone shadows
      q.processAllAvailable()
      assert(rows(5L)._2, s"key 5 should be deleted, got ${rows(5L)}")
      assert(rows(6L) == ((42.0, false)), s"got ${rows(6L)}")
      assert(rows(4L)._2, s"tie must go to the tombstone, got ${rows(4L)}")
      // stale cross-batch replay: a seq below what state holds must not
      // regress the table
      source.addData(StreamOps.DimUpdate(6L, Some(1.0), seq = 1L))
      q.processAllAvailable()
      assert(rows(6L) == ((42.0, false)), s"stale replay regressed: ${rows(6L)}")
    } finally q.stop()
  }

  test("s13 streaming decontamination is row-exact vs batch q38") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps
    val docsAll = Tables.documents(spark, sfDir)
    val bench = docsAll.filter(col("doc_id") % 97 === 0)
    val corpus = docsAll.filter(col("doc_id") % 97 =!= 0)

    val batch = graft.operators.TextOps.decontaminate(corpus, bench)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    val benchSet = StreamOps.benchmarkShingleSet(bench)
    val source = MemoryStream[(Long, String)]
    val got = collection.mutable.Map[Long, (Long, Long, Long)]()
    val q = StreamOps.streamDecontaminate(source.toDS(), benchSet)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.ContamReport], _: Long) =>
        b.collect().foreach(r =>
          got(r.doc_id) = (r.n_shingles, r.n_overlap, r.contaminated))
        ()
      }.start()
    try {
      val rows = corpus.select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      // stream in two uneven batches
      source.addData(rows.take(rows.length / 3).toSeq: _*)
      q.processAllAvailable()
      source.addData(rows.drop(rows.length / 3).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    assert(got.size == batch.size, s"stream ${got.size} vs batch ${batch.size}")
    val mismatches = batch.collect {
      case (id, b) if got(id) != b => s"$id: stream ${got(id)} batch $b"
    }
    assert(mismatches.isEmpty, mismatches.take(5).mkString("; "))
    // and some contamination actually occurred, so the parity is non-vacuous
    assert(got.values.exists(_._3 == 1L))
  }

  test("s26 streaming k-means assignment is row-exact vs batch q60 under the frozen codebook") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps
    val embs = Tables.embeddings(spark, sfDir)
    val batch = graft.operators.Similarity.kmeansAssign(embs, k = 8, iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cents = graft.operators.Similarity.kmeansCentroids(embs, k = 8, iters = 3)
    assert(cents.size == 8)

    val source = MemoryStream[(Long, Seq[Float])]
    val got = collection.mutable.Map[Long, (Long, Long)]()
    val q = StreamOps.streamKmeansAssign(source.toDS(), cents)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.KmAssign], _: Long) =>
        b.collect().foreach(r => got(r.vec_id) = (r.cluster, r.d2)); ()
      }.start()
    try {
      val rows = embs.select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      source.addData(rows.take(rows.length / 2).toSeq: _*)
      q.processAllAvailable()
      source.addData(rows.drop(rows.length / 2).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    assert(got.size == batch.size)
    val mismatches = batch.collect {
      case (id, b) if got(id) != b => s"$id: stream ${got(id)} batch $b"
    }
    assert(mismatches.isEmpty, mismatches.take(5).mkString("; "))
    // non-vacuous: more than one cluster is actually used
    assert(got.values.map(_._1).toSet.size > 1)
  }

  test("s28 streaming PQ encoding is row-exact vs batch q65 under the frozen codebook") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps
    val embs = Tables.embeddings(spark, sfDir)
    val batch = graft.operators.Similarity.pqCodes(embs, kcode = 16, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val book = graft.operators.Similarity.pqCodebook(embs, kcode = 16, iters = 3)
    assert(book.size == 8 * 16)

    val source = MemoryStream[(Long, Seq[Float])]
    val got = collection.mutable.Map[(Long, Long), (Long, Long)]()
    val q = StreamOps.streamPqEncode(source.toDS(), book)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.PqCode], _: Long) =>
        b.collect().foreach(r => got((r.vec_id, r.sub)) = (r.code, r.d2)); ()
      }.start()
    try {
      val rows = embs.select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      source.addData(rows.take(rows.length / 2).toSeq: _*)
      q.processAllAvailable()
      source.addData(rows.drop(rows.length / 2).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    assert(got.size == batch.size)
    val mismatches = batch.collect {
      case (k, b) if got(k) != b => s"$k: stream ${got(k)} batch $b"
    }
    assert(mismatches.isEmpty, mismatches.take(5).mkString("; "))
    assert(got.values.map(_._1).toSet.size > 1, "more than one code in use")
  }

  test("s40 streaming SQ8 encoding is row-exact vs batch q82 under the frozen grid; novel inputs clamp") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps
    val embs = Tables.embeddings(spark, sfDir)
    val batch = graft.operators.Similarity.sq8Codes(embs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val grid = graft.operators.Similarity.sq8Grid(embs)
    assert(grid.size == 64)

    def run(rows: Seq[(Long, Seq[Float])], cut: Int): Map[(Long, Long), (Long, Long)] = {
      val source = MemoryStream[(Long, Seq[Float])]
      val got = collection.mutable.Map[(Long, Long), (Long, Long)]()
      val q = StreamOps.streamSq8Encode(source.toDS(), grid)
        .writeStream.outputMode(OutputMode.Append())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.Sq8Code], _: Long) =>
          b.collect().foreach(r => got((r.vec_id, r.pos)) = (r.code, r.err)); ()
        }.start()
      try {
        source.addData(rows.take(cut): _*)
        q.processAllAvailable()
        source.addData(rows.drop(cut): _*)
        q.processAllAvailable()
      } finally q.stop()
      got.toMap
    }

    val rows = embs.select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val got = run(rows, rows.length / 2)
    assert(got.size == batch.size)
    val mism = batch.collect { case (k, b) if got(k) != b => s"$k: stream ${got(k)} batch $b" }
    assert(mism.isEmpty, mism.take(5).mkString("; "))

    // novel out-of-grid vectors clamp to the byte ends, never throw:
    // far below every dim -> code 0 (negative residual), far above ->
    // code 255 (positive residual)
    val novel = run(Seq((-1L, Seq.fill(64)(-100.0f)), (-2L, Seq.fill(64)(100.0f))), 1)
    assert(novel.size == 128)
    assert(novel.collect { case ((-1L, _), (c, e)) => c == 0L && e < 0L }.forall(identity))
    assert(novel.collect { case ((-2L, _), (c, e)) => c == 255L && e > 0L }.forall(identity))
  }

  test("s31 streaming BPE encoding is row-exact vs batch q68 under the frozen rules") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps
    val d = Tables.documents(spark, sfDir)
    val batch = graft.operators.Bpe.bpeEncode(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val rules = graft.operators.Bpe.bpeTrain(d)
      .collect().sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    assert(rules.size == 24)

    val source = MemoryStream[(Long, String)]
    val got = collection.mutable.Map[Long, (Long, String)]()
    val q = StreamOps.streamBpeEncode(source.toDS(), rules)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.BpeDoc], _: Long) =>
        b.collect().foreach(r => got(r.doc_id) = (r.n_subwords, r.subtext)); ()
      }.start()
    try {
      val rows = d.select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      source.addData(rows.take(rows.length / 2).toSeq: _*)
      q.processAllAvailable()
      source.addData(rows.drop(rows.length / 2).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    assert(got.size == batch.size)
    val mismatches = batch.collect {
      case (id, b) if got(id) != b => s"$id: stream ${got(id)._1} batch ${b._1}"
    }
    assert(mismatches.isEmpty, mismatches.take(5).mkString("; "))
    assert(got.values.exists(_._1 > 0L))
  }

  test("s09+s04 source re-delivery lands exactly-once through the keyed sink") {
    import spark.implicits._
    import graft.streaming.{ExactlyOnceSink, KafkaIO}
    // at-least-once source: the same file content is delivered TWICE
    // (a new file with identical rows = a replayed Kafka segment); the
    // keyed idempotent upsert makes the OUTPUT exactly-once
    val srcDir = freshDir("redeliver-src")
    val sinkDir = freshDir("redeliver-sink")
    val ckpt = freshDir("redeliver-ckpt")
    val rows = Seq((1L, 10.0, 1L), (2L, 20.0, 1L), (3L, 30.0, 1L))
      .toDF("k", "v", "seq")
    // stage one part-file, then deliver the SAME bytes under two names
    // (the file source keys seen-ness on the file path)
    val stage = freshDir("redeliver-stage")
    rows.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    new java.io.File(srcDir).mkdirs()
    def deliver(name: String): Unit = java.nio.file.Files.copy(
      part, java.nio.file.Paths.get(srcDir, name))
    deliver("f1.parquet")
    val schema = spark.read.parquet(stage).schema

    val stream = KafkaIO.fileSource(spark, srcDir, schema)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        ExactlyOnceSink.upsertBatch(sinkDir, Seq("k"), versionCol = Some("seq"))(b, id)
      }
      .start()
    try {
      q.processAllAvailable()
      // re-deliver the SAME records (new file, same content) — the
      // file source treats it as new data; the sink must not duplicate
      deliver("f2.parquet")
      q.processAllAvailable()
    } finally q.stop()

    val snap = ExactlyOnceSink.snapshot(spark, sinkDir).get
    assert(snap.count() == 3)
    assert(snap.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
  }

  test("s09 sink survives a checkpoint reset: new lineage applies, old skips (txnId)") {
    import spark.implicits._
    val dir = freshDir("eos-txn")
    def up(txn: String, rows: Seq[(Long, Double)], batchId: Long): Unit =
      graft.streaming.ExactlyOnceSink.upsertBatch(dir, Seq("k"), txnId = Some(txn))(
        rows.toDF("k", "v"), batchId)
    def snap(): Map[Long, Double] =
      graft.streaming.ExactlyOnceSink.snapshot(spark, dir).get
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // lineage A: two batches
    up("A", Seq((1L, 10.0)), 0L)
    up("A", Seq((2L, 20.0)), 1L)
    assert(snap() == Map(1L -> 10.0, 2L -> 20.0))
    // duplicate re-delivery within A: skipped
    up("A", Seq((1L, 99.0)), 1L)
    assert(snap() == Map(1L -> 10.0, 2L -> 20.0))
    // CHECKPOINT RESET: lineage B replays from batchId 0 with newer
    // data — without lineage-offset versions, `batchId <= last` would
    // silently discard every batch forever and freeze the table
    up("B", Seq((1L, 11.0)), 0L)
    assert(snap() == Map(1L -> 11.0, 2L -> 20.0))
    // duplicate re-delivery within B: skipped (idempotence preserved)
    up("B", Seq((1L, 77.0)), 0L)
    assert(snap() == Map(1L -> 11.0, 2L -> 20.0))
    up("B", Seq((3L, 30.0)), 1L)
    assert(snap() == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0))
  }

  test("s06 completion retraction: an order that un-completes is deleted at the sink") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = freshDir("pickup-retract")
    val part = Seq((100L, 5.0)).toDF("p_partkey", "p_retailprice")
    val source = MemoryStream[(Long, Long, Int, Double)]
    val stream = source.toDF().toDF("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    // KTable-filter contract AT THE SINK: upsert completed orders,
    // tombstone the key when it stops matching
    val q = StreamOps.pickupPipelineStream(stream, part)
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.OrderState], id: Long) =>
        graft.streaming.ExactlyOnceSink.upsertBatch(dir, Seq("l_orderkey"),
          tombstoneCol = Some("not_priced"))(
          b.withColumn("not_priced", !col("all_priced")).toDF(), id)
      }.start()
    try {
      // batch 1: order 7's only item is priced — order completes
      source.addData((7L, 100L, 1, 2.0)); q.processAllAvailable()
      val s1 = graft.streaming.ExactlyOnceSink.snapshot(spark, dir).get
      assert(s1.filter(col("l_orderkey") === 7L).count() == 1)
      // batch 2: an item with NO price match arrives — the order is no
      // longer all-priced; the old filter(_.all_priced) swallowed this
      // retraction and left the sink stale forever
      source.addData((7L, 999L, 2, 1.0)); q.processAllAvailable()
      val s2 = graft.streaming.ExactlyOnceSink.snapshot(spark, dir).get
      assert(s2.filter(col("l_orderkey") === 7L).count() == 0,
        "retraction lost: order 7 still shows completed")
    } finally q.stop()
  }

  test("s04 kafka config surface builds; file substitution streams real rows") {
    // Kafka connector jar absent: builders must construct without loading
    val r = KafkaIO.reader(spark, "broker:9092", "purchase-orders")
    assert(r != null)
    val schema = Tables.lineitem(spark, sfDir).schema
    val src = KafkaIO.fileSource(spark, sfDir, schema, glob = Some("lineitem.parquet"))
    assert(src.isStreaming)
    val q = src.writeStream.format("memory").queryName("s04_out")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("s04_out").count() ==
      Tables.lineitem(spark, sfDir).count())
  }

  test("s22 streaming pii redaction: the BATCH operator runs on a stream unmodified, row-exact") {
    // piiRedact is a stateless projection, so the streaming twin is the
    // SAME code path applied to a streaming frame — the strongest
    // parity statement available (no re-implementation to diverge);
    // this spec pins that the plan really is streaming-admissible (no
    // accidental agg/sort would ever sneak in unnoticed).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a@b.io or 10.1.2.3 or 555-123-4567"),
      (2L, "clean"),
      (3L, null.asInstanceOf[String])
    )
    val batch = graft.operators.TextOps.piiRedact(docs.toDF("doc_id", "text"))
      .collect().map(_.toString).sorted.toSeq
    val source = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps.piiRedact(
        source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("s22_out")
      .outputMode(OutputMode.Append()).start()
    try {
      source.addData(docs.take(2): _*)
      q.processAllAvailable()
      source.addData(docs.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("s22_out").collect().map(_.toString).sorted.toSeq == batch)
  }

  test("s33 streaming gopher rules: the BATCH operator runs on a stream unmodified, row-exact") {
    // gopherRules is a stateless narrow projection (the s22 class), so
    // the streaming twin is the SAME code path on a streaming frame —
    // strongest parity statement available; pins streaming
    // admissibility (no accidental agg/sort in the battery).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 25).map(_ => "the").mkString(" ")),
      (2L, "short doc"),
      (3L, ""),
      (4L, null.asInstanceOf[String]))
    val batch = graft.operators.QualityRules.gopherRules(docs.toDF("doc_id", "text"))
      .collect().map(_.toString).sorted.toSeq
    val source = MemoryStream[(Long, String)]
    val q = graft.operators.QualityRules.gopherRules(
        source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("s33_out")
      .outputMode(OutputMode.Append()).start()
    try {
      source.addData(docs.take(2): _*)
      q.processAllAvailable()
      source.addData(docs.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("s33_out").collect().map(_.toString).sorted.toSeq == batch)
  }

  test("s37 streaming normalization: the BATCH operator runs on a stream unmodified, row-exact") {
    // normalizeText is a stateless narrow projection (the s22/s33
    // class): the streaming twin IS the batch code path on a streaming
    // frame; pins streaming admissibility of the NFC kernel + regex
    // chain (no accidental agg/sort), incl. null and planted-unicode
    // rows.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (1L, "caf" + "e\u0301  x"),
      (2L, "caf\u00E9 x"),
      (3L, "a\u200Bb\u0007c"),
      (4L, ""),
      (5L, null.asInstanceOf[String]))
    val batch = graft.operators.TextOps.normalizeText(docs.toDF("doc_id", "text"))
      .collect().map(_.toString).sorted.toSeq
    val source = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps.normalizeText(
        source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("s37_out")
      .outputMode(OutputMode.Append()).start()
    try {
      source.addData(docs.take(2): _*)
      q.processAllAvailable()
      source.addData(docs.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("s37_out").collect().map(_.toString).sorted.toSeq == batch)
  }

  test("s38 streaming C4 line cleaning: the BATCH operator runs on a stream unmodified, row-exact") {
    // c4Clean is a stateless narrow projection (the s22/s33/s37
    // class): the streaming twin IS the batch code path on a
    // streaming frame; pins streaming admissibility of the line
    // filter / replace chain, incl. multi-line, page-rule, blank and
    // null rows.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five.\nshort.\nanother full line here ok!\nthird full sentence lands here."),
      (2L, "lorem ipsum\none two three four five."),
      (3L, "a { b"),
      (4L, ""),
      (5L, null.asInstanceOf[String]))
    val batch = graft.operators.QualityRules.c4Clean(docs.toDF("doc_id", "text"))
      .collect().map(_.toString).sorted.toSeq
    val source = MemoryStream[(Long, String)]
    val q = graft.operators.QualityRules.c4Clean(
        source.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("s38_out")
      .outputMode(OutputMode.Append()).start()
    try {
      source.addData(docs.take(2): _*)
      q.processAllAvailable()
      source.addData(docs.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("s38_out").collect().map(_.toString).sorted.toSeq == batch)
  }

  test("s44 streaming passage chunking: the BATCH operator runs on a stream unmodified, row-exact") {
    // chunkPassages is a stateless narrow projection + generate (the
    // s22/s33/s37/s38 class): the streaming twin IS the batch code
    // path on a streaming frame; pins streaming admissibility of the
    // token materialization, the ceil-div chunk count, and the
    // per-window slice lambdas, incl. short, empty and null rows.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (1L, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"),
      (2L, "short text"),
      (3L, ""),
      (4L, null.asInstanceOf[String]))
    val batch = graft.operators.TextOps.chunkPassages(
        docs.toDF("doc_id", "text"), window = 4, stride = 2)
      .collect().map(_.toString).sorted.toSeq
    val source = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps.chunkPassages(
        source.toDF().toDF("doc_id", "text"), window = 4, stride = 2)
      .writeStream.format("memory").queryName("s44_out")
      .outputMode(OutputMode.Append()).start()
    try {
      source.addData(docs.take(2): _*)
      q.processAllAvailable()
      source.addData(docs.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("s44_out").collect().map(_.toString).sorted.toSeq == batch)
  }

  test("s35 streaming NB classification is row-exact vs batch q72 under the frozen model") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps
    val d = Tables.documents(spark, sfDir)
    val batch = graft.operators.Classifier.nbClassify(d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val model = graft.operators.Classifier.nbModel(d)

    val source = MemoryStream[(Long, String)]
    val got = collection.mutable.Map[Long, (Long, Long, Long, Long)]()
    val q = StreamOps.streamNbClassify(source.toDS(), model)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.NbScore], _: Long) =>
        b.collect().foreach(r =>
          got(r.doc_id) = (r.is_train, r.n_feats, r.score_q16, r.pred)); ()
      }.start()
    try {
      val rows = d.select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      source.addData(rows.take(rows.length / 2).toSeq: _*)
      q.processAllAvailable()
      source.addData(rows.drop(rows.length / 2).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    assert(got.size == batch.size)
    val mismatches = batch.collect {
      case (id, b) if got(id) != b => s"$id: stream ${got(id)} batch $b"
    }
    assert(mismatches.isEmpty, mismatches.take(5).mkString("; "))
    // both classes actually predicted (the model is not a constant)
    assert(got.values.exists(_._4 == 1L) && got.values.exists(_._4 == 0L))
  }

  test("s23 streaming restore: multi-batch changelog converges row-exact to the batch LWW fold") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the REAL events corpus as the changelog, split into 3 batches on
    // event_id % 3 so every user's versions interleave across batches
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
    val all = ev.as[StreamOps.ChangelogEvent].collect()
    // batch reference: the q56 fold over the SAME frame (version =
    // (ts_us, event_id), tombstone = 'error' winner)
    val batch = graft.operators.Restore.stateFromChangelog(
        ev, Seq("user_id"),
        struct(col("ts_us"), col("event_id")), col("event_type") <=> lit("error"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))))
      .toMap
    val live = collection.mutable.Map[Long, (Long, Long, String, Double)]()
    val dead = collection.mutable.Set[Long]()
    val source = MemoryStream[StreamOps.ChangelogEvent]
    val q = StreamOps.streamRestoreState(source.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.RestoreRow], _: Long) =>
        b.collect().foreach { r =>
          if (r.deleted) { live.remove(r.user_id); dead += r.user_id }
          else { live(r.user_id) = ((r.last_event_id, r.last_ts_us, r.last_type, r.last_value)); dead -= r.user_id }
        }
        ()
      }.start()
    try {
      for (part <- 0 until 3) {
        source.addData(all.filter(e => math.floorMod(e.event_id, 3L) == part.toLong).toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // surviving keys match the batch fold field-for-field; tombstoned
    // keys are exactly the ones the batch fold dropped
    val batchLive = batch.map { case (k, (eid, tsUs, typ, v)) => k -> ((eid, tsUs, typ, v)) }
    assert(live.toMap == batchLive, s"live mismatch: ${live.toMap} vs $batchLive")
    val allKeys = all.map(_.user_id).toSet
    assert(dead.toSet == allKeys -- batch.keySet,
      s"dead ${dead.toSet} != ${allKeys -- batch.keySet}")
  }

  test("s23 streaming restore contract: tombstone shadow, revival, stale replay, version ties") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamOps.ChangelogEvent
    val rows = collection.mutable.Map[Long, (Long, String, Boolean)]()
    val source = MemoryStream[ChangelogEvent]
    val q = StreamOps.streamRestoreState(source.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.RestoreRow], _: Long) =>
        b.collect().foreach(r => rows(r.user_id) = ((r.last_event_id, r.last_type, r.deleted)))
        ()
      }.start()
    try {
      // batch 1: user 1 upserts; user 2 ends on an error; user 3's
      // same-ts tie must break to the larger event_id; user 4 has a
      // NULL type (NOT a tombstone — the <=> contract)
      source.addData(
        ChangelogEvent(1L, 10L, 100L, "view", 1.0),
        ChangelogEvent(1L, 11L, 200L, "click", 2.0),
        ChangelogEvent(2L, 20L, 100L, "view", 1.0),
        ChangelogEvent(2L, 21L, 300L, "error", 0.0),
        ChangelogEvent(3L, 31L, 100L, "view", 3.0),
        ChangelogEvent(3L, 30L, 100L, "click", 4.0),
        ChangelogEvent(4L, 40L, 100L, null, 9.0))
      q.processAllAvailable()
      assert(rows(1L) == ((11L, "click", false)))
      assert(rows(2L) == ((21L, "error", true)), s"error winner must mark deleted: ${rows(2L)}")
      assert(rows(3L) == ((31L, "view", false)), s"tie must break to larger event_id: ${rows(3L)}")
      assert(rows(4L) == ((40L, null, false)), s"null type is not a tombstone: ${rows(4L)}")
      // batch 2: a STALE pre-tombstone event for user 2 must NOT revive
      // it (the tombstone's version shadows — the reason state is
      // retained, unlike s12); a stale event for user 1 must not
      // regress; a NEWER event for user 2 revives it
      source.addData(
        ChangelogEvent(2L, 22L, 250L, "view", 5.0), // older than the ts=300 tombstone
        ChangelogEvent(1L, 12L, 150L, "view", 6.0)) // older than ts=200 click
      q.processAllAvailable()
      assert(rows(2L)._3, s"stale replay revived a tombstoned key: ${rows(2L)}")
      assert(rows(1L) == ((11L, "click", false)), s"stale replay regressed: ${rows(1L)}")
      source.addData(ChangelogEvent(2L, 23L, 400L, "view", 7.0))
      q.processAllAvailable()
      assert(rows(2L) == ((23L, "view", false)), s"newer event must revive: ${rows(2L)}")
    } finally q.stop()
  }

  /** Render s24's micros-typed output through the SAME Spark
    * date_format/session-tz path batch q34 uses, so the parity compare
    * is string-identical end to end. */
  private def renderAsof(outs: Seq[StreamOps.AsofOut]): Seq[String] = {
    import spark.implicits._
    outs.toDS()
      .select(col("event_id"), col("user_id"),
        date_format(timestamp_micros(col("event_ts_us")), "yyyy-MM-dd HH:mm:ss").as("event_ts"),
        col("last_orderkey"),
        date_format(timestamp_micros(col("last_orderdate_us")), "yyyy-MM-dd").as("last_orderdate"))
      .collect().map(_.toString).sorted.toSeq
  }

  private def asofFeeds(): (Seq[StreamOps.AsofInput], Seq[StreamOps.AsofInput], Seq[String]) = {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)
    // RAW orders as quotes — the state fold performs batch q34's
    // per-(user, date) max-orderkey compaction itself
    val quotes = orders.select(col("o_custkey").as("user_id"), lit(0).as("side"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t_us"),
        lit(0L).as("event_id"), col("o_orderkey").as("orderkey"))
      .as[StreamOps.AsofInput].collect().toSeq
    val queries = events.select(col("user_id"), lit(1).as("side"),
        unix_micros(col("ts")).as("t_us"), col("event_id"),
        lit(0L).as("orderkey"))
      .as[StreamOps.AsofInput].collect().toSeq
    val batch = graft.operators.AsofJoin.eventsAsofOrders(events, orders)
      .collect().map(_.toString).sorted.toSeq
    (quotes, queries, batch)
  }

  private def runAsof(batches: Seq[Seq[StreamOps.AsofInput]]): Seq[StreamOps.AsofOut] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val buf = collection.mutable.ArrayBuffer[StreamOps.AsofOut]()
    val source = MemoryStream[StreamOps.AsofInput]
    val q = StreamOps.streamAsofJoin(source.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.AsofOut], _: Long) =>
        buf ++= b.collect(); ()
      }.start()
    try batches.foreach { rows =>
      if (rows.nonEmpty) { source.addData(rows: _*); q.processAllAvailable() }
    } finally q.stop()
    buf.toSeq
  }

  test("s24 streaming as-of join: single-batch run row-exact vs batch q34") {
    val (quotes, queries, batch) = asofFeeds()
    assert(renderAsof(runAsof(Seq(quotes ++ queries))) == batch)
  }

  test("s24 streaming as-of join: dims-first multi-batch run row-exact vs batch q34") {
    val (quotes, queries, batch) = asofFeeds()
    // quotes bootstrap first (the GlobalKTable order), then events
    // arrive across two batches with every user's queries interleaved
    val (qa, qb) = queries.partition(_.event_id % 2 == 0)
    assert(renderAsof(runAsof(Seq(quotes, qa, qb))) == batch)
  }

  test("s24 as-of contract: inclusive ties, same-date compaction, no-quote nulls, and the as-of-arrival divergence") {
    import StreamOps.AsofInput
    def quote(u: Long, t: Long, ok: Long) = AsofInput(u, 0, t, 0L, ok)
    def query(u: Long, t: Long, eid: Long) = AsofInput(u, 1, t, eid, 0L)
    val out = runAsof(Seq(
      // batch 1: user 1's book {100→10}; event 1 at t=200 matches it;
      // user 2 has same-date quotes 5 and 7 (compaction → 7) and an
      // EQUAL-time event (inclusive as-of); user 9 has no quotes
      Seq(quote(1, 100, 10), query(1, 200, 1),
        quote(2, 500, 5), quote(2, 500, 7), query(2, 500, 2),
        query(9, 50, 3)),
      // batch 2: a LATE quote (t=150) that event 1 would have matched,
      // and a new event that must see it
      Seq(quote(1, 150, 20), query(1, 200, 4))))
    val byEvent = out.groupBy(_.event_id)
    assert(byEvent.values.forall(_.size == 1), "append mode: one row per event, ever")
    assert(byEvent(1L).head == StreamOps.AsofOut(1, 1, 200, Some(10), Some(100)),
      "event 1 keeps its as-of-ARRIVAL answer — the late quote does not retract it")
    assert(byEvent(2L).head == StreamOps.AsofOut(2, 2, 500, Some(7), Some(500)),
      "equal-time quote is visible (inclusive) and same-date compaction keeps max orderkey")
    assert(byEvent(3L).head == StreamOps.AsofOut(3, 9, 50, None, None))
    assert(byEvent(4L).head == StreamOps.AsofOut(4, 1, 200, Some(20), Some(150)),
      "a later event DOES see the late quote")
  }

  // -- s48 streaming SCD2 ----------------------------------------------

  private def fmtUs(us: Long): String =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L))
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  test("s48 streaming SCD2: time-ordered batches converge row-exact to batch q92") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
    // per-key-monotone split: global (ts_us, event_id) order chunked in 3
    val all = ev.as[StreamOps.ChangelogEvent].collect()
      .sortBy(e => (e.ts_us, e.event_id))
    val batch = graft.operators.Restore.scd2History(Tables.events(spark, sfDir))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((Option(r.getString(2)), r.getString(3), Option(r.getString(4)), r.getBoolean(5))))
      .toMap
    val live = collection.mutable.Map[(Long, Long), (Option[String], String, Option[String], Boolean)]()
    val source = MemoryStream[StreamOps.ChangelogEvent]
    val q = StreamOps.streamScd2(source.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.Scd2Row], _: Long) =>
        b.collect().foreach { r =>
          live((r.user_id, r.version)) =
            ((r.state, fmtUs(r.valid_from_us), r.valid_to_us.map(fmtUs), r.is_current))
        }
        ()
      }.start()
    try {
      val n = all.length
      Seq(all.slice(0, n / 3), all.slice(n / 3, 2 * n / 3), all.slice(2 * n / 3, n))
        .foreach { chunk => source.addData(chunk.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(live.size == batch.size, s"${live.size} stream rows vs ${batch.size} batch")
    batch.foreach { case (k, v) =>
      assert(live.get(k).contains(v), s"key $k: stream ${live.get(k)} vs batch $v")
    }
  }

  test("s48 streaming SCD2 contract: no-op re-assert, stale ignore, null transitions, ts ties") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamOps.{ChangelogEvent, Scd2Row}
    val live = collection.mutable.Map[(Long, Long), Scd2Row]()
    val source = MemoryStream[ChangelogEvent]
    val q = StreamOps.streamScd2(source.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Scd2Row], _: Long) =>
        b.collect().foreach(r => live((r.user_id, r.version)) = r)
        ()
      }.start()
    try {
      // user 1: a, a (no-op), b; user 2: x, null, null (one change),
      // x again; user 3: same-ts tie folds by event_id (b then c)
      source.addData(
        ChangelogEvent(1L, 1L, 100L, "a", 0.0),
        ChangelogEvent(1L, 2L, 200L, "a", 0.0),
        ChangelogEvent(1L, 3L, 300L, "b", 0.0),
        ChangelogEvent(2L, 1L, 100L, "x", 0.0),
        ChangelogEvent(2L, 2L, 200L, null, 0.0),
        ChangelogEvent(2L, 3L, 300L, null, 0.0),
        ChangelogEvent(2L, 4L, 400L, "x", 0.0),
        ChangelogEvent(3L, 11L, 500L, "b", 0.0),
        ChangelogEvent(3L, 10L, 500L, "a", 0.0))
      q.processAllAvailable()
      // user 1: a[100,300) closed, b[300,-) open — the no-op absorbed
      assert(live((1L, 1L)) == Scd2Row(1L, 1L, Some("a"), 100L, Some(300L), false))
      assert(live((1L, 2L)) == Scd2Row(1L, 2L, Some("b"), 300L, None, true))
      // user 2: x -> null -> x (null==null is NO change)
      assert(live((2L, 1L)) == Scd2Row(2L, 1L, Some("x"), 100L, Some(200L), false))
      assert(live((2L, 2L)) == Scd2Row(2L, 2L, None, 200L, Some(400L), false))
      assert(live((2L, 3L)) == Scd2Row(2L, 3L, Some("x"), 400L, None, true))
      // user 3: ts tie 500 folds event_id 10 then 11 -> a then b
      assert(live((3L, 1L)) == Scd2Row(3L, 1L, Some("a"), 500L, Some(500L), false))
      assert(live((3L, 2L)) == Scd2Row(3L, 2L, Some("b"), 500L, None, true))

      // stale replay: user 1 gets an event BELOW the high-water mark —
      // ignored, history unchanged (the documented no-retract class)
      val before = live.toMap
      source.addData(ChangelogEvent(1L, 1L, 150L, "z", 0.0))
      q.processAllAvailable()
      // only the open row may re-emit, identical
      assert(live.toMap == before, "stale event must not rewrite history")

      // in-order continuation across batches: b -> c closes v2
      source.addData(ChangelogEvent(1L, 9L, 900L, "c", 0.0))
      q.processAllAvailable()
      assert(live((1L, 2L)) == Scd2Row(1L, 2L, Some("b"), 300L, Some(900L), false))
      assert(live((1L, 3L)) == Scd2Row(1L, 3L, Some("c"), 900L, None, true))
    } finally q.stop()
  }

  test("s48 streaming SCD2: a key's initial null run opens NO version (batch q92 parity)") {
    // r12 ADVICE: opening version 1 on a null first event diverged from
    // batch q92 (whose null <=> null lag filter drops the initial null
    // run) and shifted every later version number for the key
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamOps.{ChangelogEvent, Scd2Row}
    val live = collection.mutable.Map[(Long, Long), Scd2Row]()
    val source = MemoryStream[ChangelogEvent]
    val q = StreamOps.streamScd2(source.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Scd2Row], _: Long) =>
        b.collect().foreach(r => live((r.user_id, r.version)) = r)
        ()
      }.start()
    try {
      // user 4: null, null, y, null — versions must be y=1 (from ts 300),
      // null=2 (the POST-run null IS a change); user 5: all nulls, no rows
      source.addData(
        ChangelogEvent(4L, 1L, 100L, null, 0.0),
        ChangelogEvent(4L, 2L, 200L, null, 0.0),
        ChangelogEvent(5L, 1L, 100L, null, 0.0))
      q.processAllAvailable()
      assert(live.isEmpty, "initial null runs must emit nothing")
      source.addData(
        ChangelogEvent(4L, 3L, 300L, "y", 0.0),
        ChangelogEvent(4L, 4L, 400L, null, 0.0),
        ChangelogEvent(5L, 2L, 200L, null, 0.0))
      q.processAllAvailable()
      assert(live((4L, 1L)) == Scd2Row(4L, 1L, Some("y"), 300L, Some(400L), false))
      assert(live((4L, 2L)) == Scd2Row(4L, 2L, None, 400L, None, true))
      assert(!live.keySet.exists(_._1 == 5L), "an all-null key emits no versions")
      // batch parity on the same log: version numbers and intervals equal
      val batch = graft.operators.Restore.scd2History(
        Seq[(Long, Long, Long, String)](
            (4L, 1L, 100L, null), (4L, 2L, 200L, null), (4L, 3L, 300L, "y"),
            (4L, 4L, 400L, null), (5L, 1L, 100L, null), (5L, 2L, 200L, null))
          .map { case (u, e, t, s) =>
            (u, e, new java.sql.Timestamp(t), s, 0.0) } // ms scale: order matches
          .toDF("user_id", "event_id", "ts", "event_type", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(2))).toMap
      assert(batch.keySet == live.keySet.toSet, "stream/batch version sets must agree")
      batch.foreach { case (k, st) => assert(live(k).state == st) }
    } finally q.stop()
  }

  // -- s53 late-data audit (dead-letter accounting over the s48 fold) ----

  test("s53 late audit: planted late arrivals are counted and attributed exactly, with the rejecting HWM") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamOps.{ChangelogEvent, Scd2Emit}
    val versions = collection.mutable.Map[(Long, Long), Scd2Emit]()
    val drops = collection.mutable.ArrayBuffer[Scd2Emit]()
    val source = MemoryStream[ChangelogEvent]
    val q = StreamOps.streamScd2Audited(source.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Scd2Emit], _: Long) =>
        b.collect().foreach { e =>
          if (e.kind == "version") versions((e.user_id, e.version)) = e
          else drops += e
        }; ()
      }.start()
    try {
      // batch 1: in-order history for user 1 — HWM ends at (300, 3)
      source.addData(
        ChangelogEvent(1L, 1L, 100L, "a", 0.0),
        ChangelogEvent(1L, 3L, 300L, "b", 0.0))
      q.processAllAvailable()
      assert(drops.isEmpty, "in-order batch must drop nothing")
      // batch 2: two LATE arrivals below the HWM + one on-time change;
      // in-batch fold order is (50, 9) then (150, 7) then (900, 4)
      source.addData(
        ChangelogEvent(1L, 4L, 900L, "c", 0.0),
        ChangelogEvent(1L, 7L, 150L, "z", 0.0),
        ChangelogEvent(1L, 9L, 50L, null, 0.0))
      q.processAllAvailable()
      // exact accounting: both late rows audited, attributed to the
      // (300, 3) HWM that rejected them (the on-time c@900 folds AFTER
      // them in (ts, id) order, so it is not the rejector)
      assert(drops.size == 2, s"expected 2 dead-letter rows, got ${drops.size}")
      val d = drops.sortBy(_.ts_us)
      assert(d(0).event_id == 9L && d(0).ts_us == 50L && d(0).state.isEmpty &&
        d(0).hwm_ts_us == 300L && d(0).hwm_event_id == 3L)
      assert(d(1).event_id == 7L && d(1).ts_us == 150L && d(1).state.contains("z") &&
        d(1).hwm_ts_us == 300L && d(1).hwm_event_id == 3L)
      // the history is exactly the on-time subset's: a, b, c
      assert(versions((1L, 1L)).state.contains("a") && versions((1L, 2L)).state.contains("b"))
      assert(versions((1L, 3L)).state.contains("c") && versions((1L, 3L)).is_current)
      assert(!versions.keySet.exists(_._2 > 3L))
    } finally q.stop()
  }

  test("s53 late audit: on a shuffled real-corpus feed, versions == batch q92 on the on-time subset and drops are the exact complement") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamOps.{ChangelogEvent, Scd2Emit}
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      .as[StreamOps.ChangelogEvent].collect()
    // a deterministic shuffle guarantees genuinely late cross-batch
    // arrivals (events of one key land in earlier AND later batches
    // out of time order)
    val shuffled = new scala.util.Random(13L).shuffle(ev.toSeq)
    val versions = collection.mutable.Map[(Long, Long), (Option[String], Long, Option[Long], Boolean)]()
    val dropped = collection.mutable.Set[Long]() // event_ids
    val source = MemoryStream[ChangelogEvent]
    val q = StreamOps.streamScd2Audited(source.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Scd2Emit], _: Long) =>
        b.collect().foreach { e =>
          if (e.kind == "version")
            versions((e.user_id, e.version)) =
              ((e.state, e.valid_from_us, e.valid_to_us, e.is_current))
          else dropped += e.event_id
        }; ()
      }.start()
    try {
      val n = shuffled.length
      Seq(shuffled.slice(0, n / 3), shuffled.slice(n / 3, 2 * n / 3), shuffled.slice(2 * n / 3, n))
        .foreach { chunk => source.addData(chunk.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(dropped.nonEmpty, "the shuffled feed must actually produce late arrivals")
    // batch q92 parity ON THE ON-TIME SUBSET: replay the batch operator
    // over exactly the accepted events — the stream's history must match
    val accepted = ev.filter(e => !dropped(e.event_id)).toSeq
    val batch = graft.operators.Restore.scd2History(
        accepted.map(e => (e.user_id, e.event_id, e.ts_us, e.event_type, e.value))
          .toDF("user_id", "event_id", "ts_us", "event_type", "value")
          .withColumn("ts", expr("timestamp_micros(ts_us)"))) // micros preserved
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(2))).toMap
    assert(versions.keySet == batch.keySet,
      s"stream ${versions.size} version rows vs batch ${batch.size} on the on-time subset")
    batch.foreach { case (k, st) =>
      assert(versions(k)._1 == st, s"key $k state: stream ${versions(k)._1} vs batch $st")
    }
    // the audited twin must not drift from the unaudited s48: same feed,
    // same batching → identical version table (shared-fold guarantee)
    val plain = collection.mutable.Map[(Long, Long), (Option[String], Long, Option[Long], Boolean)]()
    val src2 = MemoryStream[ChangelogEvent]
    val q2 = StreamOps.streamScd2(src2.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.Scd2Row], _: Long) =>
        b.collect().foreach(r => plain((r.user_id, r.version)) =
          ((r.state, r.valid_from_us, r.valid_to_us, r.is_current))); ()
      }.start()
    try {
      val n = shuffled.length
      Seq(shuffled.slice(0, n / 3), shuffled.slice(n / 3, 2 * n / 3), shuffled.slice(2 * n / 3, n))
        .foreach { chunk => src2.addData(chunk.toIndexedSeq: _*); q2.processAllAvailable() }
    } finally q2.stop()
    assert(plain.toMap == versions.toMap, "audited and unaudited twins must emit identical histories")
  }

  // -- s49 streaming winnow / s50 streaming z-encode ---------------------

  test("s49 streaming winnow: the per-doc selection kernel unmodified on a stream, row-exact") {
    // winnowing SELECTION is a stateless pure map (the s33/s37 class) —
    // the batch operator runs on a streaming frame untouched; the
    // corpus-level MATCH join stays a batch pass over the sink
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).limit(200)
      .select("doc_id", "text").as[(Long, Option[String])].collect()
    val batch = graft.operators.Dedup
      .winnowSelections(docs.toSeq.toDF("doc_id", "text"), 4, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = collection.mutable.Set[(Long, Long)]()
    val source = MemoryStream[(Long, Option[String])]
    val q = graft.operators.Dedup
      .winnowSelections(source.toDS().toDF("doc_id", "text"), 4, 4)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got += ((r.getLong(0), r.getLong(1))))
        ()
      }.start()
    try {
      docs.grouped(70).foreach { chunk =>
        source.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(got.toSet == batch, s"${got.size} streamed vs ${batch.size} batch fingerprints")
  }

  test("s50 streaming z-encode: frozen grid row-exact vs q93 in-range; novel keys clamp") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Layout
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val (pmin, pmax, smin, smax) = Layout.zGrid(li)
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
    try {
      rows.grouped(rows.length / 2 + 1).foreach { chunk =>
        source.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
      }
      // novel out-of-range keys clamp to the grid edge: encode equals
      // the edge key's encode
      source.addData((999991L, 1, pmax + 1000L, smax + 50L),
        (999992L, 1, pmin - 7L, smin))
      q.processAllAvailable()
    } finally q.stop()
    rows.foreach { case (ok, ln, _, _) =>
      assert(got((ok, ln)) == batch((ok, ln)), s"in-range row ($ok,$ln) drifted")
    }
    val edges = Layout.zEncodeFrozen(
        Seq((0L, 0, pmax, smax), (1L, 0, pmin, smin))
          .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        pmin, pmax, smin, smax)
      .orderBy("l_orderkey").select("zval", "zbucket")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got((999991L, 1)) == edges(0),
      "over-range key must clamp to the (pmax, smax) encode")
    assert(got((999992L, 1)) == edges(1),
      "under-range key must clamp to the (pmin, smin) encode")
  }

  test("s52 streaming k-anonymity: group table converges; release is monotone") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val cust = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
      .as[(Long, Int, String, Double)].collect()
      .map(r => (r._1, r._2.toLong, r._3, r._4))
    val expected = cust.groupBy(r => (r._2, r._3, math.floor(r._4 / 1000.0).toLong))
      .map { case (k, rows) => k -> rows.length.toLong }
    val live = collection.mutable.Map[(Long, String, Long), (Long, Boolean)]()
    val flips = collection.mutable.ArrayBuffer[(Long, String, Long)]()
    val source = MemoryStream[(Long, Long, String, Double)]
    val q = StreamOps.streamKanonGroups(source.toDS(), k = 5)
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.KanonGroup], _: Long) =>
        b.collect().foreach { g =>
          val key = (g.nk, g.seg, g.bb)
          live.get(key).foreach { case (_, wasReleased) =>
            if (wasReleased && !g.released) flips += key
          }
          live(key) = ((g.group_size, g.released))
        }
        ()
      }.start()
    try cust.grouped(cust.length / 3 + 1).foreach { ch =>
      source.addData(ch.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(flips.isEmpty, s"release must be monotone, saw un-releases: $flips")
    assert(live.view.mapValues(_._1).toMap == expected,
      "final group sizes must equal the batch QI group table")
    live.foreach { case (k, (n, released)) =>
      assert(released == (n >= 5), s"group $k disposition wrong at n=$n")
    }
  }

  test("s56 streaming unigram encode equals batch q101b under shuffled multi-batch arrival") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps
    import graft.operators.Unigram
    val docs = Tables.documents(spark, sfDir)
    val batch = Unigram.unigramEncode(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val model = Unigram.unigramFit(docs)
    val feed = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val rng = new scala.util.Random(56L)
    val shuffled = rng.shuffle(feed.toVector).toArray
    val source = MemoryStream[(Long, String)]
    val got = collection.mutable.Map[Long, (Long, String)]()
    val q = StreamOps.streamUnigramEncode(source.toDS(), model)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamOps.UnigramSegDoc], _: Long) =>
        b.collect().foreach(d => got(d.doc_id) = ((d.n_pieces, d.subtext))); ()
      }.start()
    try {
      val third = shuffled.length / 3 + 1
      shuffled.grouped(third).foreach { ch =>
        source.addData(ch.toIndexedSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(got.toMap == batch, "stateless encoder must equal batch q101b per arrival")
  }
}
