package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Bucketed-write co-location and the deterministic order generator
  * (reference `builder`/`publisher` analogs).
  */
class SourcesSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.sources.{OrderGenerator, TableWriter, Tables}

  test("q87 jsonl round-trip is identity on documents; corrupt lines attributable") {
    import graft.sources.Jsonl
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val back = Jsonl.roundTripDocuments(spark, sfDir)
    assert(back.schema.fieldNames.toSeq == docs.schema.fieldNames.toSeq)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0)
    // corrupt-line policy: a broken line yields nulls + the raw line
    // in _corrupt_record; well-formed neighbors parse untouched
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_jsonl_corrupt")
    dir.mkdirs()
    val f = new java.io.File(dir, "part.json")
    val w = new java.io.PrintWriter(f)
    w.println("""{"doc_id": 1, "text": "good line", "lang": "en", "source": "t", "n_chars": 9}""")
    w.println("""{"doc_id": 2, "text": "broken""")
    w.println("""{"doc_id": 3, "text": null, "lang": "en", "source": "t", "n_chars": 0}""")
    w.close()
    // materialize before splitting on _corrupt_record (Spark ≥ 2.3
    // forbids corrupt-column-only queries over raw files)
    val r = Jsonl.read(spark, dir.getAbsolutePath, docs.schema).localCheckpoint(true)
    assert(r.count() == 3)
    assert(r.filter(col("_corrupt_record").isNotNull).count() == 1)
    val bad = r.filter(col("_corrupt_record").isNotNull).head()
    assert(bad.isNullAt(bad.fieldIndex("lang")), "corrupt row carries null schema fields")
    assert(bad.getString(bad.fieldIndex("_corrupt_record")).contains("broken"))
    val clean = Jsonl.readClean(spark, dir.getAbsolutePath, docs.schema)
    assert(clean.count() == 2)
    // an omitted/null field reads back as null (the round-trip rule)
    assert(clean.filter(col("doc_id") === 3L).head().isNullAt(1))
  }

  test("bucketed tables join WITHOUT any exchange (co-located join)") {
    // fresh in-memory catalog + persistent warehouse dir: stale table
    // locations from a previous JVM must go before overwrite-create.
    for (t <- Seq("li_bucketed", "o_bucketed")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"/tmp/graft-test-warehouse/$t")
      if (dir.exists()) {
        import scala.reflect.io.Directory
        new Directory(dir).deleteRecursively()
      }
    }
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    TableWriter.writeBucketed(li, "li_bucketed", "l_orderkey", 8)
    TableWriter.writeBucketed(o, "o_bucketed", "o_orderkey", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val j = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(j.count() == li.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("Tables.events normalizes ts to TimestampType across parquet logical-type drift") {
    // The driver has regenerated /root/testdata with events.ts as three
    // different parquet logical types across rounds (NANOS→long under
    // nanosAsLong, isAdjustedToUTC=0→NTZ, and plain LTZ). The r8 regen
    // to NTZ silently broke q15/q44 (`unix_micros` rejects NTZ). This
    // pins the loader contract so the NEXT regen can't knock queries
    // out of the correctness gate.
    import org.apache.spark.sql.types._
    import spark.implicits._
    val base = new java.io.File("/tmp/graft-test-events-drift")
    if (base.exists()) { import scala.reflect.io.Directory; new Directory(base).deleteRecursively() }
    // micros values straddling a second boundary + a pre-epoch row
    val micros = Seq(0L, 1L, 999999L, 1700000000123456L, -1L, -999001L)
    val ltz = micros.toDF("us").select(
      expr("uuid()").as("event_id"), expr("timestamp_micros(us)").as("ts"))
    ltz.write.parquet(s"$base/ltz/events.parquet")
    ltz.select(col("event_id"), col("ts").cast(TimestampNTZType).as("ts"))
      .write.parquet(s"$base/ntz/events.parquet")
    // nanos shape: the µs rows ×1000 PLUS raw sub-µs pre-epoch nanos —
    // the rows where truncation (DuckDB's measured TIMESTAMP(NANOS)
    // scan conversion: -999001 ns → -999 µs, r10 probe on duckdb
    // 1.0.0) and floor division (-999001 ns → -1000 µs) disagree.
    // The loader must TRUNCATE, or it desynchronizes from every
    // events oracle whenever the driver regen ships NANOS again.
    val subUsNanos = Seq(-999001L, -1500L, -999L, -1L, 999L)
    val subUsExpectedUs = Seq(-999L, -1L, 0L, 0L, 0L)
    ltz.select(col("event_id"), (expr("unix_micros(ts)") * 1000L).as("ts"))
      .unionAll(subUsNanos.toDF("ts").select(expr("uuid()").as("event_id"), col("ts")))
      .write.parquet(s"$base/nanos/events.parquet") // long column == nanosAsLong read shape
    for (shape <- Seq("ltz", "ntz", "nanos")) {
      val ev = Tables.events(spark, s"$base/$shape")
      assert(ev.schema("ts").dataType == TimestampType,
        s"$shape: got ${ev.schema("ts").dataType}")
      // value-level: identical micros under the UTC session tz
      val expected =
        (if (shape == "nanos") micros ++ subUsExpectedUs else micros).sorted
      val got = ev.select(expr("unix_micros(ts)")).as[Long].collect().sorted.toSeq
      assert(got == expected, s"$shape: $got != $expected")
    }
  }

  /** Jobs started while `body` runs. The listener bus is drained before
    * the listener is added (so no earlier event reaches it) and after
    * `body` (so every job `body` started has been delivered).
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { val r = body; org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark); (r, n.get) }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** `Tables.parquet`'s schema equals Spark's own inference over the
    * same paths (or both throw), and resolving it starts no job.
    */
  private def assertSchemaParity(paths: String*): Unit = {
    import scala.util.{Failure, Success, Try}
    val inferred = Try(spark.read.parquet(paths: _*).schema)
    val (footer, jobs) = jobsDuring(Try(Tables.parquet(spark, paths: _*).schema))
    assert(jobs == 0, s"${paths.mkString(",")}: $jobs Spark job(s) while resolving the schema")
    (inferred, footer) match {
      case (Success(a), Success(b)) => assert(b == a, s"${paths.mkString(",")}: $b != $a")
      case (Failure(_), Failure(_)) => ()
      case _ => fail(s"${paths.mkString(",")}: inference $inferred, footer $footer")
    }
  }

  test("Tables.parquet: footer schema equals Spark's inference, with no Spark job") {
    import org.apache.hadoop.fs.Path
    import graft.streaming.ExactlyOnceSink
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_footer_schema").toString
    // a TIMESTAMP(NANOS) column: the one type whose Spark type depends
    // on nanosAsLong (long when on, an analysis error when off)
    val nanos = s"$tmp/nanos/part-0.parquet"
    val nanosType = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(new Path(nanos))
      .withType(nanosType).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(nanosType)
      .newGroup().append("id", 1L).append("ts", 1500L))
    finally w.close()
    val tables = for {
      sf <- Seq(sfDir, s"${new java.io.File(sfDir).getParent}/sf0.01")
      t <- new java.io.File(sf).list().filter(_.endsWith(".parquet")).sorted
    } yield s"$sf/$t"
    assert(tables.size == 20 && tables.exists(_.endsWith("/events.parquet")), tables)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.get(key)
    try for (on <- Seq("true", "false")) {
      spark.conf.set(key, on)
      (tables :+ nanos :+ s"$tmp/nanos").foreach(assertSchemaParity(_))
    } finally spark.conf.set(key, prev)

    // a Spark-written directory of several files (_SUCCESS, .crc around
    // them), read as a directory and as two explicit files
    val multi = s"$tmp/multi"
    spark.range(0, 400, 1, 4).select(col("id"), (col("id") % 7).as("m"),
      col("id").cast("string").as("s")).write.parquet(multi)
    assertSchemaParity(multi)
    val parts = new java.io.File(multi).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted
    assert(parts.length == 4)
    assertSchemaParity(parts.take(2).toIndexedSeq: _*)
    // which file's footer decides: files whose schemas differ, so only
    // the file Spark's non-merging inference reads gives its schema —
    // the first data file by path, unless a summary file is present
    def lone(df: org.apache.spark.sql.DataFrame, to: String): Unit = {
      val d = s"$tmp/lone"
      df.coalesce(1).write.mode("overwrite").parquet(d)
      val f = new java.io.File(d).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(f.toPath, new java.io.File(to).toPath)
    }
    val mixed = s"$tmp/mixed"
    new java.io.File(mixed).mkdirs()
    lone(spark.range(3).select(col("id").cast("string").as("x")), s"$mixed/b.parquet")
    lone(spark.range(3).toDF("id"), s"$mixed/a.parquet")
    assertSchemaParity(mixed)
    assert(Tables.parquet(spark, mixed).columns.toSeq == Seq("id"))
    val summarized = s"$tmp/summarized"
    spark.range(0, 40, 1, 2).select(col("id"), (col("id") * 2).as("twice"))
      .write.option("parquet.summary.metadata.level", "ALL").parquet(summarized)
    assert(new java.io.File(s"$summarized/_common_metadata").exists())
    lone(spark.range(3).select(col("id").cast("string").as("x")), s"$summarized/a.parquet")
    assertSchemaParity(summarized)
    assert(Tables.parquet(spark, summarized).columns.toSeq == Seq("id", "twice"))
    // a data file below a plain (not `k=v`) subdirectory is not part of
    // the table: Spark's file index leaves it out, so both reads refuse
    val nested = s"$tmp/nested"
    new java.io.File(s"$nested/sub").mkdirs()
    lone(spark.range(3).toDF("id"), s"$nested/sub/a.parquet")
    assertSchemaParity(nested)
    // a partitioned directory: data columns from the footer, `p` from
    // Spark's partition discovery
    val part = s"$tmp/partitioned"
    TableWriter.writePartitioned(spark.range(0, 60).select(col("id"),
      (col("id") % 3).as("p")), part, "p")
    assertSchemaParity(part)
    // an ExactlyOnceSink table holding a base and a trailing delta
    val sink = s"$tmp/sink"
    for (b <- 0L to 2L)
      ExactlyOnceSink.upsertBatch(sink, Seq("k"), compactEvery = 2)(
        Seq((b, b * 1.5), (b + 1, b * 2.5)).toDF("k", "total"), b)
    val bases = ExactlyOnceSink.committedBases(spark, sink)
    val deltas = ExactlyOnceSink.committedDeltas(spark, sink).filter(_ > bases.last)
    assert(bases.nonEmpty && deltas.nonEmpty, s"bases $bases, deltas $deltas")
    assertSchemaParity(s"$sink/base/v=${bases.last}" +: deltas.map(v => s"$sink/delta/v=$v"): _*)
    val (snap, snapJobs) = jobsDuring(ExactlyOnceSink.snapshot(spark, sink).get)
    assert(snapJobs == 0, s"snapshot started $snapJobs job(s)")
    assert(snap.columns.toSeq == Seq("k", "total"))
    assert(snap.count() == 4)
    // a ModelStore round trip: the saved tables, and the loaded frames
    val model = s"$tmp/model"
    ModelStore.save(spark, model, "kmeans", 1L, Map.empty,
      Map("centroids" -> Seq((1, Seq(1L, 2L)), (2, Seq(3L))).toDF("cid", "vec")))
    assertSchemaParity(s"$model/tables/centroids")
    assert(ModelStore.loadKmeans(spark, model) == Seq((1, Seq(1L, 2L)), (2, Seq(3L))))
  }

  test("Tables.parquet fails fast on mergeSchema and on a path with no data file") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_footer_fail").toString
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    val e = try intercept[IllegalArgumentException](Tables.load(spark, sfDir, "region"))
      finally spark.conf.unset(key)
    assert(e.getMessage.contains(key), e.getMessage)
    // empty, and holding only hidden files (a writer's _SUCCESS marker)
    val empty = s"$tmp/empty"
    new java.io.File(empty).mkdirs()
    val onlyHidden = s"$tmp/hidden"
    new java.io.File(onlyHidden).mkdirs()
    new java.io.File(onlyHidden, "_SUCCESS").createNewFile()
    for (dir <- Seq(empty, onlyHidden)) {
      val e2 = intercept[IllegalArgumentException](Tables.parquet(spark, dir))
      assert(e2.getMessage.contains(dir), e2.getMessage)
      assertSchemaParity(dir) // Spark's own inference refuses it too
    }
  }

  test("nested orders round-trip losslessly back to line items") {
    val nested = Tables.nestedOrders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    // ONE ROW PER ORDER — including itemless orders, which this corpus
    // really contains (27 at sf0.001): the r6 left-join fix; the old
    // inner join silently dropped them
    assert(nested.count() == Tables.orders(spark, sfDir).count())
    val itemless = nested.filter(size(col("items")) === 0)
    assert(itemless.count() ==
      Tables.orders(spark, sfDir).count() - li.select("l_orderkey").distinct().count())
    val back = nested.select(col("o_orderkey"), explode(col("items")).as("it"))
      .select(col("o_orderkey").as("l_orderkey"), col("it.l_partkey").as("l_partkey"),
        col("it.l_linenumber").as("l_linenumber"), col("it.l_quantity").as("l_quantity"))
    assertSameRows(back, li.select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity"))
  }

  test("order generator is deterministic and shape-correct") {
    val ids = spark.range(0, 1000).toDF("id")
    val a = OrderGenerator.orders(ids)
    val b = OrderGenerator.orders(ids)
    assertSameRows(a.select(col("order_id"), col("user_id"), col("store_id"),
      to_json(col("items")).as("items")),
      b.select(col("order_id"), col("user_id"), col("store_id"),
        to_json(col("items")).as("items")))
    assert(a.count() == 1000)
    val stats = a.select(size(col("items")).as("n")).agg(min("n"), max("n")).head()
    assert(stats.getInt(0) >= 1 && stats.getInt(1) <= 5)
    // field domains
    assert(a.filter(col("user_id") < 0 || col("user_id") >= 1000).count() == 0)
    assert(a.filter(col("store_id") < 0 || col("store_id") >= 100).count() == 0)
  }

  test("order generator: streaming over the same ids equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = OrderGenerator.orderItems(source.toDF().withColumnRenamed("value", "id"))
      .writeStream.format("memory").queryName("gen_out")
      .outputMode("append").start()
    try { source.addData(0L until 500L); q.processAllAvailable() } finally q.stop()
    val batch = OrderGenerator.orderItems(spark.range(0, 500).toDF("id"))
    assertSameRows(spark.table("gen_out"), batch)
  }

  test("generated items feed the core pipeline shapes (explode + stats)") {
    val items = OrderGenerator.orderItems(spark.range(0, 2000).toDF("id"))
    val stats = items.groupBy("sku").agg(
      sum("quantity").as("quantity"), countDistinct("order_id").as("orders"))
    assert(stats.count() > 0)
    assert(stats.agg(sum("orders")).head().getLong(0) >= 2000)
  }
}
