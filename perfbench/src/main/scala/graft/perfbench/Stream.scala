package graft.perfbench

import java.nio.file.{Files => NioFiles, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.operators.CoreOps
import graft.sources.OrderGenerator
import graft.streaming.{ExactlyOnceSink, KafkaIO, StreamOps}

/** `stream`: both reference branches running continuously. A generator
  * thread drops seeded line-item files into a file source on a fixed
  * schedule (open loop); the pickup branch upserts into one exactly-once
  * sink (tombstone on !all_priced, compaction on), the stats branch into
  * a second; a reader thread snapshots the pickup table on a fixed
  * cadence. One fixed-size backlog, drained before the open loop starts,
  * warms both queries; after it, more backlogs drained through the same
  * running queries give the throughput ceiling.
  */
object Stream {
  /** Offered load of the open loop, in line-item events per second. */
  val Rate = 1000.0
  /** One source file per this much schedule time. */
  val FileSec = 0.1
  /** Item j of an order is due j × this after its first item, so an
    * order's items land in consecutive files and batches.
    */
  val ItemGapSec = 0.25
  /** Micro-batch trigger interval of both queries. */
  val TriggerSec = 2
  /** Open-loop time before latency is recorded. The queries' cold
    * first batch (JIT, code generation, state-store set-up) is a warm-up
    * drain before the open loop starts; this covers the loop's own first
    * two batches, so the window sees the steady state.
    */
  val WarmSec = 4.0
  /** Line items in each backlog file of the drain phase. */
  val BacklogEvents = 20000
  /** Both sinks compact every this many committed deltas (the sink's
    * default is 8). Every batch commits one delta, so any 4 consecutive
    * batches (8 s of the open loop at the 2 s trigger, or the 4 measured
    * drains) hold one compaction of each sink: no run is spared it.
    */
  val CompactEvery = 4
  /** Measured drains. Each drain is one batch of each query, so one
    * delta in each sink: CompactEvery drains hold exactly one compaction
    * of each sink, whatever batch the drain phase starts at. One more
    * drain, before the open loop, warms both queries.
    */
  val Drains = CompactEvery
  /** Cadence of the reader's snapshots: one per two batches, so the
    * reads (each about half a batch of work) load the host less than
    * the writes they run beside.
    */
  val SnapshotEverySec = 4.0
  val Skus = 2000
  /** Skus with key % UnpricedEvery == 0 are missing from `part`. */
  val UnpricedEvery = 50
  val MaxItems = 5

  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_quantity", DoubleType)))

  final case class Ev(order: Long, line: Int, sku: Long, qty: Long)

  /** TPC-H retail price of a part key, exact to the cent. */
  def retailPrice(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((lit(90000L) + pmod(key / 10, lit(20001L)).cast("long") + pmod(key, lit(1000L)) * 100L)
      .cast("decimal(12,2)") / 100).cast("double")

  /** One source file: its events, their due times, and when it is due. */
  final case class SrcFile(name: String, events: Array[Ev], sched: Array[Double], due: Double)

  /** Line items of orders [first, first + n) from the program's order
    * generator, in (order, line) order.
    */
  def events(spark: SparkSession, first: Long, n: Long): Array[Ev] =
    OrderGenerator.orders(spark.range(first, first + n).toDF(), nSkus = Skus, maxItems = MaxItems)
      .select(col("order_id"), posexplode(col("items")))
      .select(col("order_id"), (col("pos") + 1).as("line"), col("col.sku"), col("col.quantity"))
      .orderBy("order_id", "line").collect()
      .map(r => Ev(r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))

  /** Lays the events of consecutive orders on the open-loop schedule:
    * orders start at the offered rate and item j waits j-1 gaps, then
    * every FileSec of schedule becomes one file.
    */
  def schedule(evs: Array[Ev], prefix: String): Seq[SrcFile] = {
    var c = 0L; var lastOrder = Long.MinValue; var base = 0.0
    val timed = evs.map { e =>
      if (e.order != lastOrder) { base = c / Rate; lastOrder = e.order }
      c += 1
      (e, base + (e.line - 1) * ItemGapSec)
    }
    timed.groupBy { case (_, t) => (t / FileSec).toInt }.toSeq.sortBy(_._1).map { case (i, xs) =>
      val s = xs.sortBy(_._2)
      SrcFile(f"$prefix-$i%06d.json", s.map(_._1), s.map(_._2), (i + 1) * FileSec)
    }
  }

  def json(f: SrcFile): Array[Byte] =
    f.events.map(e => s"""{"l_orderkey":${e.order},"l_linenumber":${e.line},"l_partkey":${e.sku},"l_quantity":${e.qty}.0}""")
      .mkString("", "\n", "\n").getBytes("UTF-8")

  /** Per-query progress, collected from the listener. */
  final class Progress {
    val all = new java.util.concurrent.ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
    val rows = new AtomicLong(0)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark; val r = ctx.result
    import spark.implicits._
    val base = s"${ctx.work}/stream"
    val (src, staging) = (ctx.dir("stream/src"), ctx.dir("stream/staging"))
    val (pickupDir, statsDir) = (s"$base/sink-pickup", s"$base/sink-stats")
    val partDir = s"$base/part.parquet"

    // ---- set-up: inputs (three times, median), dim table, queries ----
    // a traced run splits the same open-loop time into an untraced and a
    // traced window
    val measureSec = if (ctx.traced) ctx.seconds * 0.5 else ctx.seconds
    val phases = if (ctx.traced) 2 else 1
    val openSec = WarmSec + phases * measureSec
    val orders = (Rate * openSec / ((1 + MaxItems) / 2.0)).toLong
    val first = 1000000000L * (ctx.seed % 1000 + 1)
    def generate() = {
      val open = schedule(events(spark, first, orders), "open")
      // consecutive orders cut into 1 + Drains files of exactly
      // BacklogEvents items (an order's items may span two files); orders
      // average (1 + MaxItems) / 2 = 3 items, so half as many orders as
      // items leave a wide margin
      val n = (1 + Drains) * BacklogEvents
      val evs = events(spark, first + 100000000L, n.toLong / 2)
      require(evs.length >= n, s"backlog short: ${evs.length} items")
      val backlogs = evs.take(n).grouped(BacklogEvents).zipWithIndex.map {
        // one file per drain, so a drain lands in one batch of each query
        case (es, d) => SrcFile(f"backlog$d.json", es, Array.fill(es.length)(0.0), 0.0)
      }.toSeq
      (open, backlogs)
    }
    Log.phase("generate")
    val gens = (0 until 3).map(_ => Loop.time(generate()))
    val (openFiles, backlogs) = gens.head._1
    val genS = Stats.median(gens.map(_._2))
    val t0Setup = System.nanoTime()
    spark.range(0, Skus).filter(col("id") % UnpricedEvery =!= 0)
      .select(col("id").as("p_partkey"), retailPrice(col("id")).as("p_retailprice"))
      .coalesce(1).write.mode("overwrite").parquet(partDir)
    val part = spark.read.parquet(partDir)

    val progress = Map("pickup" -> new Progress, "stats" -> new Progress)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.get(e.progress.name).foreach { p =>
          p.all.add((System.nanoTime(), e.progress)); p.rows.addAndGet(e.progress.numInputRows)
        }
    }
    spark.streams.addListener(listener)

    val commits = new ConcurrentHashMap[Long, Long]()
    val upserts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Boolean, Long, Long, Boolean)]()
    val tr = ctx.tracer
    val pickupSink = (ds: Dataset[StreamOps.OrderState], id: Long) => {
      val batch = ds.toDF().withColumn("tomb", !col("all_priced"))
      if (!tr.enabled) ExactlyOnceSink.upsertBatch(pickupDir, Seq("l_orderkey"),
        tombstoneCol = Some("tomb"), compactEvery = CompactEvery)(batch, id)
      else {
        // traced: the micro-batch is computed first so the upsert span
        // holds only sink work
        val b = tr.span("streaming.state_update") { val p = batch.persist(); p.count(); p }
        val t = System.nanoTime()
        tr.span("sinks.upsert")(ExactlyOnceSink.upsertBatch(pickupDir, Seq("l_orderkey"),
          tombstoneCol = Some("tomb"), compactEvery = CompactEvery)(b, id))
        val ms = (System.nanoTime() - t) / 1e6
        b.unpersist()
        val compacted = ExactlyOnceSink.committedBases(spark, pickupDir).contains(id)
        val skipped = !ExactlyOnceSink.committedDeltas(spark, pickupDir).contains(id)
        upserts.add((id, ms, compacted, Files.bytes(s"$pickupDir/delta/v=$id"),
          if (compacted) Files.bytes(s"$pickupDir/base/v=$id") else 0L, skipped))
      }
      commits.put(id, System.nanoTime())
      ()
    }
    val statsSink = (ds: Dataset[StreamOps.SkuStats], id: Long) =>
      ExactlyOnceSink.upsertBatch(statsDir, Seq("l_partkey"),
        compactEvery = CompactEvery)(ds.toDF(), id)

    val items = KafkaIO.fileSource(spark, src, schema, format = "json")
    val pickupQ = StreamOps.pickupPipelineStream(items, part).writeStream
      .queryName("pickup").outputMode("update")
      .option("checkpointLocation", s"$base/cp-pickup")
      .trigger(Trigger.ProcessingTime(s"$TriggerSec seconds"))
      .foreachBatch(pickupSink).start()
    val statsQ = StreamOps.streamProductStats(items
        .select(col("l_partkey"), col("l_orderkey"), col("l_quantity")).as[StreamOps.SkuEvent])
      .writeStream.queryName("stats").outputMode("update")
      .option("checkpointLocation", s"$base/cp-stats")
      .trigger(Trigger.ProcessingTime(s"$TriggerSec seconds"))
      .foreachBatch(statsSink).start()
    val queries = Seq(pickupQ, statsQ)

    // ---- open loop ----
    val written = new AtomicLong(0)
    val late = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]() // (due s, late ms)
    val lag = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long)]()   // (due s, rows)
    val fileBytes = new ConcurrentHashMap[String, Long]()
    def drop(f: SrcFile): Unit = {
      val bytes = json(f)
      val tmp = Paths.get(staging, f.name)
      NioFiles.write(tmp, bytes)
      NioFiles.move(tmp, Paths.get(src, f.name), StandardCopyOption.ATOMIC_MOVE)
      fileBytes.put(f.name, bytes.length.toLong)
      written.addAndGet(f.events.length)
    }
    def caughtUp(target: Long, timeoutSec: Double): Boolean = {
      val end = System.nanoTime() + (timeoutSec * 1e9).toLong
      while (progress.values.exists(_.rows.get < target) && System.nanoTime() < end &&
        queries.forall(_.isActive)) Thread.sleep(5)
      progress.values.forall(_.rows.get >= target)
    }
    def drain(f: SrcFile): Boolean = {
      val target = written.get + f.events.length
      drop(f)
      caughtUp(target, 60)
    }
    Log.phase("warm-up drain")
    val warmDrainOk = drain(backlogs.head)

    val t0 = System.nanoTime() + 200000000L
    def at(sec: Double) = t0 + (sec * 1e9).toLong
    @volatile var stop = false
    val generator = new Thread(() => {
      openFiles.foreach { f =>
        val wait = at(f.due) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        drop(f)
        late.add((f.due, (System.nanoTime() - at(f.due)) / 1e6))
        lag.add((f.due, written.get - progress("pickup").rows.get))
      }
    }, "perfbench-generator")
    val snapshots = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Long)]() // (start, ms, files)
    val snapFailed = new AtomicLong(0)
    val reader = new Thread(() => {
      var k = 0
      while (!stop) {
        val due = at(k * SnapshotEverySec); k += 1
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        if (!stop) try {
          val t = System.nanoTime()
          val files = tr.span("sinks.snapshot") {
            ExactlyOnceSink.snapshot(spark, pickupDir) match {
              case Some(df) => Checksum.of(df); df.inputFiles.length.toLong
              case None => 0L
            }
          }
          snapshots.add((t, (System.nanoTime() - t) / 1e6, files))
        } catch {
          case e: Exception => snapFailed.incrementAndGet(); System.err.println(s"snapshot failed: $e")
        }
      }
    }, "perfbench-reader")
    generator.start(); reader.start()

    // tracing (traced runs only) covers the last measured window
    val warmEnd = at(WarmSec)
    val windows = (0 until phases).map(p => (WarmSec + p * measureSec, WarmSec + (p + 1) * measureSec))
    def sleepUntil(ns: Long): Unit = { val w = ns - System.nanoTime(); if (w > 0) Thread.sleep(w / 1000000) }
    sleepUntil(warmEnd)
    Log.phase("open loop: measure")
    r.metric("setup_s", genS + (System.nanoTime() - t0Setup) / 1e9, "s")
    r.info("gen_s") = gens.map(_._2)
    var pickupSpan: Option[Span] = None; var statsSpan: Option[Span] = None
    if (ctx.traced) {
      sleepUntil(at(windows(1)._1))
      tr.enabled = true
      Host.resetHeapPeak()
      pickupSpan = Some(tr.longSpan("streaming.pickup", pickupQ.runId.toString))
      statsSpan = Some(tr.longSpan("streaming.stats", statsQ.runId.toString))
    }
    generator.join()

    // ---- catch up, then drain backlogs through the same queries ----
    Log.phase("open loop: catch up")
    val openOk = caughtUp(written.get, 60)
    stop = true; reader.join()
    // the drain rate is the slower branch's: all backlog rows over the
    // summed duration of the batches that took them (the wait for each
    // batch's trigger is idle time, not processing)
    Log.phase("drain")
    def lastBases = Seq(pickupDir, statsDir).map(ExactlyOnceSink.committedBases(spark, _).lastOption)
    val basesBefore = lastBases
    val drainT0 = System.nanoTime()
    val drainsOk = warmDrainOk +: backlogs.tail.map(drain)
    val drainBatches = progress.map { case (name, p) =>
      name -> p.all.asScala.toSeq.filter { case (at, b) => at > drainT0 && b.numInputRows > 0 }.map(_._2)
    }
    val drainEps = drainBatches.values.map { bs =>
      bs.map(_.numInputRows).sum / (bs.map(_.durationMs.get("triggerExecution").doubleValue).sum / 1000)
    }.min
    r.info("drain_batch_ms") = drainBatches.map { case (n, bs) =>
      n -> bs.map(_.durationMs.get("triggerExecution").doubleValue) }
    // (pickup, stats): did the sink compact during the measured drains
    r.info("drain_compacted") = lastBases.zip(basesBefore).map { case (a, b) => a != b }
    pickupSpan.foreach(tr.close); statsSpan.foreach(tr.close)
    tr.enabled = false
    val heap = Host.heapPeakMb
    queries.foreach(_.stop())
    spark.streams.removeListener(listener)

    // ---- latency: event due time → commit of its batch in the pickup sink ----
    val batchOf = sourceLog(s"$base/cp-pickup/sources/0")
    val openEvents = openFiles.map(_.events.length.toLong).sum
    val committedEvents = openFiles.filter(f => batchOf.get(f.name).exists(commits.containsKey)).map(_.events.length.toLong).sum
    def latencies(w: (Double, Double)): Seq[Double] = openFiles.flatMap { f =>
      batchOf.get(f.name).flatMap(b => Option(commits.get(b))).toSeq.flatMap { c =>
        f.sched.filter(s => s >= w._1 && s < w._2).map(s => (c - at(s)) / 1e9)
      }
    }
    val lat = latencies(windows.head)
    r.metric("latency_p50_s", Stats.median(lat), "s")
    val (pct, tailV) = Stats.tail(lat)
    r.metric("latency_tail_s", tailV, "s")
    r.info("latency_tail_pct") = pct; r.info("latency_n") = lat.size
    r.metric("throughput_per_s", drainEps, "1/s")
    r.info("offered_rate") = Rate

    // open-loop honesty: generator lateness and backlog growth
    def inWindow[T](xs: Iterable[(Double, T)], w: (Double, Double)) = xs.filter(x => x._1 >= w._1 && x._1 < w._2).map(_._2).toSeq
    val lateW = inWindow(late.asScala, windows.head)
    val lagW = inWindow(lag.asScala, windows.head).map(_.toDouble)
    val third = math.max(1, lagW.size / 3)
    val growth = lagW.takeRight(third).sum / third - lagW.take(third).sum / third
    r.info("gen_late_p50_ms") = Stats.median(lateW); r.info("gen_late_max_ms") = lateW.max
    r.info("lag_rows_p50") = Stats.median(lagW); r.info("lag_growth_rows") = growth
    r.info("generator_behind") = lateW.max > 1000 * FileSec
    r.info("backlog_growing") = growth > Rate * 1.0

    if (ctx.traced) tracedMetrics(ctx, windows(1), at, progress, upserts.asScala.toSeq,
      snapshots.asScala.toSeq, late.asScala.toSeq, lag.asScala.toSeq, batchOf, fileBytes.asScala,
      heap, Stats.median(lat), latencies(windows(1)))

    Log.phase("check")
    // ---- correctness: final snapshots vs the batch operators over all events ----
    // (in a traced run the batch reference is where the operators.core
    // layer is measured: one span per CoreOps call)
    val all = (openFiles ++ backlogs).flatMap(_.events)
    // every generated event is in exactly one dropped file
    val li = spark.read.schema(schema).json(src)
    def reference(name: String, df: DataFrame): DataFrame =
      if (!ctx.traced) df
      else tr.span(s"operators.core.$name") {
        val d = df.localCheckpoint(); tr.count("rows_out", d.count().toDouble); d
      }
    tr.enabled = ctx.traced
    val (expPickup, expStats) = tr.span("reference") {
      (reference("reassembly", CoreOps.orderReassembly(li, part)),
        reference("product_stats", CoreOps.productStats(li)))
    }
    tr.enabled = false
    // rows in one table and not the other; a matching checksum over the
    // same columns and types spares the two set differences
    def diff(got: DataFrame, exp0: DataFrame): Long = {
      val exp = exp0.select(got.schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      if (Checksum.of(got) == Checksum.of(exp)) 0L
      else got.exceptAll(exp).count() + exp.exceptAll(got).count()
    }
    val pickupBad = ExactlyOnceSink.snapshot(spark, pickupDir).map { s =>
      diff(s.select(col("l_orderkey"), col("item_count"), col("order_total").cast("double").as("order_total")),
        expPickup)
    }.getOrElse(-1L)
    val statsBad = ExactlyOnceSink.snapshot(spark, statsDir).map { s =>
      diff(s.select(col("l_partkey"), col("quantity").cast("double").as("quantity"), col("orders")),
        expStats)
    }.getOrElse(-1L)
    val uncommitted = (openEvents - committedEvents) +
      (if (drainsOk.forall(identity)) 0L else all.length - openEvents)
    // operations: every event offered, and every snapshot read
    r.attempted += all.length + snapshots.size + snapFailed.get
    r.failed += math.min(all.length.toLong,
      uncommitted + math.abs(pickupBad) + math.abs(statsBad) + (if (openOk) 0 else 1)) + snapFailed.get
    r.info("snapshots") = snapshots.size
    r.info("events") = all.length; r.info("uncommitted_events") = uncommitted
    r.info("pickup_mismatched_rows") = pickupBad; r.info("stats_mismatched_rows") = statsBad

    if (ctx.traced) {
      val orders = all.map(_.order).distinct.length.toDouble
      new Layers(ctx, ctx.tracer.all.filter(_.name == "reference")).core(orders)
      val plans = Seq(CoreOps.orderReassembly(li, part), CoreOps.productStats(li))
      r.metric("operators.core.exchanges", plans.map(PlanCounts.exchanges).sum.toDouble, "count")
      r.metric("operators.core.broadcast_joins", plans.map(PlanCounts.broadcastJoins).sum.toDouble, "count")
    }
  }

  /** file name → batch id, from the file source's metadata log. */
  def sourceLog(dir: String): Map[String, Long] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    files.filterNot(_.getName.startsWith(".")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).toList finally src.close()
    }.flatMap { line =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      Option(node.get("path")).map(p => p.asText().split('/').last -> node.get("batchId").asLong())
    }.toMap
  }

  private def tracedMetrics(ctx: Ctx, w: (Double, Double), at: Double => Long,
                            progress: Map[String, Progress],
                            upserts: Seq[(Long, Double, Boolean, Long, Long, Boolean)],
                            snapshots: Seq[(Long, Double, Long)],
                            late: Seq[(Double, Double)], lag: Seq[(Double, Long)],
                            batchOf: Map[String, Long], fileBytes: collection.Map[String, Long],
                            heap: Double, untracedP50: Double, tracedLat: Seq[Double]): Unit = {
    val r = ctx.result
    val (lo, hi) = (at(w._1), at(w._2))
    val prog = progress("pickup").all.asScala.toSeq.filter { case (t, _) => t >= lo }.map(_._2)
      .filter(_.numInputRows > 0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def dur(k: String) = med(prog.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      med(prog.flatMap(_.stateOperators.headOption).map(f))
    r.metric("streaming.batch_ms", dur("triggerExecution"), "ms")
    r.metric("streaming.add_batch_ms", dur("addBatch"), "ms")
    r.metric("streaming.planning_ms", dur("queryPlanning"), "ms")
    r.metric("streaming.wal_commit_ms", dur("walCommit"), "ms")
    r.metric("streaming.rows_per_batch", med(prog.map(_.numInputRows.toDouble)), "count")
    r.metric("streaming.state_rows", state(_.numRowsTotal.toDouble), "count")
    r.metric("streaming.state_rows_updated", state(_.numRowsUpdated.toDouble), "count")
    r.metric("streaming.state_mem_bytes", state(_.memoryUsedBytes.toDouble), "B")
    r.metric("streaming.state_commit_ms", state(_.commitTimeMs.toDouble), "ms")

    val batches = prog.map(_.batchId).toSet
    val bytesPerBatch = fileBytes.toSeq.flatMap { case (f, b) => batchOf.get(f).filter(batches).map(_ -> b) }
      .groupBy(_._1).values.map(_.map(_._2).sum.toDouble).toSeq
    r.metric("sources.list_ms", dur("latestOffset"), "ms")
    r.metric("sources.scan_ms", dur("getBatch"), "ms")
    r.metric("sources.scan_rows", med(prog.map(_.numInputRows.toDouble)), "count")
    r.metric("sources.scan_bytes", med(bytesPerBatch), "B")
    val lateW = late.filter(x => x._1 >= w._1 && x._1 < w._2).map(_._2)
    val lagW = lag.filter(x => x._1 >= w._1 && x._1 < w._2).map(_._2.toDouble)
    val third = math.max(1, lagW.size / 3)
    r.metric("sources.gen_late_ms", med(lateW), "ms")
    r.metric("sources.lag_rows", med(lagW), "count")
    r.metric("sources.lag_growth_rows", lagW.takeRight(third).sum / third - lagW.take(third).sum / third, "count")

    val ups = upserts.filter(u => batches.contains(u._1))
    val (withC, noC) = ups.partition(_._3)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    r.metric("sinks.upsert_ms", med(noC.map(_._2)), "ms")
    r.metric("sinks.compact_ms", if (withC.isEmpty) 0.0 else mean(withC.map(_._2)) - mean(noC.map(_._2)), "ms")
    val deltaB = ups.map(_._4).sum.toDouble; val baseB = ups.map(_._5).sum.toDouble
    r.metric("sinks.bytes_written", deltaB + baseB, "B")
    r.metric("sinks.write_amp", if (deltaB > 0) (deltaB + baseB) / deltaB else 0.0, "ratio")
    r.metric("sinks.deltas", ups.count(!_._6).toDouble, "count")
    r.metric("sinks.bases", withC.size.toDouble, "count")
    r.metric("sinks.replays_skipped", ups.count(_._6).toDouble, "count")
    val snapW = snapshots.filter(s => s._1 >= lo)
    r.metric("sinks.snapshot_ms", med(snapW.map(_._2)), "ms")
    r.metric("sinks.snapshot_files", med(snapW.map(_._3.toDouble)), "count")

    // runtime counters of every span since the traced window opened, per batch
    val spans = ctx.tracer.all.filter(s => s.startNs >= lo || s.name.startsWith("streaming."))
    val tot = new Runtime; spans.foreach(s => tot.add(s.runtime))
    val n = math.max(1, batches.size).toDouble
    r.metric("runtime.tasks", tot.tasks / n, "count")
    r.metric("runtime.task_failures", tot.taskFailures.toDouble, "count")
    r.metric("runtime.cpu_ms", tot.cpuMs / n, "ms")
    r.metric("runtime.gc_ms", tot.gcMs / n, "ms")
    r.metric("runtime.sched_delay_ms", tot.schedDelayMs / n, "ms")
    r.metric("runtime.fetch_wait_ms", tot.fetchWaitMs / n, "ms")
    r.metric("runtime.shuffle_write_bytes", tot.shuffleWriteBytes / n, "B")
    r.metric("runtime.shuffle_read_bytes", tot.shuffleReadBytes / n, "B")
    r.metric("runtime.spill_bytes", tot.spillBytes / n, "B")
    r.metric("runtime.task_skew", tot.taskSkew, "ratio")
    r.metric("runtime.heap_peak_mb", heap, "MB")

    val t = if (tracedLat.isEmpty) untracedP50 else Stats.median(tracedLat)
    r.metric("trace.overhead_s", t - untracedP50, "s")
    r.metric("trace.overhead_frac", (t - untracedP50) / untracedP50, "ratio")
    r.info("traced_latency_p50_s") = t
  }
}
