package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.operators.CoreOps
import graft.sources.Tables

/** `topology`: the reference topology as closed-loop batch jobs, one at
  * a time. A job forces q10 (`pickupPipeline`), q07 (`productStats`)
  * and q09 (`statsMerge`) over the generated tables.
  */
object Topology {

  val Queries = Seq("q10_pickup_pipeline", "q07_product_stats", "q09_stats_merge")

  def outputs(spark: SparkSession, dir: String): Seq[(String, DataFrame)] =
    Queries.map(n => n -> SparkEntry.queries(n)(spark, dir))

  def job(spark: SparkSession, dir: String): Seq[Checksum] =
    outputs(spark, dir).map { case (_, df) => Checksum.of(df) }

  private val tables = Seq("orders", "customer", "nation", "region", "lineitem", "part")

  /** The same job, one layer call per span: each source scanned and
    * cached, then every core operator of the topology forced on its own.
    */
  def tracedJob(ctx: Ctx, dir: String): Seq[Checksum] = {
    val tr = ctx.tracer; val spark = ctx.spark
    tr.span("job") {
      val src = tables.map { t =>
        t -> tr.span("sources.scan") {
          val df = Tables.load(spark, dir, t).persist(StorageLevel.MEMORY_ONLY)
          tr.count("rows", df.count().toDouble)
          tr.count("bytes", Files.bytes(s"$dir/$t.parquet").toDouble)
          df
        }
      }.toMap
      def op(name: String)(df: => DataFrame): Checksum = tr.span(s"operators.core.$name") {
        val c = Checksum.of(df); tr.count("rows_out", c.rows.toDouble); c
      }
      val (o, c, n, r, l, p) = (src("orders"), src("customer"), src("nation"),
        src("region"), src("lineitem"), src("part"))
      op("rekey")(CoreOps.repartitionByKey(o))
      op("join_user")(CoreOps.joinUser(o, c))
      op("join_store")(CoreOps.joinStoreBroadcast(c, n, r))
      op("explode")(CoreOps.explodeItems(l))
      op("enrich")(CoreOps.enrichPrice(l, p))
      val done = op("reassembly")(CoreOps.orderReassembly(l, p))
      tr.count("completed_orders", done.rows.toDouble)
      val out = Seq(op("pickup")(CoreOps.pickupPipeline(o, c, n, l, p)),
        op("product_stats")(CoreOps.productStats(l)),
        op("stats_merge")(CoreOps.statsMerge(l)))
      src.values.foreach(_.unpersist(blocking = true))
      out
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark; val r = ctx.result
    val dir = s"${ctx.work}/tables0"
    // the first (cold) warm-up job dumps its outputs for the DuckDB
    // oracle; their checksums are the reference every timed job must
    // reproduce
    Log.phase("first job")
    val (ref, first) = Loop.time(outputs(spark, dir).map { case (name, df) =>
      val d = s"${ctx.work}/out/$name"
      df.write.mode("overwrite").parquet(d)
      r.checks += ((name, d, SparkEntry.oracleSql(name)))
      Checksum.of(spark.read.parquet(d))
    })
    Log.phase("warm up")
    val warm = first + Loop.warmup(minJobs = 2, maxSeconds = 4)(() => job(spark, dir))
    r.metric("setup_s", ctx.genS + warm, "s")
    r.info("warmup_s") = warm
    val lineRows = spark.read.parquet(s"$dir/lineitem.parquet").count().toDouble
    val orderRows = spark.read.parquet(s"$dir/orders.parquet").count().toDouble
    r.info("lineitem_rows") = lineRows; r.info("orders") = orderRows

    Log.phase("measure")
    val (runs, window) = Loop.time(Loop.closed(ctx.seconds, 5)(
      () => job(spark, dir) == ref)(() => ()))
    Loop.report(ctx, runs, lineRows, window)
    if (ctx.traced) {
      val untracedP50 = r.metrics("latency_p50_s")._1
      Log.phase("traced")
      ctx.tracer.enabled = true
      Host.resetHeapPeak()
      val (truns, twindow) = Loop.time(Loop.closed(ctx.seconds, 3)(
        () => tracedJob(ctx, dir) == ref)(() => ()))
      ctx.tracer.enabled = false
      r.attempted += truns.size; r.failed += truns.count(!_.ok)
      val heap = Host.heapPeakMb
      val jobs = ctx.tracer.all.filter(_.name == "job")
      val L = new Layers(ctx, jobs)
      L.sources()
      L.core(orderRows)
      val plans = outputs(spark, dir).map(_._2)
      r.metric("operators.core.exchanges", plans.map(PlanCounts.exchanges).sum.toDouble, "count")
      r.metric("operators.core.broadcast_joins", plans.map(PlanCounts.broadcastJoins).sum.toDouble, "count")
      L.runtime(heap)
      L.overhead(untracedP50, truns)
      r.info("traced_window_s") = twindow
      r.metric("runtime.speedup_vs_1core", oneCore(ctx, dir) / untracedP50, "x")
    }
  }

  /** Median wall time of a job on a one-core session (after warmup). */
  private def oneCore(ctx: Ctx, dir: String): Double = {
    Log.phase("one-core baseline")
    ctx.spark.stop()
    val one = Main.session(1)
    try {
      job(one, dir)
      val times = (0 until 3).map(_ => Loop.time(job(one, dir))._2)
      ctx.result.info("one_core_s") = times
      Stats.median(times)
    } finally one.stop()
  }
}
