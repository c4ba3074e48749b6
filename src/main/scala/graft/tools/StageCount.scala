package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Diagnostic: build and drain each query once and report its job,
  * stage and task counts. `planning` counts the jobs launched while
  * the frame is being built that carry no `spark.sql.execution.id`:
  * work Spark does for analysis (parquet schema inference, say) rather
  * than for any SQL execution. (The drain, `Bench.force`, runs outside
  * a SQL execution too, so only the build phase is counted.)
  * Usage: runMain graft.tools.StageCount <sfDir> <query...>
  * (`SPARK_GRAFT_CPUS` sets the local core count, default 4).
  */
object StageCount {
  private val Usage = "usage: StageCount <sfDir> <query...>"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val sfDir = args(0)
    require(new java.io.File(sfDir).isDirectory, s"not a directory: $sfDir\n$Usage")
    val names = args.drop(1).toSeq
    PlanShow.requireQueries(names, Usage)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger
    val noExecutionId = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (Option(j.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          noExecutionId.incrementAndGet()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    var totalJobs = 0; var totalPlanning = 0
    for (n <- names) {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      BenchScale.drainListenerBus(spark)
      jobs.set(0); noExecutionId.set(0); stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      BenchScale.drainListenerBus(spark)
      val planning = noExecutionId.get
      graft.Bench.force(df)
      val dt = (System.nanoTime() - t0) / 1e9
      BenchScale.drainListenerBus(spark)
      totalJobs += jobs.get; totalPlanning += planning
      println(f"[stagecount] $n: $dt%.2f s jobs=${jobs.get} planning=$planning " +
        s"stagesRun=${stages.get} tasks=${tasks.get}")
    }
    println(s"[stagecount] total: jobs=$totalJobs planning=$totalPlanning")
    spark.stop()
  }
}
