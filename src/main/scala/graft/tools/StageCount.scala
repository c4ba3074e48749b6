package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.Bridge.drainListenerBus
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import graft.{Bench, Session}

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
    val sfDir = Args.sfDir(args(0), Usage)
    val names = Args.queries(args.drop(1).toSeq, Usage)
    val spark = Session()
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
      Bench.clearBlocks(spark)
      drainListenerBus(spark)
      jobs.set(0); noExecutionId.set(0); stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      drainListenerBus(spark)
      val planning = noExecutionId.get
      Bench.force(df)
      val dt = (System.nanoTime() - t0) / 1e9
      drainListenerBus(spark)
      totalJobs += jobs.get; totalPlanning += planning
      println(f"[stagecount] $n: $dt%.2f s jobs=${jobs.get} planning=$planning " +
        s"stagesRun=${stages.get} tasks=${tasks.get}")
    }
    println(s"[stagecount] total: jobs=$totalJobs planning=$totalPlanning")
    spark.stop()
  }
}
