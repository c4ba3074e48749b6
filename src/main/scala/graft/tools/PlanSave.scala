package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Write `.explain("formatted")` output (plus the AQE-final executed
  * plan after a drain) for named SparkEntry queries to
  * `plans/<tag>/<name>_<suffix>.txt` — the r16 optimization round's
  * plan-evidence artifact (`runMain graft.tools.PlanSave <tag>
  * <suffix> <sfDir> <query...>`).
  */
object PlanSave {
  private val Usage = "usage: PlanSave <tag> <suffix> <sfDir> <query...>"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, Usage)
    val Array(tag, suffix, sfDir) = args.take(3)
    val names = args.drop(3).toSeq
    PlanShow.requireQueries(names, Usage)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(s"plans/$tag").mkdirs()
    for (n <- names) {
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      graft.Bench.force(df) // settle AQE so the final plan prints
      val fin = df.queryExecution.executedPlan.toString
      val w = new java.io.PrintWriter(s"plans/$tag/${n}_$suffix.txt")
      try {
        w.println(s"== $n @ $sfDir — explain(formatted), pre-execution ==")
        w.println(formatted)
        w.println(s"== $n @ $sfDir — AQE-final executed plan (post-collect) ==")
        w.println(fin)
      } finally w.close()
      println(s"[plansave] wrote plans/$tag/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
