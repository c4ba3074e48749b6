package graft.tools

import org.apache.spark.sql.SparkSession

/** Print the formatted physical plan of one SparkEntry query —
  * the `.explain("formatted")` loop from SURVEY.md §5, runnable
  * per-query: `runMain graft.tools.PlanShow <name> [sfDir]`.
  */
object PlanShow {
  private val Usage = "usage: PlanShow <query> [sfDir]"

  /** Fail fast, before any session starts, on a bad invocation. */
  private[tools] def requireQueries(names: Seq[String], usage: String): Unit = {
    require(names.nonEmpty, usage)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}\n$usage")
  }

  def main(args: Array[String]): Unit = {
    require(args.length <= 2, Usage)
    requireQueries(args.take(1).toSeq, Usage)
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    graft.Bench.force(df) // settle AQE so the final plan prints
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
