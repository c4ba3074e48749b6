package graft.tools

import org.apache.spark.sql.execution.ExplainMode
import graft.{Bench, Session, SparkEntry}

/** Plan report for SparkEntry queries: `runMain graft.tools.PlanShow
  * <sfDir> [query...]`, every registered query when none is named.
  *
  * Per query it builds and drains the frame, then prints one line of
  * plan-shape counts over the AQE-final plan (hash exchanges, join
  * strategies, sorts, codegen stages, codegen fallbacks), the
  * pre-execution `explain("formatted")` plan and the AQE-final executed
  * plan. Save a report with a shell redirect.
  */
object PlanShow {
  private val Usage = "usage: PlanShow <sfDir> [query...]"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, Usage)
    val sfDir = Args.sfDir(args(0), Usage)
    val names =
      if (args.length > 1) Args.queries(args.drop(1).toSeq, Usage)
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session()
    for (n <- names) {
      Bench.clearBlocks(spark)
      val df = SparkEntry.queries(n)(spark, sfDir)
      val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Bench.force(df) // settle AQE so the final plan prints
      val fin = df.queryExecution.executedPlan.toString
      val plan = fin.split("== Initial Plan ==")(0)
      def c(p: String) = p.r.findAllIn(plan).size
      println(f"$n%-26s shuffles=${c("Exchange hashpartitioning")}%2d " +
        f"bhj=${c("BroadcastHashJoin")}%2d smj=${c("SortMergeJoin")}%2d " +
        f"bnlj=${c("BroadcastNestedLoopJoin")}%2d cartesian=${c("CartesianProduct")}%2d " +
        f"sorts=${c("\\+- Sort ")}%2d codegen=${c("\\*\\(")}%2d fallback=${c("CodegenFallback")}%d")
      println(s"== $n @ $sfDir: explain(formatted), pre-execution ==")
      println(formatted)
      println(s"== $n @ $sfDir: AQE-final executed plan ==")
      println(fin)
    }
    spark.stop()
  }
}
