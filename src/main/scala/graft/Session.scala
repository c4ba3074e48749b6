package graft

import org.apache.spark.sql.SparkSession

/** The one session definition for graft's mains and its test suite.
  * Every setting here is one the queries' results or plans depend on,
  * so no caller copies them: a main or a test that builds its session
  * anywhere else can silently disagree (a missing time zone, say, only
  * shows when the JVM's default is not UTC).
  *
  * `getOrCreate` underneath makes the call idempotent: a second call in
  * the same JVM returns the session the first one built.
  */
object Session {
  private val CpusVar = "SPARK_GRAFT_CPUS"

  /** Local core count from `SPARK_GRAFT_CPUS` (default 4); anything but
    * a positive integer fails here, naming the variable.
    */
  def cpus: Int = parseCpus(sys.env.get(CpusVar))

  private[graft] def parseCpus(v: Option[String]): Int = v match {
    case None => 4
    case Some(s) =>
      val n = s.toIntOption.getOrElse(0)
      require(n > 0, s"$CpusVar must be a positive integer, got '$s'")
      n
  }

  /** Settings shared by every graft session at `n` cores. */
  private[graft] def settings(n: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$n]",
    "spark.sql.shuffle.partitions" -> n.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // keep TypedImperativeAggregates (top_k_by) hash-based: the default
    // threshold (128 distinct keys/partition) silently falls back to
    // SORTING the full input — the exact cost the bounded top-k
    // aggregation exists to avoid.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "10000000",
    "spark.ui.enabled" -> "false")

  /** The session at `n` local cores; `conf` adds deployment settings
    * such as a warehouse path.
    */
  def apply(n: Int = cpus, conf: Seq[(String, String)] = Nil): SparkSession = {
    val s = (settings(n) ++ conf)
      .foldLeft(SparkSession.builder().appName("graft")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
