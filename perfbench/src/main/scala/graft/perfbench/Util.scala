package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted; val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail of a latency sample: the highest of p99, p95 and p90 that
    * still has at least ten samples above it, as (percentile, value).
    * Samples too small for that (fewer than 20) report p90 anyway, and
    * the caller prints n beside it.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val pct = Seq(99, 95, 90).find(p => xs.size * (100 - p) / 100.0 >= 10).getOrElse(90)
    (pct, quantile(xs, pct / 100.0))
  }
}

/** Progress lines on standard error, one per phase of a run. */
object Log {
  def phase(name: String): Unit = System.err.println(s"perfbench: $name")
}

/** What the host was doing: load average and CPU steal. */
object Host {
  def loadAvg: Double =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble)
      .getOrElse(-1.0)

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  def cpuTicks: (Long, Long) =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val line = try f.getLines().next() finally f.close()
      val v = line.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    }.getOrElse((0L, 0L))

  /** Peak resident set size of this process in MB (VmHWM). */
  def peakRssMb: Double =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/self/status")
      val l = try f.getLines().find(_.startsWith("VmHWM:")).get finally f.close()
      l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)

  def heapPeakMb: Double = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def resetHeapPeak(): Unit = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }
}

/** Forces a frame and summarizes it as an order-independent checksum:
  * row count, xor and wrapped sum of a per-row hash over every column
  * (columns in name order).
  */
final case class Checksum(rows: Long, xor: Long, sum: Long)

object Checksum {
  def of(df: DataFrame): Checksum = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r: Row = df.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(pmod(col("h"), lit(1000000007L))))
      .head()
    Checksum(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** Plan node counts of a frame's physical plan before adaptive
  * execution re-plans it, so they repeat exactly for the same query.
  */
object PlanCounts {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

  private def initial(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }

  private def countNodes(df: DataFrame)(p: SparkPlan => Boolean): Long =
    initial(df).collect { case n if p(n) => n }.size.toLong

  def exchanges(df: DataFrame): Long = countNodes(df)(_.nodeName == "Exchange")
  def broadcastJoins(df: DataFrame): Long = countNodes(df)(_.nodeName.startsWith("BroadcastHashJoin"))
  def scans(df: DataFrame): Long = countNodes(df)(_.nodeName.startsWith("Scan"))
}

/** Sizes and removal of local files and directories. */
object Files {
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).map(_.map(x => bytes(x.getPath)).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()
  }

  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(x => delete(x.getPath)))
    f.delete()
  }
}
