package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark's task counters summed over the tasks of one span. */
final class Runtime {
  var tasks = 0L; var taskFailures = 0L; var cpuMs = 0.0; var gcMs = 0.0
  var schedDelayMs = 0.0; var fetchWaitMs = 0.0; var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L; var spillBytes = 0L
  /** Per stage: (task count, sum and max of task run time in ms). */
  val stages = mutable.Map.empty[Int, (Long, Double, Double)]

  def add(o: Runtime): Unit = {
    tasks += o.tasks; taskFailures += o.taskFailures; cpuMs += o.cpuMs
    gcMs += o.gcMs; schedDelayMs += o.schedDelayMs; fetchWaitMs += o.fetchWaitMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
    o.stages.foreach { case (k, v) => stages(k) = v }
  }

  /** Largest max/mean task run time over stages with 2+ tasks; 1 when
    * no stage had two tasks.
    */
  def taskSkew: Double = {
    val r = stages.values.collect { case (n, sum, mx) if n >= 2 && sum > 0 => mx / (sum / n) }
    if (r.isEmpty) 1.0 else r.max
  }
}

/** One traced call: name, wall-clock interval, parent span and run id,
  * plus counts recorded at the same boundary.
  */
final case class Span(id: Long, name: String, parent: Long, runId: String,
                      startNs: Long, var endNs: Long = 0L) {
  val counts = mutable.LinkedHashMap.empty[String, Double]
  val runtime = new Runtime
  def durMs: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Each span sets the Spark job group to its
  * own id, so the listener attributes the tasks of every job the call
  * starts to that span; the previous group is restored on exit.
  * Streaming queries run under their run id as job group, which
  * `alias` maps onto a long-lived span.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  @volatile var enabled = false
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val aliases = new ConcurrentHashMap[String, Long]()
  private val current = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private val GroupKey = "spark.jobGroup.id"

  def all: Seq[Span] = spans.asScala.toSeq

  private def open(name: String, parent: Long): Span = {
    val s = Span(nextId.getAndIncrement(), name, parent, runId, System.nanoTime())
    spans.add(s); byId.put(s.id, s); s
  }

  /** Runs `body` inside a span named `name` (or just runs it when
    * tracing is off).
    */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val stack = current.get
      val s = open(name, stack.headOption.map(_.id).getOrElse(0L))
      val prevGroup = sc.getLocalProperty(GroupKey)
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      current.set(s :: stack)
      try body
      finally {
        s.endNs = System.nanoTime()
        current.set(stack)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setLocalProperty(GroupKey, prevGroup)
      }
    }

  /** A span covering a streaming query's jobs: opened now, closed by
    * [[close]], and attributed through the query's run id.
    */
  def longSpan(name: String, group: String): Span = {
    val s = open(name, 0L); aliases.put(group, s.id); s
  }

  def close(s: Span): Unit = s.endNs = System.nanoTime()

  /** Adds `v` to count `key` of the innermost open span on this thread. */
  def count(key: String, v: Double): Unit =
    if (enabled) current.get.headOption.foreach { s =>
      s.counts.synchronized { s.counts(key) = s.counts.getOrElse(key, 0.0) + v }
    }

  def spanOfGroup(group: String): Option[Span] =
    if (group == null) None
    else if (group.startsWith("span-")) Option(byId.get(group.stripPrefix("span-").toLong))
    else Option(aliases.get(group)).flatMap(id => Option(byId.get(id)))

  /** Duration of `s` minus the part of it its children cover. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var upTo = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, upTo); val hi = math.min(b, s.endNs)
      if (hi > lo) { covered += hi - lo; upTo = hi }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Writes every span as one JSON line. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.id).foreach { s =>
      val fields = mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "self_ms" -> selfMs(s), "tasks" -> s.runtime.tasks,
        "cpu_ms" -> s.runtime.cpuMs, "shuffle_read_bytes" -> s.runtime.shuffleReadBytes)
      s.counts.foreach { case (k, v) => fields(k) = v }
      w.println(Json.obj(fields.toSeq))
    } finally w.close()
  }
}

/** Attributes task metrics to spans through the job group of the job
  * each stage belongs to.
  */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => tracer.spanOfGroup(p.getProperty("spark.jobGroup.id")))
      .foreach(s => e.stageIds.foreach(id => stageSpan.put(id, s)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val r = s.runtime
      r.synchronized {
        r.tasks += 1
        if (e.reason != org.apache.spark.Success) r.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          r.cpuMs += m.executorCpuTime / 1e6
          r.gcMs += m.jvmGCTime
          r.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          val (n, sum, mx) = r.stages.getOrElse(e.stageId, (0L, 0.0, 0.0))
          val t = m.executorRunTime.toDouble
          r.stages(e.stageId) = (n + 1, sum + t, math.max(mx, t))
        }
      }
    }
}
