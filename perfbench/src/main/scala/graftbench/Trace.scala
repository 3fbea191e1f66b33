package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Wall clock in epoch milliseconds with nanosecond resolution. Epoch-based so
  * that it lines up with the timestamps Spark puts in streaming progress and
  * listener events. */
object Clock {
  private val baseEpochMs = System.currentTimeMillis()
  private val baseNanos = System.nanoTime()
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  def sleepUntil(epochMs: Double): Unit = {
    var left = epochMs - nowMs
    while (left > 0) {
      if (left > 2) Thread.sleep(math.max(1L, (left - 1).toLong))
      else Thread.onSpinWait()
      left = epochMs - nowMs
    }
  }
}

/** One timed interval of the run. `parent` is the id of the enclosing span,
  * 0 for a root, or -1 when the enclosing span is found later by interval
  * containment (spans reported by Spark from other threads: jobs, micro-batch
  * phases, the sink). */
final case class Span(id: Int, parent: Int, name: String, layer: String, start: Double, end: Double)

/** In-memory span recorder, written out when the run ends. When `on` is false
  * every call is a plain pass-through, so untraced runs pay nothing. */
final class Tracer(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  private def newId(): Int = synchronized { nextId += 1; nextId }

  def span[T](name: String, layer: String)(f: => T): T =
    if (!on) f
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = Clock.nowMs
      try f
      finally {
        val t1 = Clock.nowMs
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, parent, name, layer, t0, t1) }
      }
    }

  /** Record an interval measured elsewhere; its parent is found by containment. */
  def add(name: String, layer: String, start: Double, end: Double): Unit =
    if (on) { val id = newId(); synchronized { spans += Span(id, -1, name, layer, start, end) } }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Task, stage and job events of the Spark scheduler, kept per event so that
  * any time window of the run can be summed afterwards. */
final class ExecListener extends SparkListener {
  import ExecListener.Task
  private val tasks = ArrayBuffer.empty[Task]
  private val stageEnds = ArrayBuffer.empty[Long]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStarts(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += ((jobStarts.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageEnds += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    val t =
      if (m == null) Task(i.finishTime, e.stageId, failed = true, 0, 0, 0, 0, 0, 0, 0)
      else Task(i.finishTime, e.stageId, e.reason != Success, m.executorCpuTime, m.executorRunTime,
        math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime),
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.recordsRead)
    synchronized { tasks += t }
  }

  /** Job intervals (epoch ms) that ended inside the window. */
  def jobsIn(from: Double, to: Double): Seq[(Long, Long)] =
    synchronized(jobs.filter { case (_, e) => e >= from && e <= to }.toList)

  /** Sums over the jobs, stages and tasks that ended inside the window. */
  def summary(from: Double, to: Double): Map[String, Double] = synchronized {
    val ts = tasks.filter(t => t.end >= from && t.end <= to)
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { g =>
      val runs = g.map(_.runMs.toDouble).sorted
      val med = runs(runs.size / 2)
      if (med > 0) runs.last / med else 1.0
    }.toSeq.sorted
    Map(
      "jobs" -> jobsIn(from, to).size.toDouble,
      "stages" -> stageEnds.count(e => e >= from && e <= to).toDouble,
      "tasks" -> ts.size.toDouble,
      "failed_tasks" -> ts.count(_.failed).toDouble,
      "task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "task_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "sched_delay_ms" -> ts.map(_.schedMs).sum.toDouble,
      "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "records_read" -> ts.map(_.records).sum.toDouble,
      "task_skew" -> (if (skews.isEmpty) 1.0 else skews(skews.size / 2)))
  }
}

object ExecListener {
  private final case class Task(end: Long, stage: Int, failed: Boolean, cpuNs: Long, runMs: Long,
      schedMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, records: Long)
}

/** Process-level readings: garbage-collection time and peak resident memory. */
object Jvm {
  def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
  }

  /** Peak resident set size (VmHWM) in MiB, or -1 where /proc is absent. */
  def rssPeakMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: java.io.IOException => -1.0 }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Span =>
      render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start" -> s.start, "end" -> s.end))
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
