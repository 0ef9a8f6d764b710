package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task and job counters of one job group (one span, or one prefix). */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; spill += o.spill
    this
  }

  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_s" -> taskMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWrite / 1048576.0,
    "spill_mb" -> spill / 1048576.0)
}

/** Attributes every job, stage and task to the job group that was set on
  * the thread that submitted it, so a span's counters are the work its
  * call caused. Also keeps each job's wall interval, from which the time
  * the Spark driver ran no job is derived.
  */
final class GroupListener extends SparkListener {
  private val groups = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long, String)]

  private def of(g: String) = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (e.time, g)
    val c = of(g)
    c.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, g) => intervals += ((t0, e.time, g)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach { g =>
        val c = of(g)
        c.stages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
    }
  }

  /** Summed counters of every group whose name starts with `prefix`. */
  def counters(prefix: String): Counters = synchronized {
    groups.collect { case (g, c) if g.startsWith(prefix) => c }
      .foldLeft(new Counters)(_ add _)
  }

  /** Wall milliseconds inside [from, to] covered by at least one job of a
    * group starting with `prefix`.
    */
  def busyMs(prefix: String, from: Long, to: Long): Long = synchronized {
    val iv = intervals.collect { case (a, b, g) if g.startsWith(prefix) =>
      (math.max(a, from), math.min(b, to)) }.filter { case (a, b) => b > a }
      .sortBy(_._1)
    var busy = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }

  def snapshot: Map[String, Any] = synchronized {
    groups.toSeq.sortBy(_._1).map { case (g, c) => g -> c.toMap }.toMap
  }
}

final case class Span(id: Int, name: String, parent: Int, runId: String,
    startMs: Double, endMs: Double, build: Boolean) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** In-memory spans around each public call the benchmark makes. While a
  * span is open its name (prefixed with the run id) is the job group, so
  * the listener attributes the span's jobs to it. Outside a traced run a
  * span is the bare call.
  */
final class Tracer(sc: SparkContext) {
  private var enabled = false
  private var runId = ""
  private val origin = System.nanoTime
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  private def nowMs = (System.nanoTime - origin) / 1e6

  def beginRun(id: String): Unit = {
    runId = id
    enabled = true
    sc.setJobGroup(id, id)
  }

  def endRun(): Unit = {
    enabled = false
    sc.clearJobGroup()
  }

  /** `build` marks an eager call: work done while the frame is built. */
  def span[T](name: String, build: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val group = s"$runId/$name"
      stack = (id, group) :: stack
      sc.setJobGroup(group, name)
      val t0 = nowMs
      try body
      finally {
        done += Span(id, name, parent, runId, t0, nowMs, build)
        stack = stack.tail
        sc.setJobGroup(stack.headOption.map(_._2).getOrElse(runId), runId)
      }
    }

  def spans(run: String): Seq[Span] = done.filter(_.runId == run).toSeq
  def all: Seq[Span] = done.toSeq
}
