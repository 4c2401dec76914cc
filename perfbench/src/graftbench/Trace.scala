package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One call into a layer: name, parent span, and its interval both in
  * nanos (durations) and in epoch millis (to line up with Spark events).
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span. */
final case class SparkWork(jobs: Long = 0, tasks: Long = 0, runMs: Long = 0, waitMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, output: Long = 0) {
  def +(o: SparkWork): SparkWork = SparkWork(jobs + o.jobs, tasks + o.tasks, runMs + o.runMs,
    waitMs + o.waitMs, shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead, output + o.output)
}

/** Spans kept in memory, single client thread. With `on = false` a span is
  * just the call.
  */
final class Tracer(var on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0

  def apply[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1, ms0, System.currentTimeMillis())
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Span time minus the time its child spans cover, per span id. */
  def selfNs: Map[Int, Long] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.map(s => s.id -> ((s.endNs - s.startNs) - child.getOrElse(s.id, 0L))).toMap
  }
}

/** Records Spark jobs and tasks from outside the engine. Task wait is
  * launch time minus its stage's submission time. Attribution to spans is
  * by time window, which is exact with one client thread.
  */
final class WorkListener extends SparkListener {
  private final case class Task(launchMs: Long, runMs: Long, waitMs: Long,
      shW: Long, shR: Long, out: Long)
  private val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Long]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmit.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t))

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    val submitted = Option(stageSubmit.get((e.stageId, e.stageAttemptId))).map(_.longValue)
      .getOrElse(info.launchTime)
    tasks.add(if (m == null) Task(info.launchTime, 0, info.launchTime - submitted, 0, 0, 0)
      else Task(info.launchTime, m.executorRunTime, info.launchTime - submitted,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.outputMetrics.bytesWritten))
  }

  /** Work per span id, each event given to the innermost span whose window
    * holds it (jobs by start time, tasks by launch time).
    */
  def attribute(spans: Seq[Span]): Map[Int, SparkWork] = {
    val sorted = spans.sortBy(s => (s.startMs, -s.endMs)).toArray
    def owner(t: Long): Option[Int] = {
      var best: Span = null
      var i = 0
      while (i < sorted.length && sorted(i).startMs <= t) {
        val s = sorted(i)
        if (t <= s.endMs && (best == null || s.startNs >= best.startNs)) best = s
        i += 1
      }
      Option(best).map(_.id)
    }
    val acc = scala.collection.mutable.Map.empty[Int, SparkWork].withDefaultValue(SparkWork())
    jobStarts.asScala.foreach(t => owner(t).foreach(id => acc(id) = acc(id) + SparkWork(jobs = 1)))
    tasks.asScala.foreach { t =>
      owner(t.launchMs).foreach(id => acc(id) = acc(id) +
        SparkWork(tasks = 1, runMs = t.runMs, waitMs = t.waitMs, shuffleWrite = t.shW,
          shuffleRead = t.shR, output = t.out))
    }
    acc.toMap
  }
}

object Jvm {
  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set size (VmHWM) in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
