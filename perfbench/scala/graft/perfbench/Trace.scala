package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One call into a layer, timed from outside. Times are epoch milliseconds
  * with sub-millisecond digits, on the clock Spark stamps its events with. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Spans around the benchmark's calls into the program, kept in memory and
  * written out when the run ends. The benchmark makes one call at a time from
  * one thread, so the innermost open span owns everything that happens
  * while it is open, and a stack gives each span its parent. With tracing
  * off, `apply` only runs the body. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = nowMs
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, name, t0, nowMs)
      }
    }

  def spans: Seq[Span] = done.toSeq
  def named(name: String): Seq[Span] = done.filter(_.name == name).sortBy(_.startMs).toSeq

  /** One JSON object per span. With a listener, each span also carries the
    * Spark work attributed to it as the innermost open span: the work inside
    * its window minus the work inside its children's windows. */
  def toJsonLines(counters: Option[SparkCounters]): Seq[String] = {
    val children = done.groupBy(_.parent)
    done.sortBy(_.id).map { s =>
      val own = counters.map { c =>
        val w = children.getOrElse(s.id, Nil).map(c.in).foldLeft(c.in(s))(_ - _)
        Seq("jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks, "task_s" -> w.taskS,
          "cpu_s" -> w.cpuS, "shuffle_read_bytes" -> w.shuffleReadBytes,
          "shuffle_write_bytes" -> w.shuffleWriteBytes, "spill_bytes" -> w.spillBytes,
          "busy_s" -> w.busyS)
      }.getOrElse(Nil)
      Json.obj(Seq("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ own)
    }.toSeq
  }
}

/** Spark work inside a time window. Task time is executor run time; busy
  * time is the part of the window in which at least one task was running. */
final case class Work(jobs: Long, stages: Long, tasks: Long, taskS: Double, cpuS: Double,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long, busyS: Double) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskS + o.taskS, cpuS + o.cpuS, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes, busyS + o.busyS)
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskS - o.taskS, cpuS - o.cpuS, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes, busyS - o.busyS)
  def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
}

object Work {
  val zero: Work = Work(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Benchmark-owned listener: jobs, completed stages and finished tasks with
  * their run/CPU time, shuffle bytes and spill. Each is attributed later to
  * the span whose window holds its start (job submission, stage submission,
  * task launch). */
final class SparkCounters extends SparkListener {
  private final case class Task(launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)

  private val jobStarts = new ConcurrentLinkedQueue[Long]()
  private val stageStarts = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageStarts.add(e.stageInfo.submissionTime.getOrElse(0L))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** The work that started inside the span's window. */
  def in(s: Span): Work = {
    val (fromMs, toMs) = (s.startMs, s.endMs)
    def inside(t: Long) = t >= fromMs && t <= toMs
    val ts = tasks.asScala.filter(t => inside(t.launchMs)).toSeq
    // union of task intervals clipped to the window
    var busy = 0.0
    var reach = fromMs
    ts.map(t => (math.max(t.launchMs.toDouble, fromMs), math.min(t.finishMs.toDouble, toMs)))
      .sortBy(_._1).foreach { case (a, b) =>
        val lo = math.max(a, reach)
        if (b > lo) { busy += b - lo; reach = b }
      }
    Work(jobStarts.asScala.count(inside).toLong, stageStarts.asScala.count(inside).toLong,
      ts.size.toLong, ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.shuffleRead).sum, ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum, busy / 1e3)
  }
}
