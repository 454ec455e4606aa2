package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative engine counters at one instant; differences of two snapshots
  * give the work done between two span boundaries. */
case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, gcMs: Long = 0, shuffleB: Long = 0, spillB: Long = 0,
    writeB: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs, shuffleB - o.shuffleB,
    spillB - o.spillB, writeB - o.writeB)
}

/** Spark listener that counts jobs, stages, tasks and task metrics, keeps
  * job intervals (for the time no job was running) and each completed
  * stage's max/median task-time ratio. Attached only during traced passes. */
class Probe(sc: SparkContext) extends SparkListener {
  private var c = Counters()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val jobSpans = ArrayBuffer[(Long, Long)]()
  private val stageTaskMs = scala.collection.mutable.Map[(Int, Int), ArrayBuffer[Long]]()
  private val skews = ArrayBuffer[(Long, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      c = c.copy(tasks = c.tasks + 1, taskMs = c.taskMs + m.executorRunTime,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleB = c.shuffleB + m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten,
        spillB = c.spillB + m.memoryBytesSpilled + m.diskBytesSpilled,
        writeB = c.writeB + m.outputMetrics.bytesWritten)
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer()) +=
        m.executorRunTime
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
    val info = e.stageInfo
    stageTaskMs.remove((info.stageId, info.attemptNumber())).foreach { ts =>
      if (ts.size >= 2) {
        val s = ts.sorted
        val med = math.max(s((s.size - 1) / 2), 1L)
        skews += ((info.completionTime.getOrElse(System.currentTimeMillis()),
          s.last.toDouble / med))
      }
    }
  }

  /** Current counters, after every event posted so far was delivered. */
  def snap(): Counters = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(c)
  }

  /** Milliseconds of [t0, t1] (epoch ms) during which at least one job ran. */
  def busyMs(t0: Long, t1: Long): Long = synchronized {
    val iv = jobSpans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }

  /** Worst max/median task-time ratio among stages completed in [t0, t1]. */
  def worstSkew(t0: Long, t1: Long): Double = synchronized {
    val in = skews.collect { case (t, r) if t >= t0 && t <= t1 => r }
    if (in.isEmpty) 1.0 else in.max
  }
}

/** One traced interval. Times are nanoseconds since the run started. */
case class Span(id: Int, parent: Int, name: String, op: String, start: Long,
    end: Long)

/** In-memory span recorder for the single driver thread; written out as
  * JSONL when the run ends. Disabled recorders cost one branch per span. */
class Trace(t0: Long) {
  var enabled = false
  val spans = ArrayBuffer[Span]()
  private var stack = List(-1)

  def apply[T](name: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val start = System.nanoTime() - t0
      spans += Span(id, stack.head, name, op, start, start)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime() - t0)
      }
    }

  /** Self time per span name: duration minus the time its children cover. */
  def selfSeconds: Map[String, Double] = {
    val childNs = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start - childNs(s.id)).sum / 1e9
    }
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""op":"${s.op}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}
