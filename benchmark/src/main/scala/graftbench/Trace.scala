package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed interval. Times are `System.nanoTime` values; intervals
  * reported by Spark in wall-clock milliseconds are mapped onto the same
  * clock by [[Clock]]. `parent` is the id of the span that caused it
  * (0 for a root).
  */
case class Span(id: Long, parent: Long, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Maps Spark's wall-clock millisecond timestamps onto `nanoTime`. */
object Clock {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  def fromWallMs(ms: Long): Long = nano0 + (ms - wall0) * 1000000L
}

/** Spans kept in memory for the whole run and written out when it ends. */
final class SpanStore {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L

  def add(parent: Long, name: String, start: Long, end: Long): Span = synchronized {
    val s = Span(nextId, parent, name, start, end)
    nextId += 1
    spans += s
    s
  }

  /** Runs `body` inside a span named `name` under `parent`. */
  def time[T](parent: Long, name: String)(body: Span => T): (T, Span) = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val t0 = System.nanoTime()
    val out = body(Span(id, parent, name, t0, t0))
    val s = Span(id, parent, name, t0, System.nanoTime())
    synchronized { spans += s }
    (out, s)
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def writeJsonLines(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"$name",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

/** Per-task numbers the listener keeps. */
case class TaskRec(stageId: Int, launch: Long, finish: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
    fetchWaitMs: Long, diskSpill: Long)

case class StageRec(stageId: Int, name: String, submit: Long, complete: Long)

case class JobRec(jobId: Int, name: String, start: Long, end: Long)

/** Collects jobs, stages and tasks from Spark's listener bus. Peak
  * execution memory is always kept (it is an end-to-end metric); the
  * full per-task record only while `full` is set, in the traced run.
  */
final class BenchListener extends SparkListener {
  @volatile var full = false
  private var peakMem = 0L
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (String, Long)]

  def reset(): Unit = synchronized {
    peakMem = 0L; tasks.clear(); stages.clear(); jobs.clear(); jobStarts.clear()
  }

  def peakExecMem: Long = synchronized(peakMem)
  def taskRecs: Seq[TaskRec] = synchronized(tasks.toList)
  def stageRecs: Seq[StageRec] = synchronized(stages.toList)
  def jobRecs: Seq[JobRec] = synchronized(jobs.toList)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    synchronized {
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      if (full) tasks += TaskRec(e.stageId,
        Clock.fromWallMs(e.taskInfo.launchTime), Clock.fromWallMs(e.taskInfo.finishTime),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (full) {
    val i = e.stageInfo
    synchronized {
      stages += StageRec(i.stageId, i.name,
        Clock.fromWallMs(i.submissionTime.getOrElse(0L)),
        Clock.fromWallMs(i.completionTime.getOrElse(0L)))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) {
    // the result stage (highest id) is named after the call site,
    // e.g. "count at Dedup.scala:585"
    val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    synchronized { jobStarts(e.jobId) = (name, Clock.fromWallMs(e.time)) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full) synchronized {
    jobStarts.remove(e.jobId).foreach { case (name, t0) =>
      jobs += JobRec(e.jobId, name, t0, Clock.fromWallMs(e.time))
    }
  }
}
