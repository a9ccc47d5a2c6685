package perfbench

import graft.sink.AppendSink
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * (fractional), on the same clock as Spark's job submission times, so a
  * job can be attributed to the span it started in. */
final case class Span(id: Int, parent: Int, name: String, label: String,
    tick: Int, start: Double, end: Double, ok: Boolean)

/** In-memory span recorder. Spans nest per thread; a span opened on a
  * thread with no open span (for example an append submitted from a pool
  * thread) is parented to the current root span instead. */
final class SpanRecorder {
  private val anchorNano = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  private var nextId = 0
  @volatile var tick: Int = 0
  @volatile var root: Int = -1

  def now(): Double = anchorMs + (System.nanoTime() - anchorNano) / 1e6

  def span[T](name: String, label: String = "")(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = open.get.headOption.getOrElse(root)
    val t = tick
    open.set(id :: open.get)
    val start = now()
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val end = now()
      open.set(open.get.tail)
      synchronized { spans += Span(id, parent, name, label, t, start, end, ok) }
    }
  }

  /** Like [[span]] but also makes the span the root of spans opened on
    * other threads while it runs. */
  def rootSpan[T](name: String)(body: => T): T = span(name) {
    val saved = root
    root = open.get.head
    try body finally root = saved
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Times every append and ensure of the wrapped sink. */
final class TimingSink(inner: AppendSink, rec: SpanRecorder) extends AppendSink {
  override def append(df: DataFrame, db: String, table: String): Unit =
    append(df, db, table, 0L)
  override def append(df: DataFrame, db: String, table: String, batchId: Long): Unit =
    rec.span("append", s"$db.$table")(inner.append(df, db, table, batchId))
  override def ensure(db: String, table: String, ddl: String): Unit =
    rec.span("ensure", s"$db.$table")(inner.ensure(db, table, ddl))
}

/** Per-job counters: submission and completion time, and the sums of its
  * tasks' metrics. */
final class JobRecord(val id: Int, val start: Long) {
  var end: Long = -1L
  var ok: Boolean = false
  var tasks: Int = 0
  var taskMs: Long = 0L
  var inputBytes: Long = 0L
  var outputBytes: Long = 0L
  var shuffleWriteBytes: Long = 0L
}

/** Listener that keeps one [[JobRecord]] per job. Attach it only for the
  * traced part of a run. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRecord(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def all: Seq[JobRecord] = synchronized(jobs.values.toList)
}
