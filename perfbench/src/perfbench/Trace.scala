package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are epoch microseconds so
  * driver-side spans and Spark's listener events share one clock. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startUs: Long, endUs: Long) {
  def seconds: Double = (endUs - startUs) / 1e6
}

/** Epoch-microsecond clock with nanoTime resolution. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Times every call into a graft layer. With tracing off it only returns the
  * call's wall time; with tracing on it also records a span per call, tags
  * each Spark job with the innermost open span (a local property, read back
  * from the job-start event), and attaches a [[JobListener]] to every
  * session's context. */
final class Tracer(val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var sc: SparkContext = null
  /** One listener per context, in attach order: job and stage ids restart
    * at 0 in every context, so each context's events are kept apart. */
  val listeners = mutable.ArrayBuffer.empty[JobListener]

  /** Attach to a new session's context; the previous one has stopped. */
  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) {
      val l = new JobListener(listeners.size)
      listeners += l
      context.addSparkListener(l)
    }
  }

  def current: Long = stack.headOption.getOrElse(0L)

  /** Run `body` inside a span; returns its result and wall seconds. */
  def span[T](kind: String, name: String)(body: => T): (T, Double) = {
    val id = nextId.getAndIncrement()
    val parent = current
    val t0 = Clock.nowUs
    if (enabled) {
      stack = id :: stack
      tag()
    }
    try {
      val r = body
      (r, (Clock.nowUs - t0) / 1e6)
    } finally {
      val t1 = Clock.nowUs
      if (enabled) {
        stack = stack.tail
        tag()
        spans += Span(id, parent, kind, name, t0, t1)
      }
    }
  }

  /** Jobs submitted from this thread carry the innermost open span. */
  private def tag(): Unit =
    if (sc != null && !sc.isStopped)
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)

  /** A call into one layer's public function. */
  def layer[T](name: String)(body: => T): (T, Double) = span("layer", name)(body)

  /** Wait until every listener event posted so far has been delivered. */
  def drain(): Unit = if (enabled && sc != null) org.apache.spark.PerfbenchBus.drain(sc)

  def allSpans: Seq[Span] = spans.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Per-stage task totals, summed from task-end events. */
final class StageTotals {
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var output = 0L
}

final case class JobRec(context: Int, jobId: Int, span: Long, description: String,
                        startMs: Long, stageIds: Seq[Int]) {
  var endMs: Long = -1L
  def isListing: Boolean =
    description != null && description.startsWith("Listing leaf files")
}

final case class StageRec(stageId: Int, attempt: Int, name: String,
                          submitMs: Long, endMs: Long, numTasks: Int)

/** Spark's own events of one context (the `context`-th attached), kept raw
  * and aggregated once the run has ended. Listener callbacks arrive on one
  * bus thread; reads happen after [[Tracer.drain]], so a lock on this
  * object is enough. */
final class JobListener(val context: Int) extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  /** Task totals by the job that owned the stage when the task ended, so a
    * stage that a later job skips is not counted twice. */
  private val totals = mutable.HashMap.empty[Int, StageTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val desc = props.flatMap(p =>
      Option(p.getProperty("spark.job.description"))).orNull
    jobs(e.jobId) = JobRec(context, e.jobId, span, desc, e.time, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageRec(i.stageId, i.attemptNumber(), i.name,
      i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
      i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals.getOrElseUpdate(stageJob.getOrElse(e.stageId, -1), new StageTotals)
    t.tasks += 1
    if (e.reason != org.apache.spark.Success) t.failedTasks += 1
    t.busyMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.diskBytesSpilled
      t.output += m.outputMetrics.bytesWritten
    }
  }

  def jobTotals(jobId: Int): StageTotals = synchronized {
    totals.getOrElse(jobId, new StageTotals)
  }
}
