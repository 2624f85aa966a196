package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. `layer` is `<module>.<call>`; `key` is the
  * value of the span property while the call ran. Times are driver wall
  * clock in milliseconds; `wallMs` comes from the monotonic clock. */
final case class Span(layer: String, key: String, startMs: Long, endMs: Long,
                      wallMs: Double)

/** Counters of one span, derived from the Spark events it caused. */
final case class SpanCounters(wallMs: Double, outsideJobsMs: Double, jobs: Int,
                              tasks: Int, executorCpuMs: Double,
                              shuffleBytes: Long, failedTasks: Int,
                              taskSkew: Double, recordsRead: Long)

/** Stores job and task events and attributes them to spans through a local
  * property, which Spark copies into every job started while it is set.
  * The handlers only append; all arithmetic happens after the run. */
final class SpanListener extends SparkListener {
  final case class Job(span: String, start: Long, var end: Long)
  final case class Task(stage: Int, durationMs: Long, cpuNs: Long,
                        shuffleBytes: Long, recordsRead: Long, failed: Boolean)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stageSpan = new ConcurrentHashMap[Int, String]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.Property))).getOrElse("")
    jobs.put(e.jobId, Job(span, e.time, e.time))
    e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    tasks.add(Task(
      e.stageId,
      e.taskInfo.duration,
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.inputMetrics.recordsRead).getOrElse(0L),
      !e.taskInfo.successful))
  }
}

/** Span recorder for the traced run. Spans are kept in memory and written
  * out when the run ends. With `enabled = false` it only runs the body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val listener = new SpanListener
  private val spans = ArrayBuffer.empty[Span]
  private var attached = enabled
  if (enabled) sc.addSparkListener(listener)

  def span[T](layer: String)(body: => T): T =
    if (!attached) body
    else {
      val key = s"$layer#${spans.size + 1}"
      sc.setLocalProperty(Tracer.Property, key)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e6
        sc.setLocalProperty(Tracer.Property, null)
        spans += Span(layer, key, startMs, System.currentTimeMillis(), wall)
      }
    }

  /** The number of spans recorded so far. */
  def mark: Int = spans.size

  /** Summed wall time of the spans recorded since `mark`. */
  def spanMsSince(mark: Int): Double = spans.iterator.drop(mark).map(_.wallMs).sum

  /** Runs `body` with the listener detached and no spans recorded: the
    * untraced half of the tracing-overhead measurement. */
  def detached[T](body: => T): T =
    if (!attached) body
    else {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      attached = false
      try body
      finally { sc.addSparkListener(listener); attached = true }
    }

  /** Counters per recorded span; waits for the listener bus first. */
  def counters(): Seq[(Span, SpanCounters)] = {
    if (!enabled) return Seq.empty
    PerfbenchBus.drain(sc)
    val jobsBySpan = listener.jobs.values.asScala.toSeq.groupBy(_.span)
    val tasksBySpan = listener.tasks.asScala.toSeq
      .groupBy(t => Option(listener.stageSpan.get(t.stage)).getOrElse(""))
    spans.toSeq.map { s =>
      val js = jobsBySpan.getOrElse(s.key, Seq.empty)
      val ts = tasksBySpan.getOrElse(s.key, Seq.empty)
      val inJobs = Tracer.coveredMs(
        js.map(j => (math.max(j.start, s.startMs), math.min(j.end, s.endMs))))
      val skew =
        if (ts.isEmpty) 0.0
        else {
          val largest = ts.groupBy(_.stage).values.maxBy(_.map(_.durationMs).sum)
          val d = largest.map(_.durationMs.toDouble).sorted
          d.last / math.max(Stats.median(d), 1.0)
        }
      s -> SpanCounters(
        wallMs = s.wallMs,
        outsideJobsMs = math.max(0.0, s.wallMs - inJobs),
        jobs = js.size,
        tasks = ts.size,
        executorCpuMs = ts.map(_.cpuNs).sum / 1e6,
        shuffleBytes = ts.map(_.shuffleBytes).sum,
        failedTasks = ts.count(_.failed),
        taskSkew = skew,
        recordsRead = ts.map(_.recordsRead).sum)
    }
  }
}

object Tracer {
  val Property = "perfbench.span"

  /** Length of the union of [start, end] intervals, in ms. */
  def coveredMs(intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = Long.MinValue
    for ((a, b) <- intervals.filter { case (a, b) => b > a }.sortBy(_._1)) {
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    covered.toDouble
  }
}
