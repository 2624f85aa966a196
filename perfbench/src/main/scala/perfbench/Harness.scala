package perfbench

import java.nio.file.Path

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private val Ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile (nearest rank) with at least ten samples above
    * it, as (percentile, value, sample count). With ten samples or fewer
    * no percentile qualifies, and the maximum is reported as percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    Ladder.iterator.map { p =>
      val v = s(math.max(0, math.ceil(p / 100 * n).toInt - 1))
      (p, v, s.count(_ > v))
    }.collectFirst { case (p, v, beyond) if beyond >= 10 => (p, v, n) }
      .getOrElse((100.0, s.last, n))
  }
}

/** The end-to-end metrics every workload reports. Their meaning per
  * workload is written next to each workload's `run`. */
final case class EndToEnd(setupS: Double, workPerS: Double, callP50Ms: Double,
                          callTailMs: Double, truthRecall: Double,
                          truthScore: Double) {
  def metrics: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("work_per_s", workPerS, "1/s"),
    ("call_p50_ms", callP50Ms, "ms"),
    ("call_tail_ms", callTailMs, "ms"),
    ("truth_recall", truthRecall, "ratio"),
    ("truth_score", truthScore, "ratio"))
}

final case class Outcome(endToEnd: EndToEnd, layers: Map[String, Double])

/** What one run shares across its workload: the session, the seed, the
  * time budget, the tracer, a private scratch directory, and the tally of
  * attempted and failed calls and checks. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val tracer: Tracer, val dir: Path) {
  var attempted = 0L
  var failed = 0L

  def traced: Boolean = tracer.enabled

  private val born = System.nanoTime()

  def say(line: String): Unit = println(line)

  /** Marks a phase boundary with the time since the run started. */
  def phase(name: String): Unit =
    say(f"[${(System.nanoTime() - born) / 1e9}%7.1f s] $name")

  def report(name: String, value: Double, unit: String): Unit =
    say(f"  $name%-34s ${Json.num(value)}%s $unit%s")

  def path(name: String): String = dir.resolve(name).toString

  /** Runs one call of the program; a throw counts as a failed call. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"FAILED call $what: $e")
        e.printStackTrace()
        None
    }
  }

  /** Runs one output check; false or a throw counts as a failure. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case NonFatal(e) => System.err.println(s"check $what threw: $e"); false
    }
    if (!passed) {
      failed += 1
      System.err.println(s"FAILED check: $what")
    }
  }

  /** (result, elapsed ms) of `body`. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Runs the set-up `reps` times and returns the median in seconds. Each
    * repetition builds its inputs afresh under its own names. */
  def setupMedian(reps: Int)(one: Int => Unit): Double = {
    phase("set-up")
    val secs = (1 to reps).map { r =>
      val (_, ms) = timed(one(r))
      say(f"  set-up repetition $r%d: ${ms / 1000}%.3f s")
      ms / 1000
    }
    Stats.median(secs)
  }

  /** Calls `step` in whole cycles of `cycle` calls until the run's time
    * budget is spent, so the mix of calls does not depend on timing: at
    * least one cycle, at most `maxCycles`. Returns the number of calls. */
  def loop(cycle: Int = 1, maxCycles: Int = Int.MaxValue)(step: Int => Unit): Int = {
    phase("timed loop")
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (i == 0 || i % cycle != 0 ||
        (System.nanoTime() < deadline && i / cycle < maxCycles)) {
      step(i); i += 1
    }
    i
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Per-layer values: the median over a layer's spans of each counter,
    * keyed `<layer>.<counter>`. */
  def layerMedians(): Map[String, Double] = {
    val bySpan = tracer.counters().groupBy(_._1.layer)
    bySpan.flatMap { case (layer, cs) =>
      def med(f: SpanCounters => Double) = Stats.median(cs.map(c => f(c._2)))
      Seq(
        s"$layer.wall_ms" -> med(_.wallMs),
        s"$layer.outside_jobs_ms" -> med(_.outsideJobsMs),
        s"$layer.jobs" -> med(_.jobs.toDouble),
        s"$layer.tasks" -> med(_.tasks.toDouble),
        s"$layer.executor_cpu_ms" -> med(_.executorCpuMs),
        s"$layer.shuffle_bytes" -> med(_.shuffleBytes.toDouble),
        s"$layer.failed_tasks" -> med(_.failedTasks.toDouble),
        s"$layer.task_skew" -> med(_.taskSkew),
        s"$layer.records_read" -> med(_.recordsRead.toDouble))
    }
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
