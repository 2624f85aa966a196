package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.{Graft, GraftConf}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One run = one workload, one seed, one time
  * budget, traced or not:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cores C --work-dir DIR [--trace-out FILE]
  *
  * It prints a report, then as its last stdout line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
  * untraced, the per-layer metrics traced). Load is one client thread in a
  * closed loop: each call waits for the previous one to return.
  */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "impute_rbm" -> ImputeRbm.run,
    "curate_serve" -> CurateServe.run)

  def main(argv: Array[String]): Unit = {
    // exit explicitly: a failed run must not wait on Spark's threads
    val code = try { runMain(argv); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    System.exit(code)
  }

  private def runMain(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val traced = arg("trace") == "1"
    val cores = arg("cores").toInt
    val dir = Paths.get(arg("work-dir")).toAbsolutePath
    Files.createDirectories(dir)

    val t0 = System.nanoTime()
    val spark = session(cores, dir)
    val ctx = new Ctx(spark, seed, seconds, new Tracer(spark, traced), dir)
    println(s"perfbench $workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} " +
      s"local[$cores]")
    ctx.report("session_start_s", (System.nanoTime() - t0) / 1e9, "s")
    val outcome = run(ctx)
    args.get("trace-out").foreach(f => writeSpans(ctx, Paths.get(f)))
    spark.stop()

    ctx.report("attempted", ctx.attempted.toDouble, "count")
    ctx.report("failed", ctx.failed.toDouble, "count")
    ctx.report("failed_frac", ctx.failed.toDouble / math.max(ctx.attempted, 1L), "ratio")
    val metrics: Seq[(String, Double, String)] =
      if (traced) Layers.complete(outcome.layers).map { case (n, v) => (n, v, Layers.unit(n)) }
      else outcome.endToEnd.metrics
    println("end-to-end:")
    outcome.endToEnd.metrics.foreach { case (n, v, u) => ctx.report(n, v, u) }
    val correct = ctx.failed == 0 && ctx.attempted > 0 &&
      metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
    val body = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$body}}""")
  }

  /** The documented session: `Graft.builder()` with
    * `GraftConf.recommended(cores)` on `local[cores]`. Scratch state stays
    * under the run's own directory. */
  private def session(cores: Int, dir: Path): SparkSession = {
    val b = Graft.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
    GraftConf.recommended(cores).foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Writes the spans kept in memory, one JSON object per line. */
  private def writeSpans(ctx: Ctx, file: Path): Unit = {
    val lines = ctx.tracer.counters().map { case (s, c) =>
      s"""{"layer": ${Json.str(s.layer)}, "key": ${Json.str(s.key)}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "wall_ms": ${Json.num(c.wallMs)}, """ +
        s""""outside_jobs_ms": ${Json.num(c.outsideJobsMs)}, "jobs": ${c.jobs}, """ +
        s""""tasks": ${c.tasks}, "executor_cpu_ms": ${Json.num(c.executorCpuMs)}, """ +
        s""""shuffle_bytes": ${c.shuffleBytes}, "failed_tasks": ${c.failedTasks}, """ +
        s""""task_skew": ${Json.num(c.taskSkew)}, "records_read": ${c.recordsRead}}"""
    }
    Option(file.getParent).foreach(Files.createDirectories(_))
    Files.write(file, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
