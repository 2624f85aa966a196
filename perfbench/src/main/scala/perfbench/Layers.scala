package perfbench

/** The per-layer metric names the traced run reports, on every workload.
  * A layer a workload does not call reports zero: it did no work there. */
object Layers {
  val Spans = Seq(
    "impute.fitLayout", "impute.encode", "ml.fit", "ml.transform",
    "dedup.exact", "text.qualityScore", "dedup.candidatePairs",
    "dedup.confirmedPairs", "dedup.connectedComponents",
    "similarity.write", "text.write",
    "similarity.topK", "text.topK", "similarity.merge", "text.merge")

  val Counters = Seq("wall_ms", "outside_jobs_ms", "jobs", "tasks",
    "executor_cpu_ms", "shuffle_bytes", "failed_tasks")

  val Skewed = Seq("ml.transform", "dedup.candidatePairs",
    "dedup.confirmedPairs", "dedup.connectedComponents")

  val Names: Seq[String] =
    Spans.flatMap(s => Counters.map(c => s"$s.$c")) ++
    Skewed.map(s => s"$s.task_skew") ++
    Seq("dedup.candidate_yield", "similarity.topK.rows_read_per_result",
      "text.topK.rows_read_per_result",
      "trace.overhead_ms", "trace.unexplained_ms")

  /** Tracing overhead (median traced call minus median untraced call of
    * the same kind) and the part of a traced batch call that the spans of
    * its blocking steps do not explain. Both are printed with their inputs. */
  def traceSummary(ctx: Ctx, traced: Seq[Double], untraced: Seq[Double],
                   unexplainedMs: Double): Map[String, Double] = {
    if (traced.isEmpty || untraced.isEmpty) return Map.empty
    val t = Stats.median(traced)
    val u = Stats.median(untraced)
    ctx.report("traced_call_p50_ms", t, "ms")
    ctx.report("untraced_call_p50_ms", u, "ms")
    ctx.report("unexplained_ms", unexplainedMs, "ms")
    Map("trace.overhead_ms" -> (t - u), "trace.unexplained_ms" -> unexplainedMs)
  }

  def unit(name: String): String = name.split('.').last match {
    case n if n.endsWith("_ms") => "ms"
    case "shuffle_bytes" => "bytes"
    case "jobs" | "tasks" | "failed_tasks" => "count"
    case _ => "ratio"
  }

  /** Every per-layer metric, zero where the workload did not reach it. */
  def complete(measured: Map[String, Double]): Seq[(String, Double)] =
    Names.map(n => n -> measured.getOrElse(n, 0.0))
}
