package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, computed from its spans.
  *
  * Layer spans carry the module name of the call they wrap (`ingest.*`,
  * `functions.*`, `catalog.*`, `operators.*`, `sources.*`); `spark.*`
  * metrics are per-op means over the top-level op spans. A layer that a
  * workload never calls reports 0.
  */
object Layers {
  private def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Main.median(xs)
  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  private def isOp(s: Span): Boolean = s.parent < 0 && s.name.startsWith("op.")

  private def pct(xs: Seq[Long], p: Double): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt)).toDouble

  def metrics(spans: Seq[Span], facts: Map[Int, SparkFacts])
      : mutable.LinkedHashMap[String, Map[String, Any]] = {
    def named(n: String) = spans.filter(_.name == n)
    def walls(n: String) = named(n).map(_.wallS)
    def counter(n: String, k: String) = named(n).map(_.counters.getOrElse(k, 0.0))
    val out = mutable.LinkedHashMap[String, Map[String, Any]]()
    def put(name: String, v: Double, unit: String): Unit =
      out(name) = Map("value" -> v, "unit" -> unit)

    put("ingest.batch_s", p50(walls("ingest.batch")), "s")
    put("ingest.rows_written", mean(counter("ingest.batch", "rows_written")), "count")
    put("ingest.refresh_s", p50(walls("ingest.refresh")), "s")
    put("ingest.refresh_rows", mean(counter("ingest.refresh", "refresh_rows")), "count")
    put("ingest.empty_batch_s", p50(walls("ingest.empty_batch")), "s")
    put("ingest.corpus_batch_s", p50(walls("ingest.corpus_batch")), "s")
    put("ingest.corpus_docs_in", mean(counter("ingest.corpus_batch", "docs_in")), "count")
    put("ingest.corpus_keep_ratio", ratio(
      counter("ingest.corpus_batch", "appended").sum,
      counter("ingest.corpus_batch", "docs_in").sum), "ratio")
    put("functions.clean_s", p50(walls("functions.clean")), "s")
    put("functions.clean_rows_per_s", ratio(counter("functions.clean", "rows").sum,
      walls("functions.clean").sum), "rows/s")
    put("catalog.build_s", p50(walls("catalog.build")), "s")
    put("catalog.exec_s", p50(walls("catalog.exec")), "s")
    put("catalog.eager_jobs", mean(named("catalog.build")
      .map(s => facts.get(s.id).map(_.jobs.toDouble).getOrElse(0.0))), "count")
    CatalogRound.Names.foreach(q =>
      put(s"catalog.${q}_p50_s", p50(walls(s"op.read.$q")), "s"))
    put("operators.ann_serve_s", p50(walls("operators.ann_serve")), "s")
    put("operators.takedown_s", p50(walls("operators.takedown")), "s")
    put("sources.bm25_serve_s", p50(walls("sources.bm25_serve")), "s")
    put("sources.compact_s", p50(walls("sources.compact")), "s")
    put("sources.compact_bytes_rewritten",
      mean(counter("sources.compact", "bytes_rewritten")), "B")
    put("sources.index_files", mean(counter("sources.bm25_serve", "index_files")), "count")
    val present = counter("sources.bm25_serve", "index_files").sum
    put("sources.files_pruned_ratio", if (present > 0)
      1.0 - counter("sources.bm25_serve", "files_read").sum / present
      else 0.0, "ratio")

    val ops = spans.filter(isOp).flatMap(s => facts.get(s.id).map(s -> _))
    def perOp(f: SparkFacts => Double) = mean(ops.map { case (_, x) => f(x) })
    val taskMs = ops.flatMap(_._2.taskMs)
    put("spark.plan_ms", perOp(_.planS * 1000), "ms")
    put("spark.jobs", perOp(_.jobs), "count")
    put("spark.stages", perOp(_.stages), "count")
    put("spark.tasks", perOp(_.tasks), "count")
    put("spark.driver_idle_s", mean(ops.map { case (s, x) => s.wallS - x.jobS }), "s")
    put("spark.executor_run_s", perOp(_.executorRunS), "s")
    put("spark.executor_cpu_s", perOp(_.executorCpuS), "s")
    put("spark.gc_s", perOp(_.gcS), "s")
    put("spark.input_bytes", perOp(_.inputBytes), "B")
    put("spark.output_bytes", perOp(_.outputBytes), "B")
    put("spark.shuffle_read_bytes", perOp(_.shuffleReadBytes), "B")
    put("spark.shuffle_write_bytes", perOp(_.shuffleWriteBytes), "B")
    put("spark.spill_bytes", perOp(_.spillBytes), "B")
    put("spark.task_p50_ms", pct(taskMs, 0.5), "ms")
    put("spark.task_max_ms", pct(taskMs, 1.0), "ms")
    put("spark.failed_tasks", ops.map(_._2.failedTasks).sum.toDouble, "count")
    out
  }

  /** Checks that each op span's wall time holds its pieces: planning
    * outside jobs + the union of job intervals + other driver work, where
    * other driver work = wall − planning − jobs may not fall below minus
    * the tolerance ([[Tracer.ToleranceMsBase]] + [[Tracer.ToleranceMsPerJob]]
    * per job). */
  def reconcile(spans: Seq[Span], facts: Map[Int, SparkFacts]): Map[String, Any] = {
    val ops = spans.filter(isOp).flatMap(s => facts.get(s.id).map(s -> _))
    val rows = ops.map { case (s, f) =>
      val other = s.wallS - f.planOutsideJobsS - f.jobS
      val tol = (Tracer.ToleranceMsBase + Tracer.ToleranceMsPerJob * f.jobs) / 1e3
      (s, f, other, tol)
    }
    Map(
      "rule" -> ("wall_s = plan_outside_jobs_s + job_s + other_driver_s, " +
        s"other_driver_s >= -(${Tracer.ToleranceMsBase} ms + " +
        s"${Tracer.ToleranceMsPerJob} ms per job)"),
      "op_spans" -> rows.size,
      "within_tolerance" -> rows.count { case (_, _, o, t) => o >= -t },
      "worst_other_driver_s" -> (if (rows.isEmpty) 0.0 else rows.map(_._3).min),
      "wall_s" -> rows.map(_._1.wallS).sum,
      "plan_outside_jobs_s" -> rows.map(_._2.planOutsideJobsS).sum,
      "plan_s" -> rows.map(_._2.planS).sum,
      "job_s" -> rows.map(_._2.jobS).sum,
      "other_driver_s" -> rows.map(_._3).sum)
  }

  def spanJson(s: Span, f: Option[SparkFacts]): Map[String, Any] =
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "wall_s" -> s.wallS, "counters" -> s.counters,
      "spark" -> f.map(x => Map(
        "jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
        "failed_tasks" -> x.failedTasks, "job_s" -> x.jobS,
        "plan_s" -> x.planS, "plan_outside_jobs_s" -> x.planOutsideJobsS,
        "driver_idle_s" -> (s.wallS - x.jobS),
        "executor_run_s" -> x.executorRunS, "executor_cpu_s" -> x.executorCpuS,
        "gc_s" -> x.gcS, "input_bytes" -> x.inputBytes,
        "output_bytes" -> x.outputBytes,
        "shuffle_read_bytes" -> x.shuffleReadBytes,
        "shuffle_write_bytes" -> x.shuffleWriteBytes,
        "spill_bytes" -> x.spillBytes,
        "task_p50_ms" -> pct(x.taskMs, 0.5),
        "task_max_ms" -> pct(x.taskMs, 1.0))))
}
