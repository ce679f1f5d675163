package perfbench

/** Turns the spans of the traced ops into the per-layer figures (the
  * median over traced ops of each op's value) and the span file.
  */
object Layers {

  /** Span-timed layers: metric `<span>_s` is the op's total seconds in
    * spans of that name.
    */
  val SpanNames: Seq[String] = Seq(
    "stats.glmm.fit", "stats.em.fit", "stats.em.ebp", "stats.survey.direct",
    "stats.bootstrap.mspe", "rel.report_sql",
    "ops.text.clean", "ops.dedup.exact", "ops.dedup.store_anti", "ops.dedup.lsh",
    "ops.dedup.cc", "ops.text.gate",
    "sources.versioned.commit", "sources.versioned.read", "sources.versioned.cdf")

  /** Values the workloads attach to spans, with their units. */
  val Notes: Seq[(String, String)] = Seq(
    "stats.em.iters" -> "count", "ops.dedup.pairs" -> "count",
    "sources.versioned.bytes_written_per_row" -> "B/row",
    "sources.versioned.files" -> "count")

  /** Output figures of the op checks, reported beside the layers. */
  val Outputs: Seq[(String, String)] = Seq(
    "ebp_aad_pp" -> "pp", "mspe_mean_pp" -> "pp", "dup_leak_frac" -> "ratio")

  private def op(t: Tracer, i: Int, cores: Int): Map[String, Double] = {
    val spans = t.ofOp(i)
    val root = spans.find(_.parent == -1).get
    val wall = root.seconds
    val c = spans.map(_.spark).foldLeft(Counters())(_ + _)
    val timed = SpanNames.map(n => s"${n}_s" ->
      spans.filter(_.name == n).map(_.seconds).sum)
    val notes = Notes.map { case (k, _) =>
      k -> spans.flatMap(_.notes.get(k)).sum }
    val top = spans.filter(_.parent == root.id).map(_.seconds).sum
    (timed ++ notes ++ Seq(
      "stats.optimize.lbfgs_resets" -> c.resets.toDouble,
      "spark.jobs" -> c.jobs.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.failed_tasks" -> c.failedTasks.toDouble,
      "spark.executor_run_s" -> c.runMs / 1e3,
      "spark.task_cpu_s" -> c.cpuNs / 1e9,
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0,
      "spark.stage_skew_max" -> c.skewMax,
      "spark.core_util" -> c.runMs / 1e3 / (wall * cores),
      "jvm.gc_s" -> root.gcMs / 1e3,
      "trace.op_p50_s" -> wall,
      "trace.overhead_s" -> t.overheadNs.getOrElse(i, 0L) / 1e9,
      "trace.unattributed_s" -> (root.seconds - top))).toMap
  }

  /** Every per-layer metric with its unit, in report order. */
  val Units: Seq[(String, String)] =
    SpanNames.map(n => s"${n}_s" -> "s") ++ Notes ++ Seq(
      "stats.optimize.lbfgs_resets" -> "count", "spark.jobs" -> "count",
      "spark.tasks" -> "count", "spark.failed_tasks" -> "count",
      "spark.executor_run_s" -> "s", "spark.task_cpu_s" -> "s",
      "spark.shuffle_write_mb" -> "MB", "spark.stage_skew_max" -> "ratio",
      "spark.core_util" -> "ratio", "jvm.gc_s" -> "s",
      "trace.op_p50_s" -> "s", "trace.overhead_s" -> "s",
      "trace.unattributed_s" -> "s") ++ Outputs.map { case (k, u) => s"out.$k" -> u }

  /** Per-layer figures of a traced run: medians over the timed ops
    * `ops`. Layers an op never called report 0.
    */
  def perLayer(t: Tracer, ops: Seq[Int], cores: Int,
               outputs: Map[String, Double]): Seq[(String, Double, String)] = {
    val per = ops.map(op(t, _, cores))
    val extra = outputs.map { case (k, v) => s"out.$k" -> v }
    Units.map { case (k, u) =>
      val v = extra.getOrElse(k, Main.median(per.map(_.getOrElse(k, 0.0))))
      (k, if (v.isNaN) 0.0 else v, u)
    }
  }

  /** One JSON object per span; `self_s` is the span's time minus the
    * time its direct children cover.
    */
  def spanLines(t: Tracer): Seq[String] = {
    val t0 = t.spans.headOption.map(_.startNs).getOrElse(0L)
    val childSum = t.spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    def s(ns: Long) = f"${(ns - t0) / 1e9}%.6f"
    t.spans.toSeq.map { sp =>
      val c = sp.spark
      val notes = sp.notes.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      s"""{"id": ${sp.id}, "name": "${sp.name}", "parent": ${sp.parent}, "op": ${sp.op}, """ +
        s""""start_s": ${s(sp.startNs)}, "end_s": ${s(sp.endNs)}, """ +
        f""""wall_s": ${sp.seconds}%.6f, "self_s": ${sp.seconds - childSum.getOrElse(sp.id, 0.0)}%.6f, """ +
        f""""gc_s": ${sp.gcMs / 1e3}%.3f, "spark": {"jobs": ${c.jobs}, "stages": ${c.stages}, """ +
        s""""tasks": ${c.tasks}, "failed_tasks": ${c.failedTasks}, "executor_run_ms": ${c.runMs}, """ +
        s""""task_cpu_ns": ${c.cpuNs}, "shuffle_write_bytes": ${c.shuffleWriteBytes}, """ +
        f""""stage_skew_max": ${c.skewMax}%.3f, "lbfgs_resets": ${c.resets}}, "notes": {$notes}}"""
    }
  }
}
