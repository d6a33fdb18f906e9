package perfbench

/** The per-layer metrics. Every traced run reports all of them; a layer the
  * workload does not exercise reads 0.
  */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "host.cpu_ms" -> "ms", "host.io_ms" -> "ms",
    "setup.build_s" -> "s",
    "core.charset_us" -> "us", "core.boilerplate_us" -> "us", "core.head_us" -> "us",
    "core.pdf_us" -> "us", "core.rules_us" -> "us", "core.post_us" -> "us",
    "core.html_page_us" -> "us", "core.pdf_page_us" -> "us", "core.fail_pages" -> "count",
    "stage.tasks" -> "count", "stage.run_s" -> "s", "stage.cpu_s" -> "s", "stage.gc_s" -> "s",
    "stage.task_ms_p50" -> "ms", "stage.task_ms_max" -> "ms", "stage.idle_core_frac" -> "ratio",
    "extract.scaling_1to4" -> "ratio",
    "commit.run_s" -> "s", "commit.input_read_bytes" -> "bytes", "commit.shuffle_write_bytes" -> "bytes",
    "commit.output_bytes" -> "bytes", "commit.output_files" -> "count",
    "commit.bytes_per_input_byte" -> "ratio", "commit.resume_noop_ms" -> "ms",
    "manifest.compact_ms" -> "ms", "manifest.committed_buckets_ms" -> "ms",
    "lookup.point_ms" -> "ms", "lookup.plan_ms" -> "ms", "lookup.files_read" -> "count",
    "lookup.bytes_read" -> "bytes", "lookup.prefix_miss_ms" -> "ms", "lookup.day_range_ms" -> "ms",
    "lookup.as_of_ms" -> "ms",
    "query.plan_s" -> "s", "query.jobs" -> "count", "query.stages" -> "count", "query.tasks" -> "count",
    "query.idle_core_s" -> "s", "query.run_s" -> "s", "query.cpu_s" -> "s",
    "query.shuffle_bytes" -> "bytes", "query.spill_bytes" -> "bytes", "query.task_skew" -> "ratio",
    "trace.self_workload_s" -> "s", "trace.self_setup_s" -> "s", "trace.self_phase_s" -> "s",
    "trace.self_op_s" -> "s", "trace.self_check_s" -> "s", "trace.self_core_s" -> "s")

  /** Fills every per-layer metric the workload did not measure with 0. */
  def complete(res: Result): Unit = {
    val measured = res.layer.clone()
    res.layer.clear()
    All.foreach { case (name, unit) => res.layer(name) = measured.getOrElse(name, (0.0, unit)) }
  }

  /** stage.* from the extract chunk spans: per-chunk means, task times over
    * all chunks, and the share of core time no task ran.
    */
  def stage(cfg: Config, tr: Tracer, res: Result, spans: Seq[Span]): Unit = {
    val n = math.max(1, spans.length)
    val c = new Counters
    spans.foreach(s => c.add(tr.subtree(s)))
    val wall = spans.map(_.seconds).sum
    val tasks = c.allTaskMs.map(_.toDouble)
    res.layer("stage.tasks") = (c.tasks.toDouble / n, "count")
    res.layer("stage.run_s") = (c.runMs / 1e3 / n, "s")
    res.layer("stage.cpu_s") = (c.cpuNs / 1e9 / n, "s")
    res.layer("stage.gc_s") = (c.gcMs / 1e3 / n, "s")
    res.layer("stage.task_ms_p50") = (if (tasks.isEmpty) 0.0 else Stats.median(tasks), "ms")
    res.layer("stage.task_ms_max") = (if (tasks.isEmpty) 0.0 else tasks.max, "ms")
    res.layer("stage.idle_core_frac") = (1.0 - c.runMs / 1e3 / (wall * cfg.cores), "ratio")
  }
}
