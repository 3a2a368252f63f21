package perfbench

/** Every metric the benchmark prints, by name and unit. BENCHMARK.json at
  * the repository root lists the same names; MetricsSpec checks both. */
object Metrics {
  final case class Def(name: String, unit: String)

  /** Printed by every end-to-end run (`--trace 0`), on every workload. */
  val endToEnd: Seq[Def] = Seq(
    Def("setup_s", "s"),
    Def("pass_s", "s"),
    Def("op_ms_p50", "ms"),
    Def("live_heap_mb", "MB"))

  /** Printed by every traced run (`--trace 1`); 0 where the layer is not
    * exercised by the workload (e.g. `streaming.*` outside yaml_stream). */
  val perLayer: Seq[Def] = Seq(
    Def("runtime.config_load_ms", "ms"),
    Def("ops.assemble_ms", "ms"),
    Def("ops.dedupe_keep_ratio", "ratio"),
    Def("queries.build_ms", "ms"),
    Def("queries.heavy_s", "s"),
    Def("queries.driver_s", "s"),
    Def("queries.heavy_busy_frac", "ratio"),
    Def("queries.driver_busy_frac", "ratio"),
    Def("queries.heavy_jobs_per_query", "count"),
    Def("queries.driver_jobs_per_query", "count"),
    Def("catalyst.analysis_ms", "ms"),
    Def("catalyst.optimization_ms", "ms"),
    Def("catalyst.planning_ms", "ms"),
    Def("catalyst.executions", "count"),
    Def("exec.jobs", "count"),
    Def("exec.stages", "count"),
    Def("exec.tasks", "count"),
    Def("exec.driver_gap_ms", "ms"),
    Def("exec.busy_frac", "ratio"),
    Def("exec.task_cpu_ms", "ms"),
    Def("exec.task_run_ms", "ms"),
    Def("exec.cpu_frac", "ratio"),
    Def("exec.shuffle_write_bytes", "bytes"),
    Def("exec.shuffle_read_bytes", "bytes"),
    Def("exec.shuffle_records", "count"),
    Def("exec.spill_bytes", "bytes"),
    Def("exec.gc_ms", "ms"),
    Def("exec.rdds_persisted_after", "count"),
    Def("exec.speedup_vs_1core", "ratio"),
    Def("sources.input_ms", "ms"),
    Def("sources.bytes_read", "bytes"),
    Def("sources.records_read", "count"),
    Def("sinks.write_ms", "ms"),
    Def("sinks.bytes_written", "bytes"),
    Def("sinks.records_written", "count"),
    Def("streaming.batches", "count"),
    Def("streaming.latest_offset_ms", "ms"),
    Def("streaming.get_batch_ms", "ms"),
    Def("streaming.query_planning_ms", "ms"),
    Def("streaming.add_batch_ms", "ms"),
    Def("streaming.wal_commit_ms", "ms"),
    Def("streaming.commit_offsets_ms", "ms"),
    Def("streaming.state_commit_ms", "ms"),
    Def("streaming.state_rows", "count"),
    Def("streaming.state_memory_bytes", "bytes"),
    Def("trace.overhead_frac", "ratio"))

  /** The result line: `{"correct", "attempted", "failed", "metrics"}`,
    * each metric as `{"value", "unit"}`, in `defs` order. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      defs: Seq[Def], values: Map[String, Double]): String = {
    val ms = defs.map { d =>
      val v = values.getOrElse(d.name,
        throw new IllegalStateException(s"metric ${d.name} was not measured"))
      require(!v.isNaN && !v.isInfinite, s"metric ${d.name} = $v")
      s""""${d.name}":{"value":${BigDecimal(v).bigDecimal.toPlainString},"unit":"${d.unit}"}"""
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}
