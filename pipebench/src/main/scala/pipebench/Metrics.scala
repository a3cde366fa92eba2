package pipebench

/** The metric names and units the benchmark reports. Every workload
  * reports every name; a per-layer metric of a layer the workload does
  * not run is 0.
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "job_s" -> "s",
    "cpu_s" -> "s",
    "heap_used_mb" -> "MB")

  val Families: Seq[String] = Seq("dedup", "similarity", "text", "multimodal", "graph")

  val Kernels: Seq[String] = Seq("float_dot", "nearest_cells", "pq_codes",
    "minhash_signature", "token_ngrams", "bucket_rank")

  val PerLayer: Seq[(String, String)] = Seq(
    "gen.late_ms_max" -> "ms",
    "streaming.batch_ms_p50" -> "ms",
    "streaming.batch_ms_tail" -> "ms",
    "streaming.planning_ms" -> "ms",
    "streaming.commit_ms" -> "ms",
    "streaming.addbatch_ms" -> "ms",
    "streaming.batches" -> "count",
    "streaming.state_rows_max" -> "count",
    "streaming.state_mem_mb_max" -> "MB",
    "streaming.late_rows_dropped" -> "count",
    "streaming.backlog_max" -> "count",
    "streaming.alert_p50_ms" -> "ms",
    "streaming.alert_tail_ms" -> "ms",
    "streaming.drain_eps" -> "1/s",
    "serve.upsert_ms" -> "ms",
    "serve.kv_items_end" -> "count",
    "serve.kv_query_ms" -> "ms",
    "serve.kv_lookup_p50_ms" -> "ms",
    "serve.kv_lookup_tail_ms" -> "ms",
    "serve.lookup_p50_ms" -> "ms",
    "serve.lookup_tail_ms" -> "ms",
    "serve.lookup_plan_ms" -> "ms",
    "serve.lookup_exec_ms" -> "ms",
    "serve.scan_rows_per_result" -> "ratio",
    "etl.stage_s" -> "s",
    "etl.spec_s" -> "s",
    "etl.write_mb" -> "MB",
    "etl.files_written" -> "count") ++
    Families.flatMap(f => Seq(s"$f.construct_s" -> "s", s"$f.exec_s" -> "s",
      s"$f.rows_out" -> "count")) ++
    Kernels.map(k => s"functions.$k.ns_per_row" -> "ns") ++ Seq(
    "engine.jobs" -> "count",
    "engine.stages" -> "count",
    "engine.tasks" -> "count",
    "engine.shuffle_write_mb" -> "MB",
    "engine.shuffle_read_mb" -> "MB",
    "engine.spill_mb" -> "MB",
    "engine.gc_s" -> "s",
    "engine.task_skew" -> "ratio",
    "plan.scans" -> "count",
    "plan.exchanges" -> "count",
    "plan.reused_exchanges" -> "count",
    "plan.smj" -> "count",
    "plan.bhj" -> "count",
    "plan.bnlj" -> "count",
    "plan.codegen_frac" -> "ratio",
    "trace.overhead_pct" -> "%")
}
