package graft.perfbench

/** The metrics the benchmark reports, with their units. BENCHMARK.json
  * lists the same names and units; `SelfTest` checks that they agree.
  */
object Report {
  /** Writes the artifact and the result line; Scala maps, sequences and
    * options serialize directly, a `ListMap` in its own key order.
    */
  val mapper: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "pass_s" -> "s",
    "pass_cpu_s" -> "s",
    "latency_p50_ms" -> "ms",
    "rows_per_s" -> "1/s",
    "live_heap_mb" -> "MB")

  /** Span layers whose self time is reported. */
  val Layers: Seq[String] =
    Seq("op", "registry", "execute", "plan", "job", "stage", "batch", "batch_phase")

  /** Micro-batch phases whose sum and median are reported. */
  val StreamPhases: Seq[String] =
    Seq("addBatch", "queryPlanning", "latestOffset", "walCommit", "commitOffsets")

  val perLayer: Seq[(String, String)] = Seq(
    "session.start_s" -> "s",
    "registry.build_s" -> "s",
    "plan.analysis_s" -> "s",
    "plan.optimization_s" -> "s",
    "plan.planning_s" -> "s",
    "plan.exchanges" -> "count",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.stages_skipped" -> "count",
    "exec.tasks" -> "count",
    "exec.driver_gap_s" -> "s",
    "exec.task_cpu_s" -> "s",
    "exec.task_run_s" -> "s",
    "exec.task_gc_s" -> "s",
    "exec.shuffle_read_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB",
    "exec.parallelism" -> "s/s",
    "sources.scan_mb" -> "MB",
    "sources.scan_rows" -> "count",
    "sources.files_read" -> "count",
    "sources.scan_s" -> "s",
    "materialize.built" -> "count",
    "materialize.reused" -> "count",
    "materialize.build_s" -> "s",
    "materialize.mb" -> "MB",
    "stream.batches" -> "count") ++
    StreamPhases.flatMap(p => Seq(s"stream.${p}_ms" -> "ms", s"stream.${p}_p50_ms" -> "ms")) ++ Seq(
    "state.rows_max" -> "count",
    "state.mem_mb" -> "MB",
    "state.commit_ms" -> "ms",
    "state.rows_removed" -> "count",
    "state.dropped_by_watermark" -> "count",
    "ingest.gate_build_s" -> "s",
    "ingest.drain_s" -> "s",
    "ingest.compact_s" -> "s",
    "ingest.admit_ratio" -> "ratio",
    "ingest.landed_mb" -> "MB",
    "sinks.written_mb" -> "MB",
    "trace.overhead_s" -> "s") ++
    Layers.map(l => s"self.${l}_s" -> "s")

  /** The result line: `metrics` must hold exactly the names in `names`. */
  def line(correct: Boolean, attempted: Int, failed: Int,
      names: Seq[(String, String)], metrics: Map[String, Double]): String = {
    val missing = names.map(_._1).filterNot(metrics.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val notFinite = names.map(_._1).filterNot(n => java.lang.Double.isFinite(metrics(n)))
    require(notFinite.isEmpty, s"metrics not finite: ${notFinite.mkString(", ")}")
    val ms = scala.collection.immutable.ListMap(names.map { case (n, u) =>
      n -> scala.collection.immutable.ListMap("value" -> metrics(n), "unit" -> u)
    }: _*)
    mapper.writeValueAsString(scala.collection.immutable.ListMap("correct" -> correct,
      "attempted" -> attempted, "failed" -> failed, "metrics" -> ms))
  }
}
