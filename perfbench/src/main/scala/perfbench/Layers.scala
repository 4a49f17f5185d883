package perfbench

/** The per-layer metrics of a traced run. Every workload emits every
  * name; a layer the workload does not touch reads 0 (ingest on
  * medallion is the proof that it publishes no catalog artifact). */
object Layers {

  val IngestGroups: Seq[String] = Seq("edge_layout", "pair_graph",
    "lexical_index", "positional_index", "vector_index")

  val All: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "checkpoints.live_blocks" -> "count", "plans.plan_s" -> "s",
    "exec.run_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.core_util" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.fetch_wait_s" -> "s", "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s",
    "ingest.builds" -> "count", "ingest.late_builds" -> "count",
    "ingest.artifact_bytes" -> "bytes") ++
    IngestGroups.flatMap(g => Seq(s"ingest.$g.span_s" -> "s",
      s"ingest.$g.jobs" -> "count", s"ingest.$g.task_run_s" -> "s")) ++
    Seq("bronze", "silver", "gold", "quality").flatMap(st => Seq(
      s"pipeline.${st}_s" -> "s", s"pipeline.$st.jobs" -> "count",
      s"pipeline.$st.tasks" -> "count")) ++
    Seq("pipeline.silver_files" -> "count",
      "pipeline.gold_files" -> "count", "pipeline.bytes_written" -> "bytes",
      "pipeline.silver_rows" -> "count", "pipeline.survivor_ratio" -> "ratio",
      "trace.overhead_s" -> "s", "trace.untraced_op_s" -> "s")

  /** Every per-layer name, taking the workload's value where it has one. */
  def complete(m: Map[String, (Double, String)]): Map[String, (Double, String)] =
    All.map { case (n, u) => n -> m.getOrElse(n, (0.0, u)) }.toMap

  /** Scheduler and task metrics of the traced operations, per operation.
    * `core_util` is Σ task run time over (operation wall × cores). */
  def spark(c: Counters, ops: Double, opWall: Double, cores: Int): Map[String, (Double, String)] = Map(
    "spark.jobs" -> (c.jobs / ops, "count"),
    "spark.stages" -> (c.stages / ops, "count"),
    "spark.tasks" -> (c.tasks / ops, "count"),
    "spark.task_run_s" -> (c.taskRunMs / 1e3 / ops, "s"),
    "spark.task_cpu_s" -> (c.taskCpuNs / 1e9 / ops, "s"),
    "spark.core_util" -> (if (opWall > 0) c.taskRunMs / 1e3 / (opWall * cores) else 0.0, "ratio"),
    "spark.shuffle_write_bytes" -> (c.shuffleWriteBytes / ops, "bytes"),
    "spark.shuffle_read_bytes" -> (c.shuffleReadBytes / ops, "bytes"),
    "spark.fetch_wait_s" -> (c.fetchWaitMs / 1e3 / ops, "s"),
    "spark.spill_bytes" -> (c.spillBytes / ops, "bytes"),
    "spark.gc_s" -> (c.gcMs / 1e3 / ops, "s"))
}
