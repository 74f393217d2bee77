package perfbench

/** The per-layer metric set, grouped by the workloads that measure it.
  * A workload sets every metric of its own groups; the groups it does not
  * exercise it marks with [[notExercised]]. Nothing is pre-filled, so a
  * metric a run forgot to measure is missing and `run.py` refuses the run.
  */
object Layers {
  /** The suite's load steps, in the engine's bench-harness order: every
    * Catalog artifact its query slice reads. `psEdges` and `chainEdges`
    * have no builder of their own; one call of the graph query that reads
    * each builds it, the way the bench harness builds `owl_closed` through
    * its `owlTransitive` step.
    */
  val loadSteps: Seq[String] = Seq("quads", "namedQuads", "dictStore",
    "ftsIndex", "minhash", "shingles", "owlTransitive", "psEdges", "chainEdges")

  /** Measured by every workload. */
  val common: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.schema_read_jobs" -> "count", "spark.job_busy_s" -> "s",
    "spark.gap_s" -> "s", "spark.analysis_ms" -> "ms",
    "spark.optimizer_ms" -> "ms", "spark.planning_ms" -> "ms",
    "spark.codegen_compile_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "load.quads_s" -> "s", "load.quads.jobs" -> "count",
    "catalog.stored_bytes" -> "bytes")

  /** Measured by `suite` only. */
  val suiteOnly: Seq[(String, String)] =
    Seq("queries.build_s" -> "s", "queries.eager_jobs" -> "count",
      "queries.action_s" -> "s") ++
    loadSteps.filter(_ != "quads")
      .flatMap(s => Seq(s"load.${s}_s" -> "s", s"load.$s.jobs" -> "count")) ++
    Suite.modules.flatMap(m => Seq(s"$m.suite_s" -> "s", s"$m.suite_jobs" -> "count"))

  /** Measured by the endpoint workloads only. */
  val endpointOnly: Seq[(String, String)] = Seq(
    "sparql.parse_ms" -> "ms", "sparql.translate_ms" -> "ms",
    "sparql.translate_jobs" -> "count", "sparql.results_ms" -> "ms",
    "server.overhead_ms" -> "ms", "server.jobs_per_request" -> "count",
    "server.describe_cache_hit_ratio" -> "ratio",
    "rdf.store_plan_nodes" -> "count")

  /** Report the layers a workload does not exercise as 0. */
  def notExercised(rec: Record, group: Seq[(String, String)]): Unit =
    group.foreach { case (n, u) => rec.layers(n) = (0.0, u) }

  /** The `spark.*` layer over a measured window of `wallMs`. */
  def spark(rec: Record, c: Probe.Counts, wallMs: Long, codegenMs: Double): Unit = {
    rec.layers("spark.jobs") = (c.jobs.toDouble, "count")
    rec.layers("spark.stages") = (c.stages.toDouble, "count")
    rec.layers("spark.tasks") = (c.tasks.toDouble, "count")
    rec.layers("spark.schema_read_jobs") = (c.schemaReadJobs.toDouble, "count")
    rec.layers("spark.job_busy_s") = (c.busyMs / 1e3, "s")
    rec.layers("spark.gap_s") = ((wallMs - c.busyMs) / 1e3, "s")
    rec.layers("spark.analysis_ms") = (c.analysisMs.toDouble, "ms")
    rec.layers("spark.optimizer_ms") = (c.optimizerMs.toDouble, "ms")
    rec.layers("spark.planning_ms") = (c.planningMs.toDouble, "ms")
    rec.layers("spark.codegen_compile_ms") = (codegenMs, "ms")
    rec.layers("spark.shuffle_write_bytes") = (c.shuffleWriteBytes.toDouble, "bytes")
    rec.layers("spark.input_bytes") = (c.inputBytes.toDouble, "bytes")
    rec.layers("spark.spill_bytes") = (c.spillBytes.toDouble, "bytes")
  }
}
