package perfbench

/** The per-layer metrics of the traced run, named after the engine's
  * modules. Every traced run reports all of them; a layer a workload does
  * not reach reads 0.
  */
object PerLayer {

  /** Engine module of each catalog_batch query. */
  val queryModule: Seq[(String, String)] = Seq(
    "q31" -> "Pipeline", "q174" -> "Hnsw", "q182" -> "Hnsw", "q183" -> "Hnsw")

  private val layers = Seq("api", "intent", "guard", "forecast", "core",
    "spark", "operators", "streaming")

  val all: Seq[(String, String)] = Seq(
    "api.http_overhead_ms" -> "ms", "api.preview_ms" -> "ms",
    "api.render_ms" -> "ms", "api.summarize_ms" -> "ms",
    "api.rag_embed_ms" -> "ms", "api.rag_topk_ms" -> "ms",
    "api.rag_context_ms" -> "ms",
    "api.askai_stage.template" -> "count", "api.askai_stage.intent" -> "count",
    "api.askai_stage.llm-sql" -> "count", "api.askai_fallthrough_ratio" -> "ratio",
    "intent.route_us" -> "us", "intent.template_ms" -> "ms",
    "intent.compile_ms" -> "ms", "intent.domains_ms" -> "ms",
    "guard.run_ms" -> "ms", "guard.reject_ratio" -> "ratio",
    "forecast.build_ms" -> "ms",
    "core.table_load_ms" -> "ms",
    "spark.plan_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.driver_gap_ms" -> "ms", "spark.task_s" -> "s",
    "spark.core_util" -> "ratio", "spark.shuffle_write_kb" -> "KB",
    "spark.shuffle_read_kb" -> "KB", "spark.spill_kb" -> "KB", "spark.input_kb" -> "KB") ++
    queryModule.map(_._2).distinct.map(m => s"operators.${m}_s" -> "s") ++ Seq(
    "streaming.batches" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_commit_ms" -> "ms", "streaming.state_mem_kb" -> "KB",
    "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count",
    "trace.overhead_ratio" -> "ratio") ++
    layers.map(l => s"$l.self_ms" -> "ms")

  private val units = all.toMap

  /** Every per-layer metric in a fixed order, 0 where `measured` has none. */
  def complete(measured: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val unknown = measured.map(_._1).filterNot(units.contains)
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    val m = measured.map(x => x._1 -> x._2).toMap
    all.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }

  /** Self time per layer from the spans, as metrics. */
  def selfTimes(spans: Seq[Span]): Seq[(String, Double, String)] =
    Tracer.selfTimeNs(spans).toSeq.collect {
      case (l, ns) if layers.contains(l) => (s"$l.self_ms", ns / 1e6, "ms")
    }

  /** Spark counters over `jobs`, for an operation phase of `wallNs` on
    * `cores` cores.
    */
  def spark(jobs: Seq[JobRec], wallNs: Long, cores: Int, planMs: Long,
      driverGapMs: Double): Seq[(String, Double, String)] = {
    val taskS = jobs.map(_.taskMs).sum / 1e3
    Seq(
      ("spark.plan_ms", planMs.toDouble, "ms"),
      ("spark.jobs", jobs.size.toDouble, "count"),
      ("spark.stages", jobs.map(_.stages).sum.toDouble, "count"),
      ("spark.tasks", jobs.map(_.tasks).sum.toDouble, "count"),
      ("spark.driver_gap_ms", driverGapMs, "ms"),
      ("spark.task_s", taskS, "s"),
      ("spark.core_util", taskS / (wallNs / 1e9 * cores), "ratio"),
      ("spark.shuffle_write_kb", jobs.map(_.shuffleWriteB).sum / 1024.0, "KB"),
      ("spark.shuffle_read_kb", jobs.map(_.shuffleReadB).sum / 1024.0, "KB"),
      ("spark.spill_kb", jobs.map(_.spillB).sum / 1024.0, "KB"),
      ("spark.input_kb", jobs.map(_.inputB).sum / 1024.0, "KB"))
  }

  def jvm(gc0: (Long, Long)): Seq[(String, Double, String)] = Seq(
    ("jvm.gc_ms", (JvmProbe.gcMs - gc0._1).toDouble, "ms"),
    ("jvm.gc_count", (JvmProbe.gcCount - gc0._2).toDouble, "count"))

  /** Spark jobs as spans under the innermost benchmark span open when each
    * job started, so layer self time excludes time spent in Spark jobs.
    */
  def addJobSpans(tr: Tracer, jobs: Seq[JobRec]): Unit = {
    val spans = tr.all
    jobs.foreach { j =>
      Tracer.innermostAt(spans, j.startNs).foreach(p =>
        tr.add("spark.job", p.id, p.op, j.startNs, math.max(j.startNs, j.endNs)))
    }
  }
}
