package perfbench

/** Per-layer metrics of a traced run, per traced op (ratios and maxima
  * excepted), from the spans, the Spark listeners and the op results. */
object PerLayer {
  val units: Map[String, String] = Map(
    "spark.jobs" -> "count/op", "spark.actions" -> "count/op", "spark.tasks" -> "count/op",
    "spark.job_s" -> "s/op", "spark.driver_gap_s" -> "s/op",
    "spark.analysis_s" -> "s/op", "spark.optimization_s" -> "s/op", "spark.planning_s" -> "s/op",
    "spark.input_bytes" -> "B/op", "spark.executor_run_s" -> "s/op",
    "spark.executor_cpu_s" -> "s/op", "spark.gc_s" -> "s/op",
    "spark.shuffle_write_bytes" -> "B/op", "spark.spill_bytes" -> "B/op",
    "spark.output_bytes" -> "B/op",
    "catalog.read_s" -> "s/op", "catalog.reads" -> "count/op",
    "catalog.chain_versions_max" -> "count",
    "catalog.update_s" -> "s/op", "catalog.updates" -> "count/op",
    "catalog.update_bytes_rewritten" -> "B/op", "catalog.update_rewrite_ratio" -> "ratio",
    "catalog.scan_rows_per_consumed_row" -> "ratio",
    "catalog.log_append_s" -> "s/op", "catalog.log_appends" -> "count/op",
    "catalog.append_s" -> "s/op", "catalog.appends" -> "count/op",
    "catalog.bytes_written" -> "B/op",
    "precheck.files" -> "count/op", "precheck.jobs_per_file" -> "ratio",
    "precheck.log_lines" -> "count/op",
    "plans.precheck_s" -> "s/op", "plans.archive_s" -> "s/op",
    "plans.raw_s" -> "s/op", "plans.refined_s" -> "s/op", "plans.curated_s" -> "s/op",
    "plans.raw_self_s" -> "s/op", "plans.refined_self_s" -> "s/op",
    "plans.curated_self_s" -> "s/op",
    "sources.files_moved" -> "count/op",
    "sinks.crm_ops" -> "count/op", "sinks.crm_batches" -> "count/op",
    "trace.overhead_frac" -> "ratio", "trace.coverage_frac" -> "ratio")

  def apply(t: Tracer, sl: SpanListener, pl: PhaseListener,
      rs: Seq[OpResult]): Map[String, Double] = {
    val traced = rs.filter(_.traced)
    val k = math.max(1, traced.size).toDouble
    val ops = traced.map(_.op).toSet
    val spans = t.spans.filter(s => ops(s.op)).toSeq
    val byId = t.spans.map(s => s.id -> s).toMap
    def isCatalog(s: Span) = s.name.startsWith("catalog.")
    def parentOf(s: Span) = byId.get(s.parent)
    val topCatalog = spans.filter(s => isCatalog(s) && !parentOf(s).exists(isCatalog))
    def under(s: Span, names: Set[String]): Boolean =
      names(s.name) || parentOf(s).exists(under(_, names))
    def secs(ss: Seq[Span]) = ss.map(_.durNs).sum / 1e9
    def named(n: String, role: Option[String] = None) =
      topCatalog.filter(s => s.name == n && role.forall(_ == s.role))
    def stage(n: String) = spans.filter(_.name == n)
    def self(n: String) = stage(n).map { s =>
      s.durNs - topCatalog.filter(_.parent == s.id).map(_.durNs).sum
    }.sum / 1e9
    def counted(ss: Seq[Span], key: String) = ss.map(_.counts.getOrElse(key, 0.0)).sum

    val stats = spans.flatMap(s => sl.bySpan.get(s.id).map(s -> _))
    def sumStat(f: sl.Stats => Long): Double = stats.map(x => f(x._2)).sum.toDouble
    // time covered by jobs, per op: the union of its job intervals
    val jobS = traced.map { r =>
      val iv = stats.filter(_._1.op == r.op).flatMap(_._2.jobIntervals).sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val s = math.max(a, end)
        if (b > s) covered += b - s
        end = math.max(end, b)
      }
      covered / 1000.0
    }
    val qes = pl.qes.filter { case (start, _) =>
      traced.exists(r => start >= r.startMs && start <= r.endMs)
    }
    def phase(n: String) = qes.map(_._2.getOrElse(n, 0L)).sum / 1000.0
    val updates = named("catalog.update")
    val precheck = stage("plans.precheck")
    val files = counted(precheck, "files")
    val scanned = stats.filter(x => under(x._1, Set("plans.refined", "plans.curated")))
      .map(_._2.inputRecords).sum.toDouble
    val consumed = traced.map(_.consumed).sum.toDouble
    val coverage = traced.map { r =>
      secs(spans.filter(s => s.op == r.op && s.parent == -1)) / r.busy
    }
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

    Map(
      "spark.jobs" -> sumStat(_.jobs) / k,
      "spark.actions" -> qes.size / k,
      "spark.tasks" -> sumStat(_.tasks) / k,
      "spark.job_s" -> jobS.sum / k,
      "spark.driver_gap_s" -> traced.zip(jobS).map { case (r, j) => r.busy - j }.sum / k,
      "spark.analysis_s" -> phase("analysis") / k,
      "spark.optimization_s" -> phase("optimization") / k,
      "spark.planning_s" -> phase("planning") / k,
      "spark.input_bytes" -> sumStat(_.inputBytes) / k,
      "spark.executor_run_s" -> sumStat(_.execRunMs) / 1000.0 / k,
      "spark.executor_cpu_s" -> sumStat(_.cpuNs) / 1e9 / k,
      "spark.gc_s" -> sumStat(_.gcMs) / 1000.0 / k,
      "spark.shuffle_write_bytes" -> sumStat(_.shuffleWrite) / k,
      "spark.spill_bytes" -> sumStat(_.spill) / k,
      "spark.output_bytes" -> sumStat(_.outputBytes) / k,
      "catalog.read_s" -> secs(named("catalog.read")) / k,
      "catalog.reads" -> named("catalog.read").size / k,
      "catalog.chain_versions_max" ->
        (0.0 +: named("catalog.read").map(_.counts.getOrElse("chain_versions", 0.0))).max,
      "catalog.update_s" -> secs(updates) / k,
      "catalog.updates" -> updates.size / k,
      "catalog.update_bytes_rewritten" -> counted(updates, "bytes_rewritten") / k,
      "catalog.update_rewrite_ratio" ->
        ratio(counted(updates, "rows_rewritten"), counted(updates, "rows_changed")),
      "catalog.scan_rows_per_consumed_row" -> ratio(scanned, consumed),
      "catalog.log_append_s" -> secs(named("catalog.append", Some("log"))) / k,
      "catalog.log_appends" -> named("catalog.append", Some("log")).size / k,
      "catalog.append_s" -> secs(named("catalog.append").filter(_.role != "log")) / k,
      "catalog.appends" -> named("catalog.append").count(_.role != "log") / k,
      "catalog.bytes_written" -> counted(topCatalog, "bytes_written") / k,
      "precheck.files" -> files / k,
      "precheck.jobs_per_file" ->
        ratio(precheck.flatMap(s => sl.bySpan.get(s.id)).map(_.jobs).sum.toDouble, files),
      "precheck.log_lines" -> topCatalog.count(s => parentOf(s).exists(_.name == "plans.precheck")) / k,
      "plans.precheck_s" -> secs(precheck) / k,
      "plans.archive_s" -> secs(stage("plans.archive")) / k,
      "plans.raw_s" -> secs(stage("plans.raw")) / k,
      "plans.refined_s" -> secs(stage("plans.refined")) / k,
      "plans.curated_s" -> secs(stage("plans.curated")) / k,
      "plans.raw_self_s" -> self("plans.raw") / k,
      "plans.refined_self_s" -> self("plans.refined") / k,
      "plans.curated_self_s" -> self("plans.curated") / k,
      "sources.files_moved" -> traced.map(_.moved).sum / k,
      "sinks.crm_ops" -> traced.map(_.crmOps).sum / k,
      "sinks.crm_batches" -> traced.map(_.crmBatches).sum / k,
      "trace.coverage_frac" -> med(coverage))
  }
}
