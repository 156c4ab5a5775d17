package perfbench

/** Everything the traced run measured about one request. */
final case class RequestTrace(
    request: Span,
    phases: Seq[Span],
    jobs: Seq[JobRecord],
    stats: GroupStats,
    analysisMs: Long, optimizationMs: Long, planningMs: Long,
    tableLoads: Int,
    csvScans: Double,
    compileMs: Long,
    blockBytes: Long,
    sinkBytes: Long, sinkFiles: Long) {

  def phase(name: String): Seq[Span] = phases.filter(_.name == name)
  def phaseMillis(name: String): Long = phase(name).map(_.millis).sum
  def jobsIn(name: String): Seq[JobRecord] = jobs.filter(_.group.endsWith("/" + name))
  def jobSpans(name: String): Seq[Span] =
    jobsIn(name).map(j => Span(-1, "job", j.start, j.end, -1, request.request))
  def isUpload: Boolean = phases.exists(_.name == "csv.ingest")
  /** request wall covered by at least one job */
  def jobCoveredMillis: Long =
    Spans.coveredMillis(jobs.map(j => (j.start, j.end)), request.start, request.end)
}

/** The per-layer table of a traced run: one row per layer metric, each an
  * average per request (per upload for the csv, issues and sinks layers)
  * unless its name says otherwise. */
object Layers {

  def table(reqs: Seq[RequestTrace], tableLoadProbesMs: Seq[Double], cores: Int,
            overheadPct: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, reqs.length).toDouble
    val ups = reqs.filter(_.isUpload)
    val nUp = math.max(1, ups.length).toDouble
    def perReq(f: RequestTrace => Double) = reqs.map(f).sum / n
    def perUpload(f: RequestTrace => Double) = ups.map(f).sum / nUp
    val stages = reqs.map(_.stats.stages).sum
    val covered = reqs.map(_.jobCoveredMillis).sum
    val cpuMs = reqs.map(_.stats.cpuNs).sum / 1e6
    Seq(
      ("tables.load_ms", if (tableLoadProbesMs.isEmpty) 0.0 else Stats.median(tableLoadProbesMs), "ms"),
      ("tables.loads_per_req", perReq(_.tableLoads), "count"),
      ("entry.construct_ms", perReq(r => r.phase("entry.construct").map(s =>
        Spans.selfMillis(s, r.jobSpans("entry.construct"))).sum.toDouble), "ms"),
      ("entry.eager_jobs", perReq(_.jobsIn("entry.construct").length), "count"),
      ("catalyst.analysis_ms", perReq(_.analysisMs), "ms"),
      ("catalyst.optimization_ms", perReq(_.optimizationMs), "ms"),
      ("catalyst.planning_ms", perReq(_.planningMs), "ms"),
      ("codegen.compile_ms", perReq(_.compileMs), "ms"),
      ("scheduler.jobs_per_req", perReq(_.jobs.length), "count"),
      ("scheduler.stages_per_req", perReq(_.stats.stages), "count"),
      ("scheduler.tasks_per_req", perReq(_.stats.tasks), "count"),
      ("scheduler.driver_gap_ms", perReq(r => r.request.millis - r.jobCoveredMillis), "ms"),
      ("scheduler.single_task_stage_frac",
        if (stages == 0) 0.0 else reqs.map(_.stats.singleTaskStages).sum.toDouble / stages, "fraction"),
      ("scheduler.failed_tasks", reqs.map(_.stats.failedTasks).sum.toDouble, "count"),
      ("executor.task_cpu_ms", perReq(_.stats.cpuNs / 1e6), "ms"),
      ("executor.task_run_ms", perReq(_.stats.runMs), "ms"),
      ("executor.cpu_util", if (covered == 0) 0.0 else cpuMs / (covered.toDouble * cores), "fraction"),
      ("executor.gc_ms", perReq(_.stats.gcMs), "ms"),
      ("shuffle.write_bytes", perReq(_.stats.shuffleWrite), "bytes"),
      ("shuffle.read_bytes", perReq(_.stats.shuffleRead), "bytes"),
      ("shuffle.fetch_wait_ms", perReq(_.stats.fetchWaitMs), "ms"),
      ("shuffle.spill_disk_bytes", perReq(_.stats.spillDisk), "bytes"),
      ("storage.block_bytes", perReq(_.blockBytes), "bytes"),
      ("csv.validate_ms", perUpload(_.phaseMillis("csv.validate")), "ms"),
      ("csv.ingest_ms", perUpload(_.phaseMillis("csv.ingest")), "ms"),
      ("csv.scans_per_upload", perUpload(_.csvScans), "count"),
      ("issues.ms", perUpload(_.phaseMillis("issues")), "ms"),
      ("sinks.write_ms", perUpload(_.phaseMillis("sinks.write")), "ms"),
      ("sinks.bytes_written", perUpload(_.sinkBytes), "bytes"),
      ("sinks.files_written", perUpload(_.sinkFiles), "count"),
      ("trace.requests", reqs.length.toDouble, "count"),
      ("trace.overhead_pct", overheadPct, "%"))
  }
}
