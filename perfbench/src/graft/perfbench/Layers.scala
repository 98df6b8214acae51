package graft.perfbench

/** The per-layer metric set. Every workload's traced run prints all of
  * them; a layer a workload does not exercise reads 0. */
object Layers {
  val All: Seq[(String, String)] =
    ServeArchive.Routes.flatMap(r => Seq(
      s"http.route_ms.p50.$r" -> "ms", s"http.route_ms.p99.$r" -> "ms")) ++
    Seq(
      "serve_p99_ms" -> "ms",
      "http.resp_cache_hit_ratio" -> "ratio",
      "config.state_ms.p50" -> "ms",
      "manifest.latest_version_ms.p50" -> "ms",
      "manifest.read_ms.p50" -> "ms",
      "manifest.versions" -> "count",
      "manifest.live_files" -> "count",
      "manifest.files_added" -> "count",
      "manifest.write_amplification" -> "ratio",
      "direct.hit_ratio" -> "ratio",
      "direct.serve_ms.p50" -> "ms",
      "direct.serve_ms.p99" -> "ms",
      "engine.serve_ms.p50" -> "ms",
      "spark.jobs_per_req" -> "jobs",
      "ingest_rows_per_s" -> "rows/s",
      "visible_p50_ms" -> "ms",
      "visible_p99_ms" -> "ms",
      "ingest.batches" -> "count",
      "ingest.rows_per_batch.p50" -> "rows",
      "ingest.trigger_ms.p50" -> "ms",
      "ingest.trigger_ms.p99" -> "ms",
      "ingest.get_batch_ms.p50" -> "ms",
      "ingest.latest_offset_ms.p50" -> "ms",
      "ingest.spool_files" -> "count",
      "ingest.lines_per_spool_file" -> "lines",
      "ingest.add_batch_ms.p50" -> "ms",
      "ingest.wal_commit_ms.p50" -> "ms",
      "ingest.jobs_per_batch" -> "jobs",
      "ingest.source_rows_per_committed_row" -> "ratio",
      "ingest.feeder_late_ms.p99" -> "ms",
      "cascade.catchup_ms.p50" -> "ms",
      "cascade.jobs" -> "count",
      "cascade.task_ms" -> "ms",
      "cascade.parallel_eff" -> "ratio",
      "cascade.shuffle_write_bytes" -> "B",
      "cascade.spill_bytes" -> "B",
      "cascade.rows_written.600" -> "rows",
      "cascade.rows_written.3600" -> "rows",
      "maintenance.run_ms.p50" -> "ms",
      "maintenance.files_compacted" -> "count",
      "setup.config_ms" -> "ms",
      "setup.materialize_ms" -> "ms",
      "setup.jobs" -> "count",
      "setup.parallel_eff" -> "ratio",
      "heap_live_mb" -> "MB",
      "jvm.gc_ms" -> "ms",
      "spark.cached_rdds_end" -> "count",
      "trace.overhead_pct" -> "%")

  /** Fill in every metric of [[All]] a workload did not report. */
  def complete(m: Map[String, Metric]): Map[String, Metric] =
    All.map { case (n, u) => n -> m.getOrElse(n, Metric(0.0, u)) }.toMap

  /** Catch-up cycles: wall times plus the Spark work counted under the
    * "cascade" job group. */
  def cascade(ledger: JobLedger, cyclesMs: Seq[Double], cores: Int,
              rowsWritten: Map[Long, Long]): Map[String, Metric] = {
    val a = ledger.acc("cascade")
    val wall = cyclesMs.sum
    Map(
      "cascade.catchup_ms.p50" -> Metric(Stats.pct(cyclesMs, 50), "ms"),
      "cascade.jobs" -> Metric(a.jobs.sum.toDouble, "count"),
      "cascade.task_ms" -> Metric(a.taskMs.sum.toDouble, "ms"),
      "cascade.parallel_eff" -> Metric(
        if (wall <= 0) 0.0 else a.taskMs.sum / (wall * cores), "ratio"),
      "cascade.shuffle_write_bytes" -> Metric(a.shuffleWrite.sum.toDouble, "B"),
      "cascade.spill_bytes" -> Metric(a.spill.sum.toDouble, "B"),
      "cascade.rows_written.600" ->
        Metric(rowsWritten.getOrElse(600L, 0L).toDouble, "rows"),
      "cascade.rows_written.3600" ->
        Metric(rowsWritten.getOrElse(3600L, 0L).toDouble, "rows"))
  }

  def setup(configMs: Double, materializeMs: Double, jobs: Long,
            taskMs: Long, setupS: Double, cores: Int): Map[String, Metric] =
    Map(
      "setup.config_ms" -> Metric(configMs, "ms"),
      "setup.materialize_ms" -> Metric(materializeMs, "ms"),
      "setup.jobs" -> Metric(jobs.toDouble, "count"),
      "setup.parallel_eff" -> Metric(taskMs / (setupS * 1e3 * cores), "ratio"))
}
