package lakebench

/** The per-layer metrics of a traced run, one fixed list for every
  * workload so that runs compare name by name. A layer that does no
  * work in a workload reports 0. Counters and times are per timed
  * operation (a rebuild, a dashboard request, a query) unless the name
  * says otherwise. On dashboard_serving, `pipeline.*`, `catalog.*`,
  * `storage.files_written`, `storage.bytes_written` and
  * `storage.write_amp` are those of the set-up build.
  */
object Layers {

  val Queries: Seq[String] = Seq(
    "q08_a1_groupby_agg", "q11_a9_median", "q15_w1_row_number", "q16_j1_left_join_agg",
    "q17_j2_dim_join", "q28_a6_reagg", "q30_flagship_dss_shape", "q32_tpch_q3_shape",
    "q33_tpch_q5_shape", "q55_window_suite")
  val OperatorQueries: Seq[String] = Seq(
    "q144_robust_stats", "q164_ks_drift", "q195_bpe_depth32", "q54_rollup",
    "q87_corpus_curation")

  val Names: Seq[String] = Seq(
    "sessions.session_s",
    "pipeline.bronze_write_s", "pipeline.bronze_read_s",
    "pipeline.silver_laps_s", "pipeline.silver_weather_s", "pipeline.silver_results_s",
    "pipeline.gold_dss_s", "pipeline.gold_tes_s", "pipeline.row_count_s",
    "quality.contract_s",
    "catalog.commands", "catalog.command_s",
    "serving.session_date_ms", "serving.kpis_ms", "serving.fastest_laps_ms",
    "serving.team_summary_ms", "serving.pace_evolution_ms",
    "serving.safesql_validate_ms", "serving.safesql_exec_ms",
    "serving.rows_read_per_row_returned",
    "catalyst.plan_ms") ++
    (Queries ++ OperatorQueries).map(q => s"queries.${q}_s") ++ Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.scheduler_delay_s",
    "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.shuffle_fetch_wait_s", "spark.spill_bytes",
    "storage.files_read", "storage.bytes_read", "storage.files_written",
    "storage.bytes_written", "storage.write_amp",
    "trace.phase_gap_share", "trace.overhead_share")

  /** The fixed list, filled from `measured` (other keys are dropped). */
  def of(measured: collection.Map[String, Double]): Map[String, Double] =
    Names.map(n => n -> measured.getOrElse(n, 0.0)).toMap
}
