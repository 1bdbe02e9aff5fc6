package perfbench

/** Every per-layer metric a traced run reports, named after the module
  * that does the work. A layer a workload does not exercise reads 0. The
  * genic-QC metrics are reported by genic_qc alone; every other name is
  * reported by every workload and is listed in BENCHMARK.json. */
object Layers {
  val names: Seq[String] = Seq(
    // sources: VcfSource and VariantStore
    "sources.vcf.parse_s", "sources.vcf.decode_serial_s", "sources.vcf.records",
    "sources.store.append_s", "sources.store.bytes_written",
    "sources.store.files_written", "sources.store.scan_bytes",
    "sources.store.rewrite_s", "sources.store.rewrite_amplification",
    // operators: VariantLoader and GenicQcJob
    "operators.load.normalize_s", "operators.load.alleles",
    "operators.load.genic_s", "operators.load.genic_ratio",
    "operators.load.dedup_s", "operators.load.dedup_hit_ratio",
    "operators.load.mint_s", "operators.load.new_variants",
    "operators.load.end_pos_updates", "operators.load.melt_s",
    "operators.load.melt_rows", "operators.load.melt_keep_ratio",
    "operators.load.detail_antijoin_hit_ratio", "operators.load.details_new",
    "operators.qc.loci", "operators.qc.probed_variants",
    "operators.qc.annotate_s", "operators.qc.changed_rows",
    // streaming + sql: the clustered layout table and its SQL DML
    "streaming.layout.ingest_s", "streaming.layout.delete_p50_s",
    "streaming.layout.update_p50_s", "streaming.layout.merge_p50_s",
    "streaming.layout.scan_p50_s", "streaming.layout.units_examined",
    "streaming.layout.units_pruned_ratio",
    "streaming.layout.bytes_rewritten_per_byte_changed",
    "streaming.layout.ledger_markers", "sql.dml.planning_s",
    "sql.dml.ops_per_s",
    // the Spark runtime under all of them
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.core_busy_ratio",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_disk_bytes", "spark.task_skew", "spark.planning_s",
    "spark.driver_gap_s",
    // the JVM: heap still in use after a full GC, peak over the run
    "jvm.live_heap_peak_mb",
    // the trace itself
    "trace.job_s", "trace.overhead_ratio")

  val qc: Set[String] = Set("operators.qc.loci", "operators.qc.probed_variants",
    "operators.qc.annotate_s", "operators.qc.changed_rows",
    "sources.store.rewrite_s", "sources.store.rewrite_amplification")

  /** The metrics `workload` reports, each 0. */
  def zero(workload: String): Map[String, Double] =
    names.filter(n => workload == "genic_qc" || !qc(n)).map(_ -> 0.0).toMap
}
