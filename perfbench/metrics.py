"""Names and units of everything the benchmark reports.

BENCHMARK.json declares the same names; selftest.py checks that every
name here is emitted with its unit, and that the two lists agree.
"""

from __future__ import annotations

WORKLOADS = {
    "batch_headline": "wl_batch",
    "spreadsheet_session": "wl_session",
    "table_maintenance": "wl_tables",
}

# Scale factor of each workload's generated data.
SCALE = {"batch_headline": 0.02, "spreadsheet_session": 0.1, "table_maintenance": 0.1}

# The 31 headline queries (bench.py HEADLINE when this benchmark was
# defined).  Pinned here so the workload cannot drift with bench.py.
HEADLINE = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q10_returned_items", "q18_large_orders",
    "a4_histogram_numeric", "a6_heatmap", "a8_heavy_hitters",
    "a11_quantiles_exact", "a13_next_k", "ext_window_rank",
    "x1_tumbling_window", "x6_sessionization_batch", "ext_asof_join",
    "n1_dedup_exact", "n1_minhash_near_dups", "n2_ann_brute_force",
    "n4_token_count", "q13_customer_distribution", "q15_top_supplier",
    "q22_global_sales_opportunity", "n6_decontamination",
    "n6_decontamination_hashed", "n4_repetition_stats", "n1_url_dedup",
    "n5_boilerplate_removal", "n1_entity_resolution", "n1_containment_join",
    "n7_connected_components", "s19_time_travel",
)

# End-to-end metrics: every workload reports all of them.
E2E = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p75_s": "s",
}

# Workload-level figures under the names the design uses; printed on the
# detail line of every run and among the per-layer metrics of a traced
# run.  A figure that does not apply to a workload is 0 there.
DETAIL = {
    "batch_total_s": "s",
    "batch_query_p50_s": "s",
    "ui_request_p50_s": "s",
    "ui_request_p90_s": "s",
    "ui_first_tier_p50_s": "s",
    "ui_final_tier_p50_s": "s",
    "write_op_p50_s": "s",
    "write_op_p90_s": "s",
    "read_op_p50_s": "s",
    "storage_amplification": "ratio",
    "cache_mb_end": "MB",
    "failed_frac": "ratio",
}

EXEC = {
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.input_mb": "MB", "exec.spill_mb": "MB",
    "exec.python_data_mb": "MB", "exec.straggler_s": "s",
}

LAYERS = {
    "setup.session_s": "s", "setup.prepare_s": "s", "setup.step_s": "s", "setup.server_bind_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    **EXEC,
    "batch.build_s": "s", "batch.eager_jobs": "count", "batch.plan_s": "s",
    "batch.exec_s": "s", "batch.persist_bearing": "count",
    **{f"batch.query.{q}_s": "s" for q in HEADLINE},
    "ui.server_self_s": "s", "ui.response_kb": "KB", "ui.jobs_per_request": "count",
    "ui.page_p50_s": "s", "ui.histogram_p50_s": "s", "ui.colstats_p50_s": "s",
    "ui.heavy_hitters_p50_s": "s", "ui.cdf_p50_s": "s", "ui.quantiles_p50_s": "s",
    "ui.sql_p50_s": "s", "ui.prefix_first_tier_p50_s": "s",
    "ui.merge_first_tier_p50_s": "s", "ui.prefix_final_p50_s": "s",
    "ui.merge_final_p50_s": "s", "ui.tier_gap_p50_s": "s",
    "ui.jobs_per_stream": "count", "ui.cached_rdds_end": "count",
    "writes.commit_p50_s": "s", "writes.upsert_p50_s": "s",
    "writes.delete_p50_s": "s", "writes.jobs_per_op": "count",
    "writes.files_written": "count", "writes.bytes_written_mb": "MB",
    "writes.lookup_p50_s": "s", "writes.timetravel_p50_s": "s",
    "writes.diff_p50_s": "s", "writes.lookup_files_read_frac": "ratio",
    "writes.audit_aborts": "count",
    **DETAIL,
    "trace.spans": "count", "trace.overhead_s": "s",
    "trace.self.setup_s": "s", "trace.self.op_s": "s",
    "trace.self.build_s": "s", "trace.self.write_s": "s",
    "trace.self.request_s": "s", "trace.self.write_op_s": "s",
    "trace.self.read_op_s": "s", "trace.self.check_s": "s",
}
