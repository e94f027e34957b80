"""Names and units of every metric the benchmark prints.
``BENCHMARK.json`` lists the same names."""

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "py_rss_mb": "MB",
}

# Every traced run prints every name; a layer the workload does not run
# reports 0.
PER_LAYER = {
    "extract.us_per_doc": "us", "extract.bytes_per_doc": "B",
    "nlp.us_per_doc": "us", "nlp.mentions_per_doc": "count", "nlp.entities_per_doc": "count",
    "model.encode_us_per_doc": "us", "model.nodes_us_per_doc": "us",
    "model.adj_us_per_doc": "us", "model.rgcn_us_per_doc": "us",
    "model.predict_us_per_doc": "us", "model.preds_per_doc": "count",
    "inference.stage_s": "s", "inference.tasks": "count", "inference.task_cpu_s": "s",
    "inference.task_skew": "ratio", "inference.rows_out": "count",
    "inference.pred_rows": "count", "inference.collapse_ratio": "ratio",
    "pipeline.prepare_s": "s", "pipeline.rows_in": "count", "pipeline.rows_eligible": "count",
    "pipeline.rows_latest": "count", "pipeline.exchange_mb": "MB", "pipeline.to_triples_s": "s",
    "linking.dedup_s": "s", "linking.triples_out": "count",
    "lineage.first_pass_s": "s", "lineage.resume_s": "s", "lineage.pending_groups_s": "s",
    "lineage.read_triples_s": "s", "lineage.jobs_per_pass": "count",
    "lineage.files_written": "count", "lineage.bytes_written_mb": "MB",
    "lineage.manifest_rows": "count",
    "io.entities_s": "s", "io.entity_rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "trace.untraced_wall_s": "s", "trace.traced_wall_s": "s", "trace.overhead_s": "s",
}

# Output and work counts a speed change should leave alone are marked
# "higher" too: a drop means work went missing.
HIGHER_IS_BETTER = {
    "docs_per_s", "inference.tasks", "inference.collapse_ratio",
    "extract.bytes_per_doc", "nlp.mentions_per_doc", "nlp.entities_per_doc",
    "model.preds_per_doc", "inference.pred_rows", "pipeline.rows_in",
    "pipeline.rows_eligible", "pipeline.rows_latest", "linking.triples_out",
    "lineage.manifest_rows", "io.entity_rows",
}

# span name -> per-layer time metric
SPAN_METRICS = {
    "pipeline.prepare": "pipeline.prepare_s",
    "pipeline.to_triples": "pipeline.to_triples_s",
    "linking.dedup": "linking.dedup_s",
    "lineage.first_pass": "lineage.first_pass_s",
    "lineage.resume": "lineage.resume_s",
    "lineage.pending_groups": "lineage.pending_groups_s",
    "lineage.read_triples": "lineage.read_triples_s",
    "io.entities": "io.entities_s",
}
