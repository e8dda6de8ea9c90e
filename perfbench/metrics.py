"""Names, units and directions of every metric the benchmark reports.

End-to-end metrics are reported on every workload by the untraced run;
per-layer metrics by the traced run, on every workload, zero where the
workload does not touch the layer.
"""

from __future__ import annotations

# (name, unit, better, bound): bound is the share of the parent's median by
# which the metric may get worse before a change counts as a regression
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_cpu_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
]

CURATION_QUERIES = ("q89", "q176")
STREAMING_QUERIES = ("q115", "q218")
# the 12 ingest-artifact builders and the program module that defines each
ARTIFACT_BUILDERS = {
    "cdc_chunk_index": "queries.dedup",
    "doc_signature_index": "queries.sig_index",
    "emb_enriched": "queries.emb_index",
    "doc_prefix_rank_index": "queries.sig_index",
    "frozen_centroids": "queries.emb_index",
    "sig_delta_landing": "queries.sig_index",
    "refresh_centroids": "queries.emb_index",
    "cdc_delta_landing": "queries.dedup",
    "base_assignments": "queries.emb_index",
    "emb_delta_landing": "queries.emb_index",
    "full_assignments": "queries.emb_index",
    "reassignment_delta": "queries.emb_index",
}

_S, _B, _N, _R = "s", "bytes", "count", "ratio"

PER_LAYER = [
    ("session.get_spark_s", _S, "lower"),
    ("session.load_tables_s", _S, "lower"),
    ("session.worker_warm_s", _S, "lower"),
    ("sources.sniff_s", _S, "lower"),
    ("sources.preshard_s", _S, "lower"),
    ("sources.parse_s", _S, "lower"),
    ("sources.input_bytes", _B, "lower"),
    ("sources.parse_tasks", _N, "higher"),
    ("operators.shred.construct_s", _S, "lower"),
    ("operators.shred.shuffle_write_bytes", _B, "lower"),
    ("operators.shred.spill_bytes", _B, "lower"),
    ("sinks.write_s", _S, "lower"),
    ("sinks.output_bytes", _B, "lower"),
    ("sinks.rows", _N, "higher"),
    ("sinks.files", _N, "lower"),
    ("sinks.lake_bytes_per_xml_byte", _R, "lower"),
    ("pipeline.load_dumps_s", _S, "lower"),
    ("pipeline.core_util", _R, "higher"),
    ("pipeline.driver_gap_s", _S, "lower"),
    ("pipeline.records_per_s", "records/s", "higher"),
    ("queries.construct_s", _S, "lower"),
    ("queries.exec_s", _S, "lower"),
    ("queries.driver_gap_s", _S, "lower"),
    ("queries.jobs", _N, "lower"),
    ("queries.stages", _N, "lower"),
    ("queries.tasks", _N, "lower"),
    ("queries.executor_run_s", _S, "lower"),
    ("queries.executor_cpu_s", _S, "lower"),
    ("queries.gc_s", _S, "lower"),
    ("queries.shuffle_read_bytes", _B, "lower"),
    ("queries.shuffle_write_bytes", _B, "lower"),
    ("queries.spill_bytes", _B, "lower"),
    ("queries.input_bytes", _B, "lower"),
    ("queries.core_util", _R, "higher"),
    ("queries.failed_tasks", _N, "lower"),
    ("queries.driver_actions", _N, "lower"),
    ("queries.collect_rows", _N, "lower"),
    ("queries.python_bytes_out", _B, "lower"),
    ("queries.python_bytes_in", _B, "lower"),
    *((f"queries.artifact.{b}_s", _S, "lower") for b in ARTIFACT_BUILDERS),
    ("queries.artifact.build_s", _S, "lower"),
    *(m for q in CURATION_QUERIES + STREAMING_QUERIES
      for m in ((f"queries.{q}.wall_s", _S, "lower"), (f"queries.{q}.jobs", _N, "lower"))),
    ("operators.dedup.cc_calls", _N, "lower"),
    ("operators.dedup.cc_s", _S, "lower"),
    ("operators.dedup.cc_jobs", _N, "lower"),
    ("streaming.batches", _N, "lower"),
    ("streaming.input_rows", _N, "higher"),
    ("streaming.trigger_s", _S, "lower"),
    ("streaming.add_batch_s", _S, "lower"),
    ("streaming.get_batch_s", _S, "lower"),
    ("streaming.latest_offset_s", _S, "lower"),
    ("streaming.query_planning_s", _S, "lower"),
    ("streaming.wal_commit_s", _S, "lower"),
    ("streaming.commit_offsets_s", _S, "lower"),
    ("streaming.state_rows", _N, "lower"),
    ("streaming.state_memory_bytes", _B, "lower"),
    ("streaming.state_commit_s", _S, "lower"),
    ("streaming.drain_overhead_s", _S, "lower"),
    ("streaming.batch_p50_s", _S, "lower"),
    ("streaming.drain_rows_per_s", "rows/s", "higher"),
    ("run.pass_wall_s", _S, "lower"),
    ("run.op_geomean_s", _S, "lower"),
    ("run.op_tail_s", _S, "lower"),
    ("run.jit_cpu_s", _S, "lower"),
    ("run.setup_wall_s", _S, "lower"),
    ("run.failed_op_share", _R, "lower"),
    ("trace.overhead_cpu_s", _S, "lower"),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
