"""Metric names, units and better-directions.

``END_TO_END`` is what a plain run prints; ``PER_LAYER`` what the traced
run prints, named ``<module>.<metric>`` after the ``dicomdb_spark``
module the layer lives in.  BENCHMARK.json lists the same metrics in
the same order; ``tests/test_perfbench.py`` keeps the two in step.
Which end-to-end metric each layer metric should move is in README.md.
"""

from __future__ import annotations

from perfbench.workloads import AUDIT_QUERIES

END_TO_END: tuple[tuple[str, str, str], ...] = (
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("op_p50_s", "s", "lower"),
    ("op_tail_s", "s", "lower"),
    ("items_per_s", "1/s", "higher"),
    ("correct_op_ratio", "ratio", "higher"),
    ("peak_rss_mb", "MB", "lower"),
)

ENGINE_LAYERS = (
    "sources.inventory",
    "sources.dicom",
    "operators.stacks",
    "pipeline",
    "operators.joins",
    "sources.jdbc",
    "streaming",
    "registry",
    "llm",
)
ENGINE_UNITS = (
    ("tasks", "count"),
    ("cpu_s", "s"),
    ("gc_s", "s"),
    ("scheduler_delay_s", "s"),
    ("fetch_wait_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("python_bytes", "bytes"),
)

PER_LAYER: tuple[tuple[str, str, str], ...] = (
    ("session.start_s", "s", "lower"),
    ("sources.inventory.list_s", "s", "lower"),
    ("sources.inventory.scan_s", "s", "lower"),
    ("sources.inventory.scan_tasks", "count", "lower"),
    ("sources.inventory.files_listed", "count", "lower"),
    ("sources.inventory.files_selected", "count", "higher"),
    ("sources.inventory.selected_ratio", "ratio", "higher"),
    ("sources.dicom.parse_s", "s", "lower"),
    ("sources.dicom.parse_calls", "count", "lower"),
    ("sources.dicom.parses_per_file", "ratio", "lower"),
    ("sources.dicom.corrupt_rows", "count", "lower"),
    ("operators.stacks.assemble_s", "s", "lower"),
    ("operators.stacks.stacks_out", "count", "higher"),
    ("pipeline.exam_s", "s", "lower"),
    ("pipeline.exams_out", "count", "higher"),
    ("operators.joins.merge_classify_s", "s", "lower"),
    ("operators.joins.merge_inserts", "count", "lower"),
    ("operators.joins.merge_updates", "count", "lower"),
    ("operators.joins.merge_noops", "count", "higher"),
    ("sources.jdbc.upsert_s", "s", "lower"),
    ("sources.jdbc.statements", "count", "lower"),
    ("sources.jdbc.rows_written", "count", "lower"),
    ("sources.jdbc.commits", "count", "lower"),
    ("sources.jdbc.readback_s", "s", "lower"),
    ("sources.jdbc.readback_rows", "count", "lower"),
    ("streaming.start_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.wal_commit_s", "s", "lower"),
    ("streaming.latest_offset_s", "s", "lower"),
    ("streaming.input_rows", "count", "higher"),
    ("registry.plan_s", "s", "lower"),
    *((f"registry.{q}.exec_s", "s", "lower") for q in AUDIT_QUERIES),
    ("operators.joins.exec_s", "s", "lower"),
    ("operators.windows.exec_s", "s", "lower"),
    ("operators.aggregates.exec_s", "s", "lower"),
    ("llm.dedup.signature_s", "s", "lower"),
    ("llm.dedup.candidate_pairs", "count", "lower"),
    ("llm.similarity.bucket_s", "s", "lower"),
    ("llm.similarity.pair_dots_s", "s", "lower"),
    ("llm.similarity.pairs_scored", "count", "lower"),
    ("trace.untraced_ops_per_s", "1/s", "higher"),
    ("trace.traced_ops_per_s", "1/s", "higher"),
    ("trace.overhead_ratio", "ratio", "lower"),
    *((f"{layer}.{k}", unit, "lower") for layer in ENGINE_LAYERS for k, unit in ENGINE_UNITS),
)
