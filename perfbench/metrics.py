"""Names and units of the metrics the benchmark reports.

``E2E`` is what a user of the engine sees, measured with tracing off
(median latency and peak memory are printed too, but their run-to-run
spread is too wide to gate on);
``LAYERS`` are per-module numbers from a traced run.  Every workload
reports every metric; a layer that a workload does not call reads 0.
``BENCHMARK.json`` at the repository root lists the same names and
units (``tests/test_harness.py`` keeps them in step).
"""

from __future__ import annotations

E2E: dict[str, str] = {
    "setup_s": "s",
    "requests_per_s": "1/s",
}

LAYERS: dict[str, str] = {
    "session.start_s": "s",
    "sources.generate_s": "s",
    "sources.input_bytes": "bytes",
    "colfile.write_s": "s",
    "colfile.open_s": "s",
    "colfile.action_s": "s",
    "colfile.row_groups_read_ratio": "ratio",
    "colfile.bytes_per_row": "bytes",
    "queries.build_s": "s",
    "io.read_table_s": "s",
    "io.read_table_reuse_ratio": "ratio",
    "plan.analysis_s": "s",
    "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_failures": "count",
    "exec.executor_run_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_s": "s",
    "dedup.exact_s": "s",
    "dedup.signatures_s": "s",
    "dedup.candidates_s": "s",
    "dedup.verify_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.true_pairs": "count",
    "dedup.verify_yield": "ratio",
    "caching.entries": "count",
    "caching.cached_bytes": "bytes",
    "skipping.update_index_s": "s",
    "skipping.plan_s": "s",
    "skipping.files_kept_ratio": "ratio",
    "manifest.versions_retained": "count",
    "deletes.delete_where_s": "s",
    "deletes.tombstones": "count",
    "deletes.read_with_deletes_s": "s",
    "layout.compact_s": "s",
    "layout.vacuum_s": "s",
    "layout.bytes_rewritten": "bytes",
    "layout.files_on_disk": "count",
    "io.append_s": "s",
    "io.bytes_written": "bytes",
    "trace.requests_per_s": "1/s",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}
