"""What ``BENCHMARK.json`` has no key for.

``BENCHMARK.json`` at the repository root is the only source of the
workload names, the metric names, units, directions and bounds. This
module adds each batch workload's rows and, for every per-layer metric,
the end-to-end metric it is expected to move and on which workload.
"""

from __future__ import annotations

import json
import os

# The registry rows each batch workload runs, in pass order.
ROWS = {
    "dedup_growth": ["q_d2_ngram_jaccard", "q_d3_minhash_lsh", "q_d4_simhash", "q_d6_dup_clusters"],
    "stream_resequence": [],
}


def row_metric(row: str) -> str:
    return f"row.{row}.wall_s"


# per-layer metric -> what it should move, as "end-to-end metric@workload"
MOVES = {
    "session.start_s": "setup_s@all",
    "queries.build_s": "batch_wall_s@dedup_growth (q_d3 eager checkpoint)",
    "queries.build_job_s": "batch_wall_s@dedup_growth (q_d3 eager checkpoint)",
    "queries.build_py4j_calls": "batch_wall_s@dedup_growth",
    "queries.build_jobs": "batch_wall_s@dedup_growth (q_d3 eager checkpoint)",
    "catalyst.analysis_s": "batch_wall_s@dedup_growth",
    "catalyst.optimization_s": "batch_wall_s@dedup_growth",
    "catalyst.planning_s": "batch_wall_s@dedup_growth",
    "io.input_bytes": "batch_wall_s@dedup_growth",
    "io.input_rows": "batch_wall_s@dedup_growth",
    "execute.action_s": "batch_wall_s@dedup_growth",
    "execute.task_run_s": "batch_wall_s@dedup_growth",
    "execute.task_cpu_s": "batch_wall_s@dedup_growth, batch_cpu_s@dedup_growth",
    "execute.gc_s": "peak_rss_mb@all",
    "execute.jobs": "batch_wall_s@dedup_growth",
    "execute.stages": "batch_wall_s@dedup_growth",
    "execute.tasks": "batch_wall_s@dedup_growth",
    "execute.failed_tasks": "failed@all",
    "execute.core_busy_ratio": "batch_wall_s@dedup_growth",
    "shuffle.write_bytes": "batch_wall_s@dedup_growth, batch_cpu_s@dedup_growth; not stream_resequence",
    "shuffle.read_bytes": "batch_wall_s@dedup_growth, batch_cpu_s@dedup_growth; not stream_resequence",
    "shuffle.spill_bytes": "batch_wall_s@dedup_growth, batch_cpu_s@dedup_growth",
    "shuffle.skew": "batch_wall_s@dedup_growth",
    "python.worker_cpu_s": "latency_p50_s@stream_resequence, batch_cpu_s@stream_resequence; not dedup_growth",
    "streaming.batches": "ops_per_s@stream_resequence",
    "streaming.input_rows": "ops_per_s@stream_resequence",
    "streaming.backlog_files_end": "ops_per_s@stream_resequence",
    "streaming.latency_samples": "latency_p50_s@stream_resequence",
    "streaming.latest_offset_s": "batch_wall_s@stream_resequence, latency_p50_s@stream_resequence",
    "streaming.get_batch_s": "batch_wall_s@stream_resequence, latency_p50_s@stream_resequence",
    "streaming.query_planning_s": "batch_wall_s@stream_resequence, latency_p50_s@stream_resequence",
    "streaming.add_batch_s": "batch_wall_s@stream_resequence, latency_p50_s@stream_resequence",
    "streaming.wal_commit_s": "batch_wall_s@stream_resequence, latency_p50_s@stream_resequence",
    "streaming.commit_offsets_s": "batch_wall_s@stream_resequence, latency_p50_s@stream_resequence",
    "streaming.latency_tail_s": "latency_p50_s@stream_resequence",
    "state.rows_total": "peak_rss_mb@stream_resequence",
    "state.memory_bytes": "peak_rss_mb@stream_resequence",
    "state.commit_s": "latency_p50_s@stream_resequence (tail)",
    "sinks.write_s": "latency_p50_s@stream_resequence",
    "sinks.batches": "latency_p50_s@stream_resequence",
    "loadgen.events": "validity of stream_resequence",
    "loadgen.late_s_max": "validity of stream_resequence",
    "trace.overhead_s": "none (tracing cost)",
    "trace.unattributed_s": "none (tracing cost)",
    **{row_metric(r): f"batch_wall_s@{w}" for w, rows in ROWS.items() for r in rows},
}


def load(root: str) -> dict:
    """``BENCHMARK.json`` in ``root``."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)
