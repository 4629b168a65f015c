"""The benchmark's metric catalogue.

``END_TO_END`` maps each end-to-end metric to its unit; ``PER_LAYER`` maps
each per-layer metric to the end-to-end metric, and workload, it should
move. BENCHMARK.json lists the same names.
"""

import statistics

import spans


def p95(xs) -> float:
    """95th percentile, by the inclusive method."""
    return statistics.quantiles(xs, n=20, method="inclusive")[18]


END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "cpu_s": "s",
}
# the relational workload's query mix
MIX = (
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_local_supplier_volume",
    "q18_large_volume_customers",
    "window_rank_topn",
    "session_window_30m",
    "flagship_user_netflow",
    "sync_dense_flush",
    "dedup_minhash_lsh_pairs",
    "similarity_topk_bruteforce",
    "reducer_netflow_batch",
    "reducer_netflow_arrow",
)
LAYER_SPANS = (
    "sources",
    "operators.sync.dedup",
    "functions.decode",
    "operators.sync.flush",
    "sources.sinks",
    "streaming.reducer",
)
# per-layer metric -> the end-to-end metric (and workload) it should move
_PAPER_PATH = "throughput_per_s and cpu_s on tail"
PER_LAYER = {
    "session.start_s": "setup_s on both workloads",
    "session.warmup_s": "setup_s on both workloads",
    **dict.fromkeys(
        ["sources.busy_s", "sources.rows_out", "sources.useful_ratio",
         "sources.scan_floor_ratio", "operators.sync.dedup.busy_s",
         "operators.sync.dedup.rows_dropped", "functions.decode.busy_s",
         "functions.decode.rows_out", "operators.sync.flush.busy_s",
         "operators.sync.flush.empty_groups", "sources.sinks.write_s",
         "sources.sinks.bytes_written", "sources.sinks.files"],
        _PAPER_PATH,
    ),
    "streaming.reducer.busy_s": "latency_p95_ms and cpu_s on relational",
    "streaming.reducer.keys": "latency_p95_ms and cpu_s on relational",
    **{
        f"{s}.{c}": (
            "latency_p95_ms and cpu_s on relational" if s == "streaming.reducer" else _PAPER_PATH
        )
        for s in LAYER_SPANS
        for c in spans.COUNTERS
    },
    **dict.fromkeys(
        ["sources.rpc.get_logs_calls", "sources.rpc.block_number_calls",
         "sources.rpc.node_busy_s", "sources.rpc.schedule_late_ms", "sources.lag_blocks_max"],
        "throughput_per_s and latency_p50_ms on tail",
    ),
    **dict.fromkeys(
        ["streaming.batches", "streaming.empty_batch_ratio"]
        + [
            f"streaming.batch.{p}_ms_p50"
            for p in ("trigger", "latest_offset", "planning", "add_batch", "commit")
        ],
        "latency_p50_ms on tail",
    ),
    **dict.fromkeys(
        ["operators.sync.dedup.state_rows", "operators.sync.dedup.state_bytes",
         "operators.sync.dedup.state_commit_ms"],
        "latency_p95_ms and peak_rss_mb on tail",
    ),
    **{
        f"plans.{q}.{k}": "throughput_per_s, latency and cpu_s on relational"
        for q in MIX
        for k in ("wall_s", "cpu_s", "shuffle_bytes", "spill_bytes", "jobs")
    },
    "trace_overhead_s": "none: the tracer's own cost",
}


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_ms") or name.endswith("_ms_p50"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"
