"""The benchmark's metric declarations: one source for what run.py prints
and what BENCHMARK.json declares (test_perfbench.py keeps them equal).

Every workload prints every metric of its mode. A per-layer metric of a
layer the workload never calls reads 0 (its spans never open).
"""

from __future__ import annotations

#: (name, unit, better, bound) -- printed with --trace 0.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
    ("result_recall", "frac", "higher", 0.05),
]

#: Spans whose per-op wall time, self time and job count are printed.
SPANS = [
    "session.get_spark",
    "engine.attach",
    "hive_sql.query",
    "engine.sql",
    "engine.collect",
    "llm_curation.pass",
    "operators.dedup.exact_dedup",
    "operators.dedup.near_duplicates_minhash",
    "operators.clustering.dedup_groups",
    "operators.similarity.exact_topk_pairs_blockwise",
    "operators.ivf.build_ivf",
    "operators.ivf.ivf_knn_join",
    "lake_upsert.cycle",
    "sources.delta_log.delta_write",
    "sources.delta_log.delta_merge",
    "sources.delta_log.delta_scan",
    "lake.read_collect",
    "sources.delta_log.delta_optimize",
]

#: The op spans (one per workload) also get every Spark stage counter.
OP_SPANS = ["hive_sql.query", "llm_curation.pass", "lake_upsert.cycle"]

OP_COUNTERS = [
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("input_bytes", "B", "lower"),
    ("shuffle_read_bytes", "B", "lower"),
    ("shuffle_write_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
    ("executor_run_s", "s", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("core_busy_frac", "frac", "higher"),
]

#: Counts and ratios measured at layer boundaries (means over the run).
COUNTS = [
    ("setup.cold_s", "s", "lower"),
    ("operators.dedup.lsh_candidate_pairs", "count", "lower"),
    ("operators.dedup.verified_pairs", "count", "higher"),
    ("operators.dedup.verify_yield", "frac", "higher"),
    ("operators.ivf.scored_frac", "frac", "lower"),
    ("near_dup_recall", "frac", "higher"),
    ("ann_recall_at_10", "frac", "higher"),
    ("sources.delta_log.live_files", "count", "lower"),
    ("sources.delta_log.dv_files", "count", "lower"),
    ("sources.delta_log.log_versions", "count", "lower"),
    ("sources.delta_log.bytes_written", "B", "lower"),
    ("lake.bytes_per_user_byte", "ratio", "lower"),
    ("lake.upsert_rows_per_s", "rows/s", "higher"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.op_p50_s", "s", "lower"),
]


def per_layer() -> list[tuple[str, str, str]]:
    out = []
    for s in SPANS:
        out += [(f"{s}_s", "s", "lower"), (f"{s}.self_s", "s", "lower"),
                (f"{s}.jobs", "count", "lower")]
    for s in OP_SPANS:
        out += [(f"{s}.{c}", u, b) for c, u, b in OP_COUNTERS]
    return out + COUNTS


def declared() -> dict:
    """The metric part of BENCHMARK.json."""
    return {
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in per_layer()],
    }
