"""The benchmark's workload and metric names, in one place.

`BENCHMARK.json` at the repository root must list exactly these (the
self-test `test_bench.py` pins it).
"""

WORKLOADS = ["batch", "stream-ingest"]

# The 18 headline batch queries, run as one mix; the harness takes the
# names from here.
RELATIONAL = ["q1_pricing_summary", "q3_distinct_aggs", "q9_revenue_by_nation",
              "q10_left_join", "q21_sort_limit_offset",
              "qsql1_shipping_priority", "qw1_running_sum", "qw5_tumble",
              "qw7_session"]
PIPELINE = ["qp1_dedup_exact", "qp4_minhash_pairs", "qp5_ngram_jaccard",
            "qp7_curation_pipeline", "qt1_text_stats", "qe2_knn_brute",
            "qm1_media_meta", "qg1_connected_components", "qc1_cep_view_error"]
BATCH = RELATIONAL + PIPELINE

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "latency_ms_p50", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "latency_ms_p99", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "throughput", "unit": "1/s", "better": "higher", "bound": 0.25},
    {"name": "peak_rss_mb", "unit": "MiB", "better": "lower", "bound": 0.25},
]


def _per_layer():
    out = []

    def add(name, unit, better="lower"):
        out.append({"name": name, "unit": unit, "better": better})

    for layer in ["operators", "pipeline", "graph", "streaming"]:
        add(f"{layer}.build_s", "s")
        add(f"{layer}.plan_s", "s")
        add(f"{layer}.exec_s", "s")
        add(f"{layer}.jobs", "count")
        add(f"{layer}.tasks", "count")
        add(f"{layer}.task_cpu_s", "s")
        add(f"{layer}.shuffle_bytes", "bytes")
        add(f"{layer}.shuffle_records", "count")
        add(f"{layer}.spill_bytes", "bytes")
        add(f"{layer}.scan_rows", "count")
        add(f"{layer}.busy_ratio", "ratio", "higher")
    add("Engine.session_s", "s")
    add("Engine.clear_cache_s", "s")
    for q in RELATIONAL + PIPELINE:
        add(f"q.{q}.exec_s", "s")
        add(f"q.{q}.jobs", "count")
        add(f"q.{q}.shuffle_records", "count")
    for op in ["window", "cep", "dedup"]:
        add(f"streaming.{op}.batch_s_p50", "s")
        add(f"streaming.{op}.add_batch_s", "s")
        add(f"streaming.{op}.state_rows", "count")
        add(f"streaming.{op}.state_bytes", "bytes")
        add(f"streaming.{op}.state_commit_s", "s")
        add(f"streaming.{op}.late_dropped", "count")
        add(f"streaming.{op}.rows_out", "count", "higher")
    add("streaming.ingest.backlog_rows", "count")
    add("streaming.ingest.get_batch_s", "s")
    add("generator.lag_ms", "ms")
    add("trace.overhead_query_s_p50", "s")
    add("trace.overhead_latency_ms_p50", "ms")
    return out


PER_LAYER = _per_layer()


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    pos = q * (len(s) - 1)
    lo, hi = int(pos), min(int(pos) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)
