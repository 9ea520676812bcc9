"""Every metric the benchmark reports: name, unit, direction and, for a
per-layer metric, the end-to-end metric and workload it should move.
BENCHMARK.json at the repository root lists the same names."""

from __future__ import annotations

import statistics

WORKLOADS = ("tpch_scaled", "llm_operators", "lakehouse_etl")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "op_tail_s": ("s", "lower"),
    "stored_bytes_ratio": ("ratio", "lower"),
}

_LLM_P50 = "op_p50_s on llm_operators"
_LLM_PASS = "pass_s on llm_operators"
_LLM_TAIL = "op_tail_s on llm_operators"
_TPCH_PASS = "pass_s on tpch_scaled"
_LAKE_PASS = "pass_s on lakehouse_etl"

# name -> (unit, better, what it should move)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s on every workload"),
    "session.jvm_peak_rss_mib": ("MiB", "lower", "none (reported, not gated)"),
    "sources.load_s": ("s", "lower", _LLM_P50),
    "sources.memo_hit_frac": ("frac", "higher", _LLM_P50),
    "sources.scan_bytes": ("bytes", "lower", _TPCH_PASS),
    "sources.scan_rows": ("count", "lower", _TPCH_PASS),
    "sources.cdf_start_s": ("s", "lower", "op_tail_s on lakehouse_etl"),
    "sources.cdf_batches": ("count", "lower", _LAKE_PASS),
    "sources.cdf_rows_per_s": ("1/s", "higher", _LAKE_PASS),
    "catalog.build_s": ("s", "lower", _LLM_P50),
    "catalog.eager_jobs": ("count", "lower", f"{_LLM_P50}, op_tail_s on llm_operators"),
    "operators.dedup.self_s": ("s", "lower", _LLM_TAIL),
    "operators.similarity.self_s": ("s", "lower", _LLM_TAIL),
    "operators.graph.self_s": ("s", "lower", _LLM_TAIL),
    "operators.sketches.self_s": ("s", "lower", _LLM_TAIL),
    "operators.bpe.self_s": ("s", "lower", _LLM_TAIL),
    "operators.cached_frames": ("count", "lower", _LLM_PASS),
    "functions.python_rows": ("count", "lower", _LLM_PASS),
    "functions.python_bytes": ("bytes", "lower", _LLM_PASS),
    "spark.plan_s": ("s", "lower", _LLM_P50),
    "spark.tasks": ("count", "lower", _LLM_P50),
    "spark.exec_s": ("s", "lower", _TPCH_PASS),
    "spark.executor_run_s": ("s", "lower", _TPCH_PASS),
    "spark.executor_cpu_s": ("s", "lower", _TPCH_PASS),
    "spark.gc_s": ("s", "lower", _TPCH_PASS),
    "spark.shuffle_read_bytes": ("bytes", "lower", _TPCH_PASS),
    "spark.shuffle_write_bytes": ("bytes", "lower", _TPCH_PASS),
    "spark.core_busy_frac": ("frac", "higher", _TPCH_PASS),
    "spark.spill_bytes": ("bytes", "lower", "op_tail_s on tpch_scaled"),
    "spark.task_skew": ("ratio", "lower", _LLM_TAIL),
    "streaming.commit_s": ("s", "lower", f"{_LAKE_PASS}, stored_bytes_ratio on lakehouse_etl"),
    "streaming.commits": ("count", "lower", f"{_LAKE_PASS}, stored_bytes_ratio on lakehouse_etl"),
    "streaming.files_written": ("count", "lower", f"{_LAKE_PASS}, stored_bytes_ratio on lakehouse_etl"),
    "streaming.snapshot_plan_s": ("s", "lower", "op_p50_s on lakehouse_etl"),
    "streaming.files_scanned_frac": ("frac", "lower", "op_p50_s on lakehouse_etl"),
    "playstore.read_csv_s": ("s", "lower", _LAKE_PASS),
    "playstore.schema_memo_hit_frac": ("frac", "higher", _LAKE_PASS),
    **{f"playstore.part{i}_s": ("s", "lower", _LAKE_PASS) for i in range(1, 6)},
    "playstore.bytes_written": ("bytes", "lower", "stored_bytes_ratio on lakehouse_etl"),
    "trace.coverage_frac": ("frac", "higher", "none (share of pass wall covered by layer spans)"),
    "trace.overhead_s": ("s", "lower", "none (traced pass_s minus untraced pass_s)"),
}


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """The latency at the highest percentile with at least ten samples
    above it: (value, percentile, sample count). With ten samples or
    fewer it is the maximum."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return (xs[-1] if xs else 0.0), 100.0, n
    k = n - 11  # 0-based: ten samples lie above xs[k]
    return xs[k], 100.0 * (k + 1) / n, n


def end_to_end(client: dict, input_bytes: int) -> dict:
    """End-to-end metrics from the client's untraced warm passes."""
    warm = [p for p in client["passes"] if p["kind"] == "warm"]
    lat = [op["latency_s"] for p in warm for op in p["ops"] if op["error"] is None]
    value, pct, n = tail(lat)
    return {
        "setup_s": client["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in warm),
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "op_tail_s": value,
        "op_tail_percentile": pct,
        "op_samples": n,
        "stored_bytes_ratio": statistics.median(
            (input_bytes + p["written_bytes"]) / input_bytes for p in warm
        ),
    }


def per_layer(client: dict) -> dict:
    """Per-layer metrics: medians over the traced passes."""
    traced = [p for p in client["passes"] if p["kind"] == "traced"]
    warm = [p for p in client["passes"] if p["kind"] == "warm"]
    out = {}
    for name in PER_LAYER:
        vals = [p["layers"][name] for p in traced if name in p["layers"]]
        if vals:
            out[name] = statistics.median(vals)
    out["session.start_s"] = client["session_start_s"]
    out["session.jvm_peak_rss_mib"] = client["jvm_peak_rss_mib"]
    out["trace.coverage_frac"] = statistics.median(p["layers"]["trace.covered_s"] / p["wall_s"] for p in traced)
    out["trace.overhead_s"] = statistics.median(p["wall_s"] for p in traced) - statistics.median(
        p["wall_s"] for p in warm
    )
    return out
