"""Metric assembly: end-to-end metrics (untraced run), per-layer metrics
(traced run) and the exact, host-independent counters of every run.

Every run prints every metric of its list, whatever its workload; a
per-layer metric of a layer the workload does not exercise reads 0.
Per-layer times and counts of repeated operations are means per
operation (per micro-batch, per call, per chain pass), so runs that fit
a different number of operations in their window stay comparable. A
layer's ``.ms`` is its self time: span time minus its child spans; its
event-log counters include its children. The DIM layer's fold runs inside
``upsert_dims`` and so inside ``dim.ms``; ``lakehouse.fold_ms`` times it
from its commit.
"""

from __future__ import annotations

from perfbench.common import median

# name → unit, in the order of BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_ms": "ms",
    "read_p50_ms": "ms",
    "bytes_per_input_byte": "ratio",
}

MEDALLION_LAYERS = ["ods", "dwd", "dim", "dws", "dm"]
LAYER_FIELDS = {
    "ms": "ms", "rows": "count", "stages": "count", "tasks": "count",
    "run_ms": "ms", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
}
HEADS = [
    "pricing_summary", "shipping_priority", "local_supplier_volume",
    "user_login_wide", "browse_wide", "user_points",
]
HEAD_FIELDS = {"ms": "ms", "stages": "count", "shuffle_bytes": "bytes", "rows_out": "count"}
LLM_STEPS = [
    "quality_buckets", "exact_dedup", "near_dups", "simhash_near_pairs",
    "topk", "connected_components", "bm25_topk",
]
LLM_FIELDS = {
    "ms": "ms", "run_ms": "ms", "jobs": "count", "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
}


def _per_layer_units() -> dict[str, str]:
    u = {
        "session.start_ms": "ms",
        "setup.gen_ms": "ms",
        "setup.stage_ms": "ms",
        "traced.op_p50_ms": "ms",
        "traced.read_p50_ms": "ms",
        "traced.throughput_per_s": "1/s",
        "process.peak_pss_mb": "MB",
    }
    for layer in MEDALLION_LAYERS:
        for f, unit in LAYER_FIELDS.items():
            u[f"{layer}.{f}"] = unit
    u.update(
        {
            "batch.tail_ms": "ms",
            "batch.tail_pct": "%",
            "batch.samples": "count",
            "sources.scans_per_batch": "ratio",
            "streaming.overhead_ms": "ms",
            "dim.eq_delete_files": "count",
            "dim.rows_rewritten_per_row": "ratio",
            "lakehouse.fold_ms": "ms",
            "lakehouse.commits": "count",
            "lakehouse.files_written": "count",
            "lakehouse.bytes_written": "bytes",
            "lakehouse.compact_ms": "ms",
            "lakehouse.expire_ms": "ms",
            "lakehouse.bytes_rewritten": "bytes",
            "lakehouse.lookup_p50_ms": "ms",
            "lakehouse.lookup_tail_ms": "ms",
            "lakehouse.lookup_samples": "count",
            "lakehouse.lookup_files_read": "count",
            "lakehouse.rows_examined_per_result": "ratio",
            "lakehouse.scan_p50_ms": "ms",
            "lakehouse.scan_tail_ms": "ms",
            "lakehouse.travel_ms": "ms",
        }
    )
    for h in HEADS:
        for f, unit in HEAD_FIELDS.items():
            u[f"queries.{h}.{f}"] = unit
    for step in LLM_STEPS:
        for f, unit in LLM_FIELDS.items():
            u[f"llm.{step}.{f}"] = unit
    u["llm.python_bytes"] = "bytes"
    u["llm.candidate_precision"] = "ratio"
    return u


PER_LAYER = _per_layer_units()


def _wrap(vals: dict, units: dict) -> dict:
    return {k: {"value": float(vals.get(k, 0.0)), "unit": u} for k, u in units.items()}


def end_to_end(w, setup_s: float) -> dict:
    vals = {
        "setup_s": setup_s,
        "throughput_per_s": w.units() / w.elapsed_s,
        "op_p50_ms": median(w.latencies()),
        "read_p50_ms": median(w.read_latencies()),
        "bytes_per_input_byte": w.disk_bytes() / w.input_bytes(),
    }
    return _wrap(vals, END_TO_END)


def exact_counters(w) -> dict:
    return dict(sorted(w.exact_counters().items()))


def per_layer(w, layers: dict, setup: dict, peak_pss_mb: float) -> dict:
    """``layers``: span name → counters from :func:`trace.layer_counters`."""
    vals = {
        "process.peak_pss_mb": peak_pss_mb,
        "traced.read_p50_ms": median(w.read_latencies()),
        "session.start_ms": setup["session.start_ms"],
        "setup.gen_ms": setup["gen_ms"],
        "setup.stage_ms": setup["stage_ms"],
        "traced.op_p50_ms": median(w.latencies()),
        "traced.throughput_per_s": w.units() / w.elapsed_s,
    }
    vals.update(w.layer_metrics(layers))
    return _wrap(vals, PER_LAYER)


def per_call(layers: dict, name: str, field: str, calls: int | None = None) -> float:
    d = layers.get(name)
    if not d:
        return 0.0
    n = calls if calls is not None else d["calls"]
    return d[field] / n if n else 0.0
