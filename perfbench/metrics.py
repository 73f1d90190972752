"""The reported metrics: names, units and where each value comes from.

Every workload reports every metric.  A per-layer metric of a layer the
workload never calls reads 0 — measured, not assumed: the workload made
no such call.  A value the event log does not carry reads ``"unknown"``.
"""

from __future__ import annotations

from .trace import UNKNOWN
from .workloads import CORPUS_KERNELS, E2E_STAGES, LOOP_QUERIES

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}

_LAYERS = {
    "sources.extract_s": "s",
    "sources.extract_calls": "count",
    "sources.bronze_files": "count",
    "sources.bronze_bytes": "bytes",
    "sources.read_bronze_s": "s",
    "sources.scan_tasks": "count",
    "etl.normalize_s": "s",
    "etl.exploded_rows": "count",
    "etl.silver_rows.albums": "count",
    "etl.silver_rows.artists": "count",
    "etl.silver_rows.songs": "count",
    "etl.dedup_keep_ratio": "ratio",
    "etl.write_gold_s": "s",
    "etl.gold_bytes": "bytes",
    "etl.validate_s": "s",
    "etl.violations": "count",
    "etl.reference_analytics_s": "s",
    "streaming.run_incremental_s": "s",
    "streaming.epochs": "count",
    "streaming.snapshot_bytes_written": "bytes",
    "streaming.write_amplification": "ratio",
    "streaming.silver_bytes": "bytes",
}
_EVENTLOG = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "executor_cpu_s": "s",
    "executor_run_s": "s",
    "jvm_gc_s": "s",
}
WORKLOAD_FIGURES = {
    "query_mix_s": "s",
    "capstone_s": "s",
    "etl_batch_tracks_per_s": "tracks/s",
    "ingest_to_queryable_p50_s": "s",
    "storage_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "session.worker_warm_s": "s",
    **_LAYERS,
    **{f"queries.{q}_s": "s" for q in CORPUS_KERNELS},
    **{f"queries.{k}": u for k, u in _EVENTLOG.items()},
    **{f"operators.jobs.{q}": "count" for q in LOOP_QUERIES},
    "operators.python_worker_s": "s",
    **{f"operators.e2e.{s}_s": "s" for s in E2E_STAGES},
    "operators.e2e.composition_gap_s": "s",
    "trace_overhead_frac": "fraction",
    "error_rate": "fraction",
    **WORKLOAD_FIGURES,
}


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(b) -> dict:
    return {name: _m(b.figures[name], unit) for name, unit in END_TO_END.items()}


def per_layer(b) -> dict:
    f = b.figures
    layers = f.get("layers", {})
    queries = f.get("queries", {})
    ev = f.get("eventlog", {})
    loops = f.get("loop_jobs", {})
    e2e = f.get("e2e", {})
    spans = b.tracer.seconds
    v: dict[str, object] = {
        "session.get_spark_s": spans("session.get_spark")[0],
        "session.worker_warm_s": sum(spans("session.worker_warm")),
        **{k: layers.get(k, 0) for k in _LAYERS},
        **{f"queries.{q}_s": queries.get(q, 0) for q in CORPUS_KERNELS},
        **{f"queries.{k}": ev.get(k, 0) for k in _EVENTLOG},
        **{f"operators.jobs.{q}": loops.get(q, 0) for q in LOOP_QUERIES},
        "operators.python_worker_s": f.get("python_worker_s", UNKNOWN),
        **{f"operators.e2e.{s}_s": e2e.get(s, 0) for s in E2E_STAGES},
        "operators.e2e.composition_gap_s": e2e.get("composition_gap", 0),
        "trace_overhead_frac": f["trace_overhead_frac"],
        "error_rate": b.failed / max(b.attempted, 1),
        **{k: f.get(k, 0) for k in WORKLOAD_FIGURES},
    }
    return {name: _m(v[name], unit) for name, unit in PER_LAYER.items()}

