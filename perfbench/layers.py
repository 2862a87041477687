"""Per-layer numbers of a traced run: spans joined with the Spark jobs
they launched."""

from __future__ import annotations

import linecache
import re
from collections import defaultdict

from . import probe
from statistics import median

from .stats import tail_percentile

# Unit of each per-layer metric printed by a traced run of any workload (0
# where the workload does not reach the layer). The layers that only the
# workloads BENCHMARK.json does not list reach (checkpoint.*, dedup.*,
# text.quality_s) are in the trace file's `layers`.
UNITS = {
    "session.start_s": "s",
    "jvm.gc_s": "s",
    "jvm.jit_cpu_s": "s",
    "driver.gap_s": "s",
    "spark.job_wall_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.cpu_s": "s",
    "spark.cpu_share": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.rows_scanned_per_turn": "ratio",
    "spark.task_skew": "ratio",
    "sink.write_s": "s",
    "sink.bytes_per_turn": "B",
    "schema.check_s": "s",
    "fused.build_s": "s",
    "fused.verdicts_s": "s",
    "verdicts.results_json_s": "s",
    "verdicts.report_s": "s",
    "drift_check.wall_s": "s",
    "drift_check.jobs": "count",
    "serving.jobs_per_request": "count",
    "trace.overhead_ratio": "ratio",
}

# Per-layer wall time: metric -> span name (summed over an operation).
SPAN_SECONDS = {
    "schema.check_s": "schema.check",
    "fused.build_s": "fused.build",
    "fused.verdicts_s": "fused.verdicts",
    "verdicts.results_json_s": "verdicts.results_json",
    "verdicts.report_s": "verdicts.report",
    "pipeline.build_s": "pipeline.build",
    "checkpoint.run_s": "checkpoint.run",
    "checkpoint.pending_s": "checkpoint.pending",
    "checkpoint.load_results_s": "checkpoint.load_results",
    "drift_check.wall_s": "drift_check.transcript_drift",
    "dedup.pipeline_s": "dedup.pipeline",
    "dedup.ngram_pairs_s": "dedup.ngram_pairs",
}

# Spark jobs launched under a span or its descendants: metric -> span name.
SPAN_JOBS = {
    "checkpoint.jobs": "checkpoint.run",
    "drift_check.jobs": "drift_check.transcript_drift",
    "serving.jobs_per_request": "serving.validate_json_batch",
}

# jobs.dedup_cli.run_dedup_pipeline counts its documents before its first
# stage and after each: exact dedup, MinHash near-dup, quality filter. A
# stage's time runs from the end of one count ("dedup.count" span) to the
# end of the next.
DEDUP_STAGES = ("dedup.exact_s", "dedup.minhash_s", "text.quality_s")

# Spans whose directly launched jobs are split by engine call site.
API_SPANS = (
    "validate_cli.main",
    "serving.validate_json_batch",
    "checkpoint.run",
    "dedup.pipeline",
    "dedup.ngram_pairs",
)

_CALLSITE = re.compile(r" at (.+):(\d+)$")


def job_layer(job: dict) -> str:
    """Layer of a job launched directly by an API span: a sink if it wrote
    bytes, else read from the engine source line of its PySpark call site
    ('collect at /path/file.py:12')."""
    if job["output_bytes"] > 0:
        return "sink.write"
    m = _CALLSITE.search(job["callsite"] or "")
    if not m:
        return "other"
    if "schema" in linecache.getline(m.group(1), int(m.group(2))):
        return "schema.check"
    return "actions"


def _dedup_stage_walls(spans: list[dict]) -> dict:
    ends = sorted(s["end"] for s in spans if s["name"] == "dedup.count")
    if len(ends) != len(DEDUP_STAGES) + 1:
        return dict.fromkeys(DEDUP_STAGES, 0.0)
    return {name: b - a for name, a, b in zip(DEDUP_STAGES, ends, ends[1:])}


def _jobs_under(spans: list[dict], jobs: list[dict], root_ids: list[str]) -> list[dict]:
    ids = set()
    for r in root_ids:
        ids |= probe.descendants(spans, r)
    return [j for j in jobs if j["group"] in ids]


def _per_op(spans: list[dict], jobs: list[dict], op: dict) -> dict:
    ids = probe.descendants(spans, op["id"])
    sub = [s for s in spans if s["id"] in ids]
    op_jobs = [j for j in jobs if j["group"] in ids]
    c = probe.group_counters(jobs, ids)
    wall = op["end"] - op["start"]
    turns = max(op.get("turns", 0), 1)
    sink = [j for j in op_jobs if j["output_bytes"] > 0]
    out = {
        "wall_s": wall,
        "turns": op.get("turns", 0),
        "driver.gap_s": wall - c["job_wall_ms"] / 1000,
        "spark.job_wall_s": c["job_wall_ms"] / 1000,
        "spark.jobs": c["jobs"],
        "spark.stages": c["stages"],
        "spark.tasks": c["tasks"],
        "spark.cpu_s": c["cpu_ns"] / 1e9,
        "spark.shuffle_write_mb": c["shuffle_write_bytes"] / 2**20,
        "spark.spill_mb": c["spill_bytes"] / 2**20,
        "spark.rows_scanned_per_turn": c["input_records"] / turns,
        "spark.task_skew": probe.task_skew(op_jobs),
        "sink.write_s": sum((j["end_ms"] - j["submit_ms"]) / 1000 for j in sink if j["end_ms"]),
        "sink.bytes_per_turn": c["output_bytes"] / turns,
    }
    for metric, name in SPAN_SECONDS.items():
        out[metric] = sum(s["end"] - s["start"] for s in sub if s["name"] == name)
    for metric, name in SPAN_JOBS.items():
        roots = [s["id"] for s in sub if s["name"] == name]
        out[metric] = len(_jobs_under(spans, op_jobs, roots))
    out.update(_dedup_stage_walls(sub))
    return out


def _by_span(spans: list[dict], jobs: list[dict], n_ops: int) -> dict:
    """Per span name, per operation: calls, wall, self time, and the Spark
    jobs launched in the span's own job group."""
    selfs = probe.self_times(spans)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if not s["trace"].startswith("op"):
            continue
        own = probe.group_counters(jobs, {s["id"]})
        agg = out[s["name"]]
        agg["calls"] += 1
        agg["wall_s"] += s["end"] - s["start"]
        agg["self_s"] += selfs[s["id"]]
        agg["jobs"] += own["jobs"]
        agg["tasks"] += own["tasks"]
        agg["job_wall_s"] += own["job_wall_ms"] / 1000
        agg["cpu_s"] += own["cpu_ns"] / 1e9
        agg["output_mb"] += own["output_bytes"] / 2**20
    return {
        name: {k: v / max(n_ops, 1) for k, v in agg.items()} for name, agg in out.items()
    }


def _callsites(spans: list[dict], jobs: list[dict], n_ops: int) -> dict:
    """Jobs launched directly by the top-level API spans, split by their
    engine call site."""
    api = {s["id"] for s in spans if s["name"] in API_SPANS}
    out: dict[str, dict] = {}
    for j in jobs:
        if j["group"] not in api:
            continue
        rec = out.setdefault(
            j["callsite"], {"layer": job_layer(j), "jobs": 0, "job_wall_s": 0.0, "output_mb": 0.0}
        )
        rec["jobs"] += 1 / max(n_ops, 1)
        if j["end_ms"] is not None:
            rec["job_wall_s"] += (j["end_ms"] - j["submit_ms"]) / 1000 / max(n_ops, 1)
        rec["output_mb"] += j["output_bytes"] / 2**20 / max(n_ops, 1)
    return out


def summarize(
    spans: list[dict],
    jobs: list[dict],
    traced: list[dict],
    untraced: list[dict],
    session_start_s: float,
    gc_ms: int,
) -> dict:
    """Per-layer metrics of a traced run: medians over the traced
    operations of the values `_per_op` derives from their spans and jobs.
    `traced` and `untraced` are the operation samples of run.py (wall,
    CPU and JIT CPU seconds)."""
    ops = [s for s in spans if s["name"] == "op"]
    per_op = [_per_op(spans, jobs, op) for op in ops]
    med = {k: median([p[k] for p in per_op]) for k in per_op[0] if k != "turns"}
    walls_t = [s["wall_s"] for s in traced if s["wall_s"] is not None]
    walls_u = [s["wall_s"] for s in untraced if s["wall_s"] is not None]
    cpu_t = [s["cpu_s"] for s in traced if s["cpu_s"] is not None]
    metrics = {k: med[k] for k in UNITS if k in med}
    metrics.update(
        {
            "session.start_s": session_start_s,
            "jvm.gc_s": gc_ms / 1000 / len(ops),
            "jvm.jit_cpu_s": median([s["jit_s"] for s in traced if s["jit_s"] is not None]),
            "spark.cpu_share": med["spark.cpu_s"] / median(cpu_t),
            "trace.overhead_ratio": median(walls_t) / median(walls_u),
        }
    )
    span_ids = {s["id"] for s in spans}
    return {
        "metrics": {k: metrics[k] for k in UNITS},
        "layers": {**med, **metrics},
        "by_span": _by_span(spans, jobs, len(ops)),
        "callsites": _callsites(spans, jobs, len(ops)),
        "per_op": per_op,
        "latency_tail": tail_percentile(walls_u + walls_t),
        "unattributed_jobs": sum(1 for j in jobs if j["group"] not in span_ids),
    }
