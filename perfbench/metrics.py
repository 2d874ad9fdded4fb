"""The benchmark's metrics: names, units, and how one pass yields them.

Every workload reports every metric of its kind, so the lists below are
the same for all workloads; a layer a workload does not run reports 0 for
its per-layer metrics.
"""

from __future__ import annotations

import math
import os
import statistics

from .probes import SPARK_COUNTERS, jvm_pid, peak_rss_bytes
from .tracing import covered

END_TO_END = {
    "run_s": "s",  # one pass, first call to last result materialized
    "setup_s": "s",  # session start + seeded generation/materialization
    "peak_rss_mb": "MB",  # VmHWM of the driver plus its JVM child
}

SPANS = ("sources", "extract", "pagerank", "lpa", "cc", "triangles", "stream_cc")
SPAN_COUNTERS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "shuffle_bytes": "bytes",  # shuffle write: each shuffled byte once
    "executor_run_s": "s",
    "gc_s": "s",
    "core_busy": "ratio",  # executor run time / (span wall x cores)
}
PER_LAYER = {
    "sources.generate_s": "s",
    "sources.rows": "count",
    "extract.s": "s",
    "extract.turns_in": "count",
    "extract.edges_out": "count",
    "iterate.supersteps": "count",
    "iterate.superstep_p50_s": "s",
    "iterate.superstep_max_s": "s",
    "pagerank.s": "s",
    "pagerank.prep_s": "s",
    "pagerank.iterations": "count",
    "lpa.s": "s",
    "lpa.prep_s": "s",
    "lpa.iterations": "count",
    "cc.s": "s",
    "triangles.s": "s",
    "stream_cc.s": "s",
    "stream_cc.vs_full_ratio": "ratio",
    "pr_lpa_edges_per_s": "1/s",
    **{f"{s}.{c}": u for s in SPANS for c, u in SPAN_COUNTERS.items()},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy": "ratio",
    "trace.run_s": "s",  # traced pass wall time, probes included
    "trace.overhead_s": "s",  # status-store reads inside the traced pass
    "trace.uncovered_s": "s",  # pass time outside every operation span
    "trace.uncovered_share": "ratio",  # of the pass time net of overhead
}


def _span_counters(spark_counts: dict, wall: float, cores: int) -> dict:
    out = {c: spark_counts[c] for c in ("jobs", "stages", "tasks", "executor_run_s", "gc_s")}
    out["shuffle_bytes"] = spark_counts["shuffle_write_bytes"]
    out["core_busy"] = spark_counts["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
    return out


def _rows_wall(rows) -> list[float]:
    return [float(r["wall_sec"]) for r in rows]


def pass_metrics(wl, res, bad: dict, pass_span, spans: list, cores: int) -> dict:
    """Everything one pass yields: its end-to-end values and, from the pass's
    spans (present only when traced), its per-layer values."""
    m = {"run_s": pass_span.duration}

    for op, secs in res.seconds.items():
        m[f"{op}.s"] = secs
    for op in ("pagerank", "lpa"):
        if op in res.rows:
            walls = _rows_wall(res.rows[op])
            m[f"{op}.iterations"] = len(walls)
            m[f"{op}.prep_s"] = res.seconds[op] - sum(walls)
    steps = _rows_wall(res.rows.get("pagerank", [])) + _rows_wall(res.rows.get("lpa", []))
    if steps:
        m["iterate.supersteps"] = len(steps)
        m["iterate.superstep_p50_s"] = statistics.median(steps)
        m["iterate.superstep_max_s"] = max(steps)
        m["pr_lpa_edges_per_s"] = wl.directed_edges * len(steps) / (
            res.seconds["pagerank"] + res.seconds["lpa"]
        )
    if "stream_cc" in res.seconds and "cc" in res.seconds:
        m["stream_cc.vs_full_ratio"] = res.seconds["stream_cc"] / res.seconds["cc"]
    if "extract" in res.seconds and "extract" not in bad:  # output == oracle table
        m["extract.turns_in"] = wl.turns
        m["extract.edges_out"] = len(wl.edge_table)

    if spans:  # traced: spans[0] is the pass, the rest its operations
        ops = spans[1:]  # operation spans do not nest
        total = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for s in spans:
            for c in SPARK_COUNTERS:
                total[c] += s.spark[c]
        for s in ops:
            for c, v in _span_counters(s.spark, s.duration, cores).items():
                m[f"{s.name}.{c}"] = v
        overhead = sum(s.probe_s for s in ops)
        wall = pass_span.duration - overhead
        for c in SPARK_COUNTERS:
            m[f"spark.{c}"] = total[c]
        m["spark.core_busy"] = total["executor_run_s"] / (wall * cores)
        uncovered = pass_span.duration - covered([(s.start, s.end) for s in ops]) - overhead
        m["trace.run_s"] = pass_span.duration
        m["trace.overhead_s"] = overhead
        m["trace.uncovered_s"] = uncovered
        m["trace.uncovered_share"] = uncovered / wall
    return m


def summarize(passes: list[dict], session_s: float, setup, rows: int, traced: bool,
              spark, cores: int) -> dict:
    """{name: {"value", "unit"}}: the one set-up, medians over passes."""
    values = {
        "setup_s": session_s + setup.duration,
        "peak_rss_mb": (peak_rss_bytes(os.getpid()) + peak_rss_bytes(jvm_pid(spark))) / 2**20,
        "sources.generate_s": setup.duration,
        "sources.rows": rows,
    }
    if traced:
        for c, v in _span_counters(setup.spark, setup.duration, cores).items():
            values[f"sources.{c}"] = v
    keys = {k for p in passes for k in p}
    for k in keys:
        values[k] = statistics.median(p[k] for p in passes if k in p)
    catalog = PER_LAYER if traced else END_TO_END
    out = {}
    for name, unit in catalog.items():
        v = float(values.get(name, 0.0))
        if not math.isfinite(v):
            raise ValueError(f"metric {name} is {v}")
        out[name] = {"value": v, "unit": unit}
    return out
