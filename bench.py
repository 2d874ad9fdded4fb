"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is the total of the per-query BEST times.  Extra keys
(`edges_per_sec`, `iters_per_sec`, `cores`) carry the BASELINE.json
metric (PageRank + LPA iterations/sec and edges/sec).

Bimodality robustness (VERDICT r3 #3): the host's cycle grant is ~2×
bimodal over minutes, so a single sweep is a coin flip between the fast
and slow phase.  One invocation therefore runs SPARK_GRAFT_BENCH_REPEATS
(default 3) INTERLEAVED sweeps of the whole headline set — sweep 1 all
queries, sweep 2 all queries, … so a phase flip hits every query
equally — and records per-query best (`queries`) AND median
(`queries_median`) plus `value` (Σ best) and `total_median` (Σ median).
Round-over-round comparisons read best-vs-best from this one file; no
HISTORY.md archaeology needed.

Scaling-efficiency evidence (north_rule: N → 4N executors, sandboxed as
local[8] → local[32]) is produced by tools/scaling_bench.py which invokes
this file at two parallelism levels (with its own cross-level repeat
interleaving, so it pins SPARK_GRAFT_BENCH_REPEATS=1); results recorded
in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PR_ITERS = 10
LPA_ITERS = 5


def _rss_cpu() -> tuple[int, float]:
    """(driver-process VmRSS bytes, cumulative CPU seconds) — the engine
    analogue of the reference's Q10 resource probes
    (utils/quality_measures.cpp:190-220 VmRSS / CPU deltas). Local mode:
    the Python driver's footprint; the JVM's RSS is read from /proc of the
    child via the JVM metric below when available."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    cpu = ru.ru_utime + ru.ru_stime
    rss = ru.ru_maxrss * 1024  # linux: KiB
    return rss, cpu


def _jvm_rss_bytes() -> int:
    """Peak RSS of the in-process JVM (local mode: the whole executor),
    summed over /proc children of this process."""
    total = 0
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parts = f.read().split()
                if int(parts[3]) != os.getpid():  # ppid
                    continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, ValueError, IndexError):
                continue
    except OSError:
        pass
    return total


def main() -> None:
    proc_t0 = time.perf_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1

    from pyspark.sql import functions as F

    from sbm_communitydetection_spark.operators.components import connected_components
    from sbm_communitydetection_spark.operators.label_propagation import label_propagation
    from sbm_communitydetection_spark.operators.pagerank import pagerank
    from sbm_communitydetection_spark.operators.triangles import triangle_count
    from sbm_communitydetection_spark.session import get_spark
    from sbm_communitydetection_spark.sources.tpch_graph import bench_edges

    n_verts = int(os.environ.get("SPARK_GRAFT_BENCH_VERTS", "1000000"))
    amplify = int(os.environ.get("SPARK_GRAFT_BENCH_AMPLIFY", "8"))
    # which queries to time (csv); the scaling run restricts to the
    # north-rule metric's pair (pagerank,lpa) for stable measurements
    which = set(
        os.environ.get(
            "SPARK_GRAFT_BENCH_QUERIES",
            "transcript_extract,pagerank,pagerank_bucketed,lpa,lpa_bucketed,connected_components,triangle_count,triangle_count_bucketed,degree_topk,near_dup_clusters,anf,bm25_topk",
        ).split(",")
    )
    # the scaling harness pins shuffle partitions across parallelism
    # levels (a real cluster keeps partitioning fixed when scaling
    # executors); default remains partitions == cores
    parts = int(os.environ.get("SPARK_GRAFT_BENCH_PARTS", str(cores)))

    spark = get_spark(app_name="bench", cores=cores, shuffle_partitions=parts)
    spark.sparkContext.setLogLevel("ERROR")

    # Materialize the AMPLIFIED benchmark edge table once (cached, as a
    # real deployment would read an already-written Iceberg/Parquet edge
    # table). ~10M directed edges at sf0.1 — compute-bound, so the
    # two-parallelism scaling run measures shuffles, not the scheduler.
    edges = bench_edges(spark, sf_dir, n_verts=n_verts, amplify=amplify).localCheckpoint(
        eager=True
    )
    n_edges = edges.count()  # directed half-edges

    # iteration-timing mode: report Σ per-iteration wall seconds from the
    # IterationDriver's lineage metrics instead of end-to-end wall time.
    # One-time setup (adjacency build, first parquet read) amortizes to
    # nothing over a real run's iteration count but dominates the
    # end-to-end number at bench scale — and its disk-cache variance
    # swamps the scaling signal this harness exists to measure.
    iter_timing = os.environ.get("SPARK_GRAFT_BENCH_ITER_TIMING", "0") == "1"
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))

    # each runner returns None (wall time is the measurement) or a float
    # override (iteration-timing mode)
    def run_extract():
        # the A+B payload axis end-to-end: events → transcript schema →
        # reply/tool link extraction → symmetrized weighted edge table
        from sbm_communitydetection_spark.operators.extract import extract_graph
        from sbm_communitydetection_spark.sources.events_transcripts import (
            events_transcripts,
        )

        t = events_transcripts(spark, sf_dir)
        _, tedges = extract_graph(t)
        tedges.count()

    def run_pr():
        pr_metrics: list = []
        pagerank(
            spark,
            edges,
            damping=0.85,
            tolerance=-1.0,
            max_iterations=PR_ITERS,
            collect_metrics=pr_metrics,
        ).count()
        if iter_timing and pr_metrics:
            return sum(m["wall_sec"] for m in pr_metrics)
        return None

    def run_lpa():
        res = label_propagation(
            spark,
            edges,
            max_iterations=LPA_ITERS,
            variant="plain",
            tolerance=-1.0,
        )
        res.state.count()
        if iter_timing and res.metrics:
            return sum(m["wall_sec"] for m in res.metrics)
        return None

    def run_hits():
        # optional (not in the headline set, to keep cross-round BENCH
        # comparability): directed hubs/authorities, same superstep shape
        from sbm_communitydetection_spark.operators.hits import hits

        hits(
            spark,
            edges,
            tolerance=-1.0,
            max_iterations=PR_ITERS,
        ).count()

    def run_sssp():
        # optional: multi-source shortest paths from 1/1000 of vertices
        from sbm_communitydetection_spark.operators.sssp import shortest_paths

        srcs = edges.select(F.col("src").alias("id")).distinct().filter(
            F.col("id") % 1000 == 0
        )
        shortest_paths(spark, edges, srcs, rounds=5).count()

    def run_near_dup():
        # pipeline-family headline entry (VERDICT r2 #8): banded LSH →
        # candidate-restricted verify → CC → canonical survivor, over the
        # sf documents table — makes dedup/ANN perf regressions visible
        # round-over-round like the graph ops
        from sbm_communitydetection_spark.textops.dedup import near_dup_clusters

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        near_dup_clusters(spark, docs).count()

    def run_anf():
        # session-7 family headline entry: ANF neighborhood function,
        # 3 bit_or supersteps + per-round scalar readout over the full
        # bench graph — the distance-statistics throughput number
        from sbm_communitydetection_spark.operators.anf import anf_profile

        anf_profile(spark, edges, rounds=3).collect()

    def run_bm25():
        # retrieval-family headline entry (VERDICT r3 #7, new r4 — no r03
        # comparable): Okapi BM25 top-k with the gate's deterministic
        # query subset over the sf documents table; surfaces
        # retrieval/text-scoring perf regressions round-over-round
        from sbm_communitydetection_spark.textops.bm25 import bm25_topk

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        qs = docs.filter(F.col("doc_id") % 97 == 3).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        bm25_topk(docs, qs, k=10).count()

    # bucketed deployment paths (VERDICT r3 #4 and the PR/LPA trick it
    # reuses): the big table is SERVED OFF DISK pre-bucketed on the
    # superstep key — the production layout where the layout cost is
    # paid once at ingest, so the timed region is the iteration /
    # wedge+close joins only (new r4; the inline entries stay for r03
    # comparability).  Tables build outside the timed sweeps.
    tri_table = "bench_oriented_adj"
    pr_table = "bench_pr_transition"
    lpa_table = "bench_lpa_adj_dst"
    if "triangle_count_bucketed" in which:
        from sbm_communitydetection_spark.sources.bucketed import (
            write_oriented_adjacency,
        )

        write_oriented_adjacency(edges, tri_table, buckets=parts)
    if "pagerank_bucketed" in which:
        from sbm_communitydetection_spark.sources.bucketed import (
            write_transition_table,
        )

        write_transition_table(edges, pr_table, buckets=parts)
    if "lpa_bucketed" in which:
        from sbm_communitydetection_spark.sources.bucketed import (
            write_bucketed_adjacency,
        )

        write_bucketed_adjacency(edges, lpa_table, buckets=parts, key="dst")

    def run_tri_bucketed():
        from sbm_communitydetection_spark.sources.bucketed import (
            read_bucketed_adjacency,
        )

        triangle_count(
            edges, oriented=read_bucketed_adjacency(spark, tri_table)
        ).collect()

    def run_pr_bucketed():
        from sbm_communitydetection_spark.sources.bucketed import (
            read_bucketed_adjacency,
        )

        pr_metrics: list = []
        pagerank(
            spark,
            None,
            damping=0.85,
            tolerance=-1.0,
            max_iterations=PR_ITERS,
            transition=read_bucketed_adjacency(spark, pr_table),
            collect_metrics=pr_metrics,
        ).count()
        if iter_timing and pr_metrics:
            return sum(m["wall_sec"] for m in pr_metrics)
        return None

    def run_lpa_bucketed():
        from sbm_communitydetection_spark.sources.bucketed import (
            read_bucketed_adjacency,
        )

        res = label_propagation(
            spark,
            read_bucketed_adjacency(spark, lpa_table),
            max_iterations=LPA_ITERS,
            variant="plain",
            tolerance=-1.0,
            edges_partitioned_by_dst=True,
        )
        res.state.count()
        if iter_timing and res.metrics:
            return sum(m["wall_sec"] for m in res.metrics)
        return None

    def run_scc():
        # optional (VERDICT r3 #8): SCC on the DIRECTED bench edge table —
        # O(SCC-diameter) outer rounds of localCheckpoints; measured once
        # per round and recorded in docs/SCALE.md, not in the default
        # headline set
        from sbm_communitydetection_spark.operators.components import (
            strongly_connected_components,
        )

        strongly_connected_components(spark, edges).count()

    def run_scc_delta():
        # round-5 A/B of the named r4 SCC lever (docs/SCALE.md): frontier-
        # delta forward coloring — exact same labels (pytest equivalence
        # test), per-superstep edge probe restricted to changed vertices
        from sbm_communitydetection_spark.operators.components import (
            strongly_connected_components,
        )

        strongly_connected_components(spark, edges, forward_delta=True).count()

    runners: list[tuple[str, object]] = [
        (n, f)
        for n, f in [
            ("transcript_extract", run_extract),
            ("pagerank", run_pr),
            ("pagerank_bucketed", run_pr_bucketed),
            ("lpa", run_lpa),
            ("lpa_bucketed", run_lpa_bucketed),
            ("hits", run_hits),
            ("sssp", run_sssp),
            ("connected_components", lambda: connected_components(spark, edges).count()),
            ("near_dup_clusters", run_near_dup),
            ("anf", run_anf),
            ("bm25_topk", run_bm25),
            ("triangle_count", lambda: triangle_count(edges).collect()),
            ("triangle_count_bucketed", run_tri_bucketed),
            (
                "degree_topk",
                lambda: edges.groupBy("src")
                .agg(F.sum("weight").alias("degree"))
                .orderBy(F.desc("degree"))
                .limit(100)
                .collect(),
            ),
            ("scc", run_scc),
            ("scc_delta", run_scc_delta),
        ]
        if n in which
    ]

    # INTERLEAVED sweeps: whole headline set per sweep, so a host phase
    # flip mid-invocation degrades every query equally instead of making
    # one query look regressed.  A total-time budget guards the repeat
    # loop: a sweep is skipped when the time already spent plus one more
    # sweep (estimated at the last sweep's cost) would exceed it, so a
    # slow-phase host can shorten the triple but never hang the harness
    # past the budget (every completed sweep is still recorded).
    # budget counts from PROCESS start (setup + table builds included),
    # so one bench invocation is hard-bounded regardless of host phase
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_TIME_BUDGET", "900"))
    all_times: dict[str, list[float]] = {n: [] for n, _ in runners}
    bench_t0 = proc_t0
    sweeps_done = 0
    last_sweep = 0.0
    for r in range(repeats):
        elapsed = time.perf_counter() - bench_t0
        if r > 0 and elapsed + last_sweep > budget:
            print(
                f"bench: stopping after {sweeps_done}/{repeats} sweeps "
                f"({elapsed:.0f}s elapsed, budget {budget:.0f}s)",
                file=sys.stderr,
            )
            break
        s0 = time.perf_counter()
        for name, fn in runners:
            t0 = time.perf_counter()
            override = fn()
            dt = time.perf_counter() - t0
            if not isinstance(override, float):  # runners return floats only
                override = None                   # to override wall time
            all_times[name].append(round(dt if override is None else override, 3))
        last_sweep = time.perf_counter() - s0
        sweeps_done += 1
    all_times = {n: ts for n, ts in all_times.items() if ts}

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)

    timings = {n: min(ts) for n, ts in all_times.items()}
    timings_median = {n: _median(ts) for n, ts in all_times.items()}

    total = round(sum(timings.values()), 3)
    pr_lpa_iters = ("pagerank" in which) * PR_ITERS + ("lpa" in which) * LPA_ITERS
    pr_lpa_time = timings.get("pagerank", 0.0) + timings.get("lpa", 0.0)
    if pr_lpa_time == 0.0:  # neither metric query selected
        pr_lpa_iters, pr_lpa_time = 0, float("inf")
    rss, cpu = _rss_cpu()
    result = {
        "metric": "headline_queries_total_time",
        # semantics version of this JSON line (ADVICE r4): bumped whenever
        # `value`'s meaning changes so round-over-round tooling can detect
        # incomparability instead of comparing raw numbers.
        #   v1 (r1-r3): single sweep, smaller default query set
        #   v2 (r4+):  Σ per-query BEST across interleaved sweeps; default
        #              set includes bucketed variants whose one-time
        #              table-build cost is excluded from the timed region
        "bench_schema": 2,
        "value": total,
        "unit": "sec",
        "queries": timings,  # per-query BEST of the interleaved sweeps
        "queries_median": timings_median,
        "total_median": round(sum(timings_median.values()), 3),
        "repeats": sweeps_done,
        "all_times": all_times,  # full per-sweep record, self-contained
        "sf": sf,
        "cores": cores,
        "n_directed_edges": n_edges,
        "iters_per_sec": round(pr_lpa_iters / pr_lpa_time, 3),
        "edges_per_sec": round(n_edges * pr_lpa_iters / pr_lpa_time, 1),
        # Q10 resource probes (reference utils/quality_measures.cpp:190-220)
        "driver_peak_rss_bytes": rss,
        "driver_cpu_sec": round(cpu, 2),
        "jvm_peak_rss_bytes": _jvm_rss_bytes(),
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
