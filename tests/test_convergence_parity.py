"""Convergence-mode parity: every fixpoint operator stops after the same
number of supersteps and returns the same output as the pinned record
(``tests/data/convergence_parity.json``), whatever mechanism computes its
per-superstep convergence metric. Labels and components compare exactly,
scores allclose 1e-9.

Regenerate the record (only when an operator's semantics change on
purpose) with ``python tests/test_convergence_parity.py``."""

from __future__ import annotations

import json
import pathlib

import pyspark.sql.functions as F

from sbm_communitydetection_spark.plans.iterate import IterationDriver

RECORD = pathlib.Path(__file__).parent / "data" / "convergence_parity.json"
ATOL = 1e-9


def _graphs(spark):
    """(directed, symmetrized, paths): the hashed 3000-row graph of the
    superstep tests (399 vertices), its symmetrization, and two disjoint
    150-vertex paths beside a sparse hashed graph (CC needs several star
    rounds there)."""
    from sbm_communitydetection_spark.operators.graph_ops import symmetrize

    raw = spark.range(3000).select(
        (F.xxhash64("id") % 200).alias("src"),
        (F.xxhash64("id", F.lit(3)) % 200).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    directed = raw.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=True)
    sym = symmetrize(directed).localCheckpoint(eager=True)
    rows = [(i, i + 1, 1) for i in range(149)] + [(1000 + i, 1001 + i, 1) for i in range(149)]
    paths = spark.createDataFrame(rows, "src long, dst long, weight long")
    sparse = spark.range(260).select(
        (F.xxhash64("id") % 200 + 2000).alias("src"),
        (F.xxhash64("id", F.lit(9)) % 200 + 2000).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    return directed, sym, paths.unionByName(sparse).localCheckpoint(eager=True)


def _short(v):
    """``v`` with every float cut to 12 significant digits, far finer
    than the 1e-9 the record is compared at."""
    if isinstance(v, list):
        return [_short(x) for x in v]
    return float(f"{v:.12g}") if isinstance(v, float) else v


def _ordered(rows, key, *cols):
    rows = sorted(rows, key=lambda r: r[key])
    return {"id": [r[key] for r in rows], **{c: [_short(r[c]) for r in rows] for c in cols}}


def record(spark, monkeypatch_run) -> dict:
    """{operator: {"runs": [[run_id, iterations, converged], ...], output
    columns ordered by id}} for every convergence-mode operator.
    ``monkeypatch_run(wrapper)`` installs ``wrapper`` as
    ``IterationDriver.run`` so every driver run is seen."""
    from sbm_communitydetection_spark.operators.belief_propagation import (
        belief_propagation,
        noisy_priors,
    )
    from sbm_communitydetection_spark.operators.components import (
        connected_components,
        strongly_connected_components,
    )
    from sbm_communitydetection_spark.operators.hits import hits
    from sbm_communitydetection_spark.operators.kcore import k_core
    from sbm_communitydetection_spark.operators.label_propagation import label_propagation
    from sbm_communitydetection_spark.operators.pagerank import pagerank
    from sbm_communitydetection_spark.operators.sssp import shortest_paths

    runs: list = []
    real = IterationDriver.run

    def recording(self, *a, **kw):
        res = real(self, *a, **kw)
        runs.append([self.run_id, res.iterations, res.converged])
        return res

    monkeypatch_run(recording)
    directed, sym, paths = _graphs(spark)
    priors = noisy_priors(
        sym.select(F.col("src").alias("id")).distinct().select(
            "id", (F.col("id") % 2).alias("label")
        ),
        2,
        0.4,
    )
    sources = directed.select(F.col("src").alias("id")).distinct().filter(F.col("id") % 50 == 0)
    ops = {
        "pagerank": lambda: _ordered(
            pagerank(spark, directed, tolerance=1e-8).collect(), "id", "rank"
        ),
        "lpa_plain": lambda: _ordered(
            label_propagation(spark, sym, variant="plain").state.collect(), "id", "label"
        ),
        "lpa_keep_own": lambda: _ordered(
            label_propagation(spark, sym, variant="keep_own").state.collect(), "id", "label"
        ),
        "hits": lambda: _ordered(hits(spark, directed).collect(), "id", "hub", "auth"),
        "sssp": lambda: _ordered(
            shortest_paths(spark, directed, sources).collect(), "id", "dist"
        ),
        "k_core": lambda: _ordered(k_core(spark, sym, k=9).collect(), "id", "degree"),
        **{
            f"bp_{impl}": lambda impl=impl: _ordered(
                belief_propagation(
                    spark, sym, priors, 2, 0.6, 0.4, max_iterations=40, impl=impl
                ).collect(),
                "id",
                "label",
                "belief",
            )
            for impl in ("agg", "kernel")
        },
        "cc": lambda: _ordered(
            connected_components(spark, paths).collect(), "id", "component"
        ),
        "scc": lambda: _ordered(
            strongly_connected_components(spark, directed.filter(F.col("src") % 3 != 0))
            .collect(),
            "id",
            "scc",
        ),
    }
    out = {}
    for name, run in ops.items():
        runs.clear()
        out[name] = {**run(), "runs": [list(r) for r in runs]}
    return out


def _close(a, b) -> bool:
    if isinstance(a, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float):
        return abs(a - b) <= ATOL
    return a == b


def test_convergence_mode_matches_the_pinned_record(spark, monkeypatch):
    """Same superstep counts and convergence flags per driver run,
    identical labels, components and degrees, scores allclose 1e-9."""
    want = json.loads(RECORD.read_text())
    got = record(spark, lambda fn: monkeypatch.setattr(IterationDriver, "run", fn))
    assert set(got) == set(want)
    for name in want:
        assert got[name]["runs"] == want[name]["runs"], name
        assert got[name]["id"] == want[name]["id"], name
        for col in set(want[name]) - {"runs", "id"}:
            assert _close(got[name][col], want[name][col]), (name, col)


if __name__ == "__main__":
    from sbm_communitydetection_spark.session import get_spark

    session = get_spark(app_name="tests", cores=8, shuffle_partitions=8, driver_memory="6g")
    data = record(session, lambda fn: setattr(IterationDriver, "run", fn))
    RECORD.parent.mkdir(exist_ok=True)
    RECORD.write_text(json.dumps(data, sort_keys=True) + "\n")
    print({k: v["runs"] for k, v in data.items()})
