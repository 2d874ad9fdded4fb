"""The benchmark's workloads: seeded inputs, one timed pass, output checks.

Inputs are built only through ``sources.sbm`` / ``sources.transcripts``;
the operations under test receive only the generated tables.  Each pass is
one closed-loop client issuing one operation at a time.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from sbm_communitydetection_spark.operators.components import connected_components
from sbm_communitydetection_spark.operators.extract import extract_graph
from sbm_communitydetection_spark.operators.label_propagation import label_propagation
from sbm_communitydetection_spark.operators.pagerank import pagerank
from sbm_communitydetection_spark.operators.triangles import triangle_count
from sbm_communitydetection_spark.plans.iterate import unpersist_checkpoint
from sbm_communitydetection_spark.sources.sbm import generate_sbm
from sbm_communitydetection_spark.sources.transcripts import generate_transcripts
from sbm_communitydetection_spark.streaming.stream_driver import stream_connected_components

from . import oracles

# "full" is what the benchmark measures; "tiny" exists for its own tests.
SIZES = {
    "transcript_ingest": {
        "full": dict(n=200, k=4, m=3_000, max_exchanges=32),
        "tiny": dict(n=40, k=4, m=300, max_exchanges=4),
    },
    "edge_stream": {
        "full": dict(n=20_000, k=20, m=100_000),
        "tiny": dict(n=200, k=4, m=1_000),
    },
}
P_IN, P_OUT = 0.9, 0.1
# exact superstep counts with no convergence test: the same work on every
# seed, and the shape of the PR(10) + LPA(5) edges-per-second headline
PR_ITERS, LPA_ITERS = 10, 5
# the per-batch stream-CC slowdown sets in after about 16 batches; fewer
# batches would hide it
STREAM_CC_BATCHES = 18
RANK_RTOL = 1e-6


class CheckFailed(Exception):
    pass


@dataclass
class PassResult:
    """What one pass produced: per-operation outputs, times, raises, rows."""

    outputs: dict = field(default_factory=dict)
    seconds: dict = field(default_factory=dict)  # op -> wall time of the call
    errors: dict = field(default_factory=dict)  # op -> repr(exception)
    rows: dict = field(default_factory=dict)  # op -> per-superstep rows
    release: list = field(default_factory=list)  # checkpointed frames to free


def _frame(df, *cols) -> dict[str, np.ndarray]:
    pdf = df.select(*cols).toPandas()
    return {c: pdf[c].to_numpy() for c in cols}


def _sorted_rows(*cols) -> np.ndarray:
    rows = np.stack(cols, axis=1)
    return rows[np.lexsort(rows.T[::-1])]


def _labels_match(what, got_ids, got_lab, ids, lab_idx) -> None:
    order = np.argsort(got_ids)
    if not np.array_equal(got_ids[order], ids):
        raise CheckFailed(f"{what}: vertex set differs from the oracle")
    bad = np.count_nonzero(got_lab[order] != ids[lab_idx])
    if bad:
        raise CheckFailed(f"{what}: {bad} labels differ from the oracle")


class Workload:
    """``setup`` is timed as set-up, ``oracle`` runs once untimed,
    ``run_pass`` is the timed pass and ``check`` judges its outputs."""

    name = ""
    ops: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, workdir: str, scale: str = "full"):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.size = SIZES[self.name][scale]
        self._inputs: list = []

    def _run_op(self, tracer, res: PassResult, op: str, run_id: str, fn) -> None:
        with tracer.span(op, run_id) as span:
            try:
                res.outputs[op] = fn()
            except Exception as e:  # a raise is a failed operation, not a crash
                res.errors[op] = repr(e)
        res.seconds[op] = span.duration

    def check(self, res: PassResult) -> dict[str, str]:
        """op -> reason, for every op that raised or whose output is wrong."""
        bad = dict(res.errors)
        for op in self.ops:
            if op not in bad:
                try:
                    getattr(self, "_check_" + op)(res)
                except CheckFailed as e:
                    bad[op] = str(e)
                except Exception as e:  # an output too malformed to compare
                    bad[op] = repr(e)
        return bad

    def release(self, res: PassResult) -> None:
        for df in res.release:
            unpersist_checkpoint(df)

    def release_inputs(self) -> None:
        for df in self._inputs:
            unpersist_checkpoint(df)
        self._inputs = []


class TranscriptIngest(Workload):
    """Extraction from a transcript table, then PageRank and LPA on the
    small agent graph it yields."""

    name = "transcript_ingest"
    ops = ("extract", "pagerank", "lpa")

    def setup(self) -> int:
        s = self.size
        turns, _, _ = generate_transcripts(
            self.spark, n=s["n"], k=s["k"], m=s["m"], p_in=P_IN, p_out=P_OUT,
            seed=self.seed, max_exchanges=s["max_exchanges"],
        )
        self.path = os.path.join(self.workdir, "transcripts")
        turns.write.mode("overwrite").parquet(self.path)
        return self.spark.read.parquet(self.path).count()

    def oracle(self) -> None:
        actors, src_key, dst_key, w, self.turns = oracles.transcript_graph(self.path)
        # vertex ids are Spark's xxhash64 of the actor key; the check needs
        # the same ids to compare tables, the edge structure comes from DuckDB
        keys = self.spark.createDataFrame([(a,) for a in actors], "actor_key string")
        id_of = {
            r.actor_key: r.id
            for r in keys.select("actor_key", F.xxhash64("actor_key").alias("id")).collect()
        }
        if len(set(id_of.values())) != len(id_of):
            raise RuntimeError("two actor keys hash to one id")
        self.actors = {id_of[a]: a for a in actors}
        src = np.array([id_of[k] for k in src_key], dtype=np.int64)
        dst = np.array([id_of[k] for k in dst_key], dtype=np.int64)
        self.edge_table = _sorted_rows(src, dst, w)
        self.ids, si, di = oracles.dense(src, dst)
        n, wf = len(self.ids), w.astype(np.float64)
        self.rank = oracles.pagerank(si, di, wf, n, 0.85, PR_ITERS)
        self.lpa = oracles.label_propagation(si, di, wf, n, LPA_ITERS)
        self.directed_edges = len(src)

    def run_pass(self, tracer, run_id: str) -> PassResult:
        res = PassResult()
        spark = self.spark

        def extract():
            vertices, edges = extract_graph(spark.read.parquet(self.path))
            vertices = vertices.localCheckpoint(eager=True)
            edges = edges.localCheckpoint(eager=True)
            res.release += [vertices, edges]
            return vertices, edges

        self._run_op(tracer, res, "extract", run_id, extract)
        if "extract" in res.errors:
            res.errors.update({op: "extract failed" for op in self.ops[1:]})
            return res
        edges = res.outputs["extract"][1]

        def pr():
            rows: list = []
            ranks = pagerank(
                spark, edges, tolerance=-1.0, max_iterations=PR_ITERS, collect_metrics=rows
            )
            res.rows["pagerank"] = rows
            res.release.append(ranks)
            return ranks

        def lpa():
            out = label_propagation(
                spark, edges, variant="plain", tolerance=-1.0, max_iterations=LPA_ITERS
            )
            res.rows["lpa"] = out.metrics
            res.release.append(out.state)
            return out.state

        self._run_op(tracer, res, "pagerank", run_id, pr)
        self._run_op(tracer, res, "lpa", run_id, lpa)
        return res

    def _check_extract(self, res):
        vertices, edges = res.outputs["extract"]
        v = _frame(vertices, "id", "actor_key")
        got = dict(zip(v["id"].tolist(), v["actor_key"].tolist()))
        if len(got) != len(v["id"]) or got != self.actors:
            raise CheckFailed("extract: vertex table differs from the SQL derivation")
        e = _frame(edges, "src", "dst", "weight")
        rows = _sorted_rows(e["src"], e["dst"], e["weight"])
        if not np.array_equal(rows, self.edge_table):
            raise CheckFailed(
                f"extract: edge table ({len(rows)} rows) differs from the SQL derivation "
                f"({len(self.edge_table)} rows)"
            )

    def _check_pagerank(self, res):
        got = _frame(res.outputs["pagerank"], "id", "rank")
        order = np.argsort(got["id"])
        if not np.array_equal(got["id"][order], self.ids):
            raise CheckFailed("pagerank: vertex set differs from the oracle")
        if not np.allclose(got["rank"][order], self.rank, rtol=RANK_RTOL, atol=0.0):
            worst = np.abs(got["rank"][order] - self.rank).max()
            raise CheckFailed(f"pagerank: ranks differ from the oracle by up to {worst:.3g}")
        if len(res.rows["pagerank"]) != PR_ITERS:
            raise CheckFailed(f"pagerank: {len(res.rows['pagerank'])} supersteps, not {PR_ITERS}")

    def _check_lpa(self, res):
        got = _frame(res.outputs["lpa"], "id", "label")
        _labels_match("lpa", got["id"], got["label"], self.ids, self.lpa)
        if len(res.rows["lpa"]) != LPA_ITERS:
            raise CheckFailed(f"lpa: {len(res.rows['lpa'])} supersteps, not {LPA_ITERS}")


class EdgeStream(Workload):
    """An ordered SBM edge stream folded into connected components one
    micro-batch at a time, then a full CC recompute and a triangle count
    over the final graph."""

    name = "edge_stream"
    ops = ("stream_cc", "cc", "triangles")

    def setup(self) -> int:
        s = self.size
        _, raw = generate_sbm(self.spark, s["n"], s["k"], s["m"], P_IN, P_OUT, seed=self.seed)
        self.stream = raw.withColumn("weight", F.lit(1).cast("long")).localCheckpoint(eager=True)
        self._inputs = [self.stream]
        return self.stream.count()

    def oracle(self) -> None:
        e = _frame(self.stream, "src", "dst")
        self.ids, si, di = oracles.dense(e["src"], e["dst"])
        self.cc = oracles.components(si, di, len(self.ids))
        self.triangles = oracles.triangles(e["src"], e["dst"])

    def run_pass(self, tracer, run_id: str) -> PassResult:
        res = PassResult()
        spark = self.spark

        def stream_cc():
            labels = stream_connected_components(spark, self.stream, n_batches=STREAM_CC_BATCHES)
            res.release.append(labels)
            return labels

        def cc():
            comp = connected_components(spark, self.stream).localCheckpoint(eager=True)
            res.release.append(comp)
            return comp

        self._run_op(tracer, res, "stream_cc", run_id, stream_cc)
        self._run_op(tracer, res, "cc", run_id, cc)
        self._run_op(
            tracer, res, "triangles", run_id,
            lambda: int(triangle_count(self.stream).collect()[0][0]),
        )
        return res

    def _check_stream_cc(self, res):
        got = _frame(res.outputs["stream_cc"], "id", "component")
        _labels_match("stream_cc", got["id"], got["component"], self.ids, self.cc)
        if "cc" not in res.errors:
            full = _frame(res.outputs["cc"], "id", "component")
            if not np.array_equal(
                _sorted_rows(got["id"], got["component"]),
                _sorted_rows(full["id"], full["component"]),
            ):
                raise CheckFailed("stream_cc: labels differ from the full recompute")

    def _check_cc(self, res):
        got = _frame(res.outputs["cc"], "id", "component")
        _labels_match("cc", got["id"], got["component"], self.ids, self.cc)

    def _check_triangles(self, res):
        if res.outputs["triangles"] != self.triangles:
            raise CheckFailed(f"triangles: {res.outputs['triangles']}, oracle {self.triangles}")


WORKLOADS = {w.name: w for w in (TranscriptIngest, EdgeStream)}
