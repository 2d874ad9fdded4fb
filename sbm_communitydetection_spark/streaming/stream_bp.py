"""Streamed belief propagation — the reference's StreamBP update schedule
(D2: src/belief_propagation.cpp:38-46 per-edge loop, :86-95 radius-bounded
propagation, :128-167 collectRNeighborhood), batched.

Per ordered micro-batch of arriving edges:
  1. accumulate the batch into the symmetrized edge state (G2/G3),
  2. initialize messages for newly materialized directed pairs (uniform),
  3. compute the radius-r BFS ball around the batch's endpoints
     (operators/frontier.py — the reference's priority-queue BFS),
  4. run ``iters_per_batch`` synchronous message updates restricted to
     messages INTO ball vertices (everything outside the ball keeps its
     messages — exactly the reference's locality), via the same Arrow
     kernel as full BP,
  5. persist the edge and message state after every update through
     plans/iterate.FoldCheckpointer, which releases what it supersedes.

Final labels = the full-graph argmax finalize (A10). The schedule differs
from the reference only in granularity (batch vs single edge) — both are
asynchronous approximations of the same fixpoint; parity-grade tests pin
planted-SBM recovery, not message-for-message equality (SURVEY.md §5
hard part 3).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.belief_propagation import (
    BELIEF_SCHEMA,
    MSG_SCHEMA,
    _finalize_kernel,
    _superstep_kernel,
)
from ..operators.frontier import r_hop_neighborhood
from ..operators.graph_ops import add_edges
from ..plans.iterate import FoldCheckpointer, materialize
from .stream_driver import _batch_bounds


def stream_belief_propagation(
    spark: SparkSession,
    edge_stream: DataFrame,
    priors: DataFrame,
    k: int,
    p_in: float,
    p_out: float,
    radius: int = 2,
    n_batches: int = 10,
    iters_per_batch: int = 2,
) -> DataFrame:
    """beliefs(id, label, belief) after streaming ``edge_stream(src, dst,
    weight, edge_seq)`` through radius-bounded BP. ``priors(id, prior)``
    must cover every vertex that will appear."""
    _, spans = _batch_bounds(edge_stream, n_batches)

    pr = materialize(priors.select(F.col("id").alias("dst"), "prior"))
    edges = spark.createDataFrame([], "src long, dst long, weight long")
    msgs = spark.createDataFrame([], MSG_SCHEMA)
    uniform = F.array(*[F.lit(1.0 / k)] * k)
    kernel = _superstep_kernel(p_in, p_out)
    store = FoldCheckpointer(spark, None, "stream_bp", ("edges", "msgs"))
    tick = itertools.count()  # one store batch per state update

    for lo, hi in spans:
        batch = edge_stream.filter((F.col("edge_seq") >= lo) & (F.col("edge_seq") < hi)).select(
            "src", "dst", "weight"
        )
        edges = materialize(add_edges(edges, batch))

        # new directed pairs get uniform init messages (BP's init state)
        new_pairs = edges.select("src", "dst").join(
            msgs.select("src", "dst"), ["src", "dst"], "left_anti"
        )
        msgs = store.persist(
            next(tick),
            edges=edges,
            msgs=msgs.unionByName(new_pairs.select("src", "dst", uniform.alias("belief"))),
        )["msgs"]

        # radius-r ball around the batch's endpoints (both directions are
        # in the symmetrized batch, so src covers all endpoints)
        seeds = batch.select(F.col("src").alias("id")).unionByName(
            batch.select(F.col("dst").alias("id"))
        )
        ball = r_hop_neighborhood(edges, seeds, radius).select("id")

        for _ in range(iters_per_batch):
            # recompute ONLY messages into ball vertices; the kernel needs
            # every incoming message of those vertices (already in state)
            into_ball = msgs.join(ball.withColumnRenamed("id", "dst"), "dst", "left_semi")
            joined = (
                edges.join(into_ball, ["src", "dst"])
                .join(pr, "dst")
            )
            # kernel emits node->neighbor messages, i.e. rows OUT of each
            # ball vertex; replace exactly those rows in the state
            updated = joined.groupBy("dst").applyInPandas(kernel, MSG_SCHEMA)
            out_of_ball_srcs = msgs.join(
                ball.withColumnRenamed("id", "src"), "src", "left_anti"
            )
            msgs = store.persist(
                next(tick), edges=edges, msgs=updated.unionByName(out_of_ball_srcs)
            )["msgs"]

    final = edges.join(msgs, ["src", "dst"]).join(pr, "dst")
    return final.groupBy("dst").applyInPandas(_finalize_kernel(p_in, p_out), BELIEF_SCHEMA)
