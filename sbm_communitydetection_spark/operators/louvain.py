"""DCD — Louvain-style dynamic modularity optimization (reference D1,
src/dynamic_community_detection.cpp:4-357; README.md:19 cites Locality
Modularity Optimization).

The reference is asynchronous: it shuffles the node list and applies one
move at a time, recomputing GLOBAL modularity per candidate move
(src/dynamic_community_detection.cpp:91-97,144-150 — O(m) inside an O(n·k)
loop, its biggest inefficiency; SURVEY.md §4). The engine uses the standard
O(1) local gain formula per candidate and SYNCHRONOUS supersteps — all
nodes evaluate simultaneously (documented divergence: same optimum family,
order-free, scale-friendly):

    gain(i → c) = k_{i,c}/m  −  d_i · Σtot'_c / (2m²)

where k_{i,c} is i's weight to community c (A8 aggregate), d_i the weighted
degree, Σtot'_c the community's total degree with i removed from its own
community (so "stay" scores consistently against "leave"). A node moves to
the argmax community iff the gain beats staying by epsilon_gain (1e-4, the
reference's threshold at include/DCD/dynamic_community_detection.h:25);
ties break to the MIN label.

Level structure mirrors the reference: local-moving sweeps until the gain
aggregate fires no moves (src/dynamic_community_detection.cpp:63-117), then
`partitionToGraph` coarsening (C1, :187-217) and another round of sweeps on
the super-graph, composing membership maps on the way down. Everything is
Catalyst joins/aggregations — no Python in the loop body.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.iterate import (
    cache_partitioned,
    materialize,
    unpersist_checkpoint,
)
from .graph_ops import canonical_relabel, coarsen

EPSILON_GAIN = 1e-4  # include/DCD/dynamic_community_detection.h:25


@dataclass
class LouvainResult:
    labels: DataFrame  # (id, label) over the ORIGINAL vertex ids
    modularity: float
    levels: int
    sweeps: list[int] = field(default_factory=list)  # sweeps per level
    modularity_per_level: list[float] = field(default_factory=list)


def _move_sweep(
    edges: DataFrame,
    labels: DataFrame,
    two_m: float,
    epsilon: float,
    parity: int | None = None,
) -> DataFrame:
    """One synchronous local-moving superstep; returns new labels.

    edges must be SYMMETRIZED; labels (id, label). ``parity`` (0/1)
    restricts the move DIRECTION — even sweeps allow only moves to a
    SMALLER label, odd sweeps only to a larger one. This is the standard
    distributed-Louvain symmetry breaker: without it, simultaneous moves
    from singleton states swap labels pairwise (i adopts j's community
    while j adopts i's — both see a positive gain against the OLD state)
    and modularity never improves. Direction alternation makes every
    pairwise exchange one-way per sweep. Deterministic, order-free."""
    deg = edges.groupBy("src").agg(F.sum("weight").alias("deg")).withColumnRenamed("src", "id")
    lbl = labels.select("id", "label")
    # community total degree
    tot = (
        lbl.join(deg, "id")
        .groupBy("label")
        .agg(F.sum("deg").alias("tot"))
    )
    # A8: per-node weight to each neighboring community. Self-loops (coarse
    # levels) are excluded: a super-node's internal weight travels with it,
    # cancelling out of every move gain — but they DO count in `deg`/`tot`.
    k_ic = (
        edges.filter(F.col("src") != F.col("dst"))
        .join(lbl.select(F.col("id").alias("dst"), F.col("label").alias("c")), "dst")
        .groupBy("src", "c")
        .agg(F.sum("weight").alias("k_ic"))
    )
    # candidate set = neighboring communities ∪ own community (k_ic=0 if no
    # internal neighbor); build own rows then union+dedupe via full outer agg
    own = lbl.select(F.col("id").alias("src"), F.col("label").alias("c"))
    cand = (
        k_ic.join(own.withColumn("is_own_m", F.lit(1)), ["src", "c"], "full_outer")
        .select(
            "src",
            "c",
            F.coalesce("k_ic", F.lit(0)).cast("double").alias("k_ic"),
            F.coalesce("is_own_m", F.lit(0)).alias("is_own"),
        )
    )
    node = lbl.select(F.col("id").alias("src"), F.col("label").alias("own_c")).join(
        deg.select(F.col("id").alias("src"), "deg"), "src"
    )
    scored = (
        cand.join(node, "src")
        .join(tot.withColumnRenamed("label", "c"), "c")
        .select(
            "src",
            "c",
            "own_c",
            # Σtot with i removed from its own community
            (
                F.col("k_ic") / F.lit(two_m / 2.0)
                - F.col("deg")
                * (F.col("tot") - F.when(F.col("c") == F.col("own_c"), F.col("deg")).otherwise(F.lit(0.0)))
                / F.lit((two_m / 2.0) * two_m)
            ).alias("gain"),
        )
    )
    best = (
        scored.groupBy("src")
        .agg(
            F.max(F.struct(F.col("gain"), (-F.col("c")).alias("neg_c"))).alias("m"),
            F.max(F.when(F.col("c") == F.col("own_c"), F.col("gain"))).alias("own_gain"),
        )
        .select(
            F.col("src").alias("id"),
            (-F.col("m.neg_c")).alias("best_c"),
            F.col("m.gain").alias("best_gain"),
            "own_gain",
        )
    )
    move = F.col("best_gain") > F.coalesce(F.col("own_gain"), F.lit(0.0)) + F.lit(epsilon)
    if parity is not None:
        direction = (
            F.col("best_c") < F.col("label") if parity == 0 else F.col("best_c") > F.col("label")
        )
        move = move & direction
    return lbl.join(best, "id", "left").select(
        "id",
        F.when(move & F.col("best_c").isNotNull(), F.col("best_c"))
        .otherwise(F.col("label"))
        .alias("label"),
    )


def _level_modularity(edges: DataFrame, labels: DataFrame, two_m: float) -> float:
    """Q on a level graph (self-loops carry absorbed intra weight, so this
    equals GLOBAL modularity of the expanded partition — the standard
    Louvain coarsening invariant)."""
    lbl_s = labels.select(F.col("id").alias("src"), F.col("label").alias("sl"))
    lbl_d = labels.select(F.col("id").alias("dst"), F.col("label").alias("dl"))
    per = (
        edges.join(lbl_s, "src")
        .join(lbl_d, "dst")
        .groupBy("sl")
        .agg(
            F.sum(F.when(F.col("sl") == F.col("dl"), F.col("weight")).otherwise(0)).alias("e_in2"),
            F.sum("weight").alias("deg"),
        )
    )
    row = per.agg(
        F.sum(F.col("e_in2") / F.lit(two_m) - F.pow(F.col("deg") / F.lit(two_m), 2))
    ).collect()[0][0]
    return float(row or 0.0)


def _sweeps_until_stable(
    edges: DataFrame,
    labels: DataFrame,
    two_m: float,
    max_sweeps: int,
    epsilon: float,
    q_tol: float,
) -> tuple[DataFrame, float, int]:
    """Local-moving sweeps until modularity stops rising (the reference's
    stop rule, src/dynamic_community_detection.cpp:63-117), with rollback
    of the final non-improving sweep — synchronous moves can oscillate, and
    the modularity-monotone criterion converts that into a clean stop."""
    # the level init projects `id` under two aliases (see materialize)
    best = materialize(labels.repartition("id"), "id")
    q_best = _level_modularity(edges, best, two_m)
    improving_sweeps = 0
    fails = 0
    for s in range(1, max_sweeps + 1):
        # alternate parity halves; a failed half-sweep retries the OTHER
        # parity from the best state before giving up (2 consecutive fails)
        new = materialize(_move_sweep(edges, best, two_m, epsilon, parity=s % 2), "id")
        q_new = _level_modularity(edges, new, two_m)
        # release the loser state's blocks immediately — a sweep loop
        # otherwise keeps its whole state history in the block manager
        if q_new > q_best + q_tol:
            unpersist_checkpoint(best)
            best, q_best = new, q_new
            improving_sweeps += 1
            fails = 0
        else:
            unpersist_checkpoint(new)
            fails += 1
            if fails >= 2:
                break
    return best, q_best, improving_sweeps


def louvain(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    initial_labels: DataFrame | None = None,
    max_levels: int = 5,
    max_sweeps: int = 16,
    epsilon_gain: float = EPSILON_GAIN,
    min_modularity_gain: float = 1e-6,
    canonical: bool = True,
) -> LouvainResult:
    """Full multi-level modularity optimization over the SYMMETRIZED
    ``edges(src, dst, weight)``. Returns labels on original vertex ids
    (canonically relabeled 0..k-1 by min member id when ``canonical``,
    the reference's relabelGraph C4).

    ``initial_labels`` (id, label) seeds LEVEL 0's sweep start instead of
    the singleton init — the warm-start path used by the streaming driver
    and label_propagation(variant='gain')."""
    edges = cache_partitioned(edges.repartition("dst"))
    verts = (
        vertices.select("id")
        if vertices is not None
        else edges.select(F.col("src").alias("id")).distinct()
    )
    two_m = float(edges.agg(F.sum("weight")).collect()[0][0])

    # membership: original id -> current super-node label
    membership = materialize(verts.select("id", F.col("id").alias("label")))
    level_edges = edges
    best_q = _level_modularity(edges, membership, two_m)
    sweeps_per_level: list[int] = []
    q_per_level: list[float] = []
    levels = 0

    for _level in range(max_levels):
        if _level == 0 and initial_labels is not None:
            init = initial_labels.select("id", "label")
        else:
            init = level_edges.select(F.col("src").alias("id")).distinct().select(
                "id", F.col("id").alias("label")
            )
        # level modularity == global modularity of the expanded partition
        # (self-loop convention), so the sweep loop's q IS the global Q
        moved, q, n_sweeps = _sweeps_until_stable(
            level_edges, init, two_m, max_sweeps, epsilon_gain, min_modularity_gain
        )
        # n_sweeps==0 with q > best_q happens only for a warm start whose
        # initial partition already beats singletons: adopt it, then stop.
        if q <= best_q + min_modularity_gain:
            unpersist_checkpoint(moved)
            break
        # compose: original membership's label is a vertex of level_edges
        prev_membership = membership
        membership = materialize(
            membership.join(
                moved.select(F.col("id").alias("label"), F.col("label").alias("new_label")),
                "label",
            ).select("id", F.col("new_label").alias("label"))
        )
        unpersist_checkpoint(prev_membership)
        best_q = q
        levels += 1
        sweeps_per_level.append(n_sweeps)
        q_per_level.append(q)
        if n_sweeps == 0:
            unpersist_checkpoint(moved)
            break
        # super-graph keeps self-loops: they carry the absorbed intra weight
        # that the next level's degree/tot terms need (C1 semantics)
        coarse = coarsen(level_edges, moved)
        n_coarse = coarse.select("src").distinct().count()
        if n_coarse <= 1:
            unpersist_checkpoint(moved)
            break
        prev_level_edges = level_edges
        level_edges = materialize(coarse)
        unpersist_checkpoint(prev_level_edges)
        unpersist_checkpoint(moved)

    # the level graphs are dead once the final membership is materialized;
    # the membership checkpoint itself stays — the returned labels plan
    # reads it lazily
    unpersist_checkpoint(level_edges)
    unpersist_checkpoint(edges)
    if canonical:
        membership = canonical_relabel(membership)
    return LouvainResult(
        labels=membership,
        modularity=best_q,
        levels=levels,
        sweeps=sweeps_per_level,
        modularity_per_level=q_per_level,
    )
