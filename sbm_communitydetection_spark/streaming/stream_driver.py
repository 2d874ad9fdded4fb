"""Batched edge-stream community detection — the reference's streaming
semantics (SURVEY.md §2.10).

The reference consumes ONE edge per algorithm step in arrival order
(src/dynamic_community_detection.cpp:32-49, src/belief_propagation.cpp:38,
src/approximate_community_detection.cpp:33) — no watermarks, no late data;
"stream position" is just the ordinal of `addedEdges`. The engine batches
the ordered edge table by its ``edge_seq`` column and runs micro-iterations
per batch:

  1. accumulate the batch into the live symmetrized edge table (G2/G3
     upsert semantics: weights of repeated edges add),
  2. DISBAND the touched communities: every member of a community that a
     new cross-community edge hits reverts to its own singleton label
     (C3, src/dynamic_community_detection.cpp:243-247 — affected-subgraph
     recomputation is the reference's one locality optimization),
  3. re-run synchronous LPA supersteps seeded from the surviving labels,
  4. append a per-batch metrics row — the reference's per-edge accuracy
     log sink S6 (src/approximate_community_detection.cpp:47-55) — to a
     JSONL lineage file and keep it in the result.

Every fold here persists its per-batch state through
``plans.iterate.FoldCheckpointer``, the store shared with
IterationDriver's supersteps, which also releases the state each batch
supersedes.  With ``checkpoint_dir`` set the store writes durable
parquet snapshots + a per-partition lineage row per batch, and
``resume=True`` restarts a killed run from the latest complete batch
(north_rule "any run resumes mid-iteration")."""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.metrics import modularity
from ..operators.graph_ops import add_edges, symmetrize
from ..operators.label_propagation import lpa_superstep
from ..plans.iterate import (
    FoldCheckpointer,
    cache_partitioned,
    materialize,
    unpersist_checkpoint,
)


def _batch_bounds(edge_stream: DataFrame, n_batches: int) -> tuple:
    """(bounds, [(lo, hi), ...]): the stream's ``(lo, hi, n)`` edge_seq
    row — also each fold's input fingerprint — and ``n_batches`` equal
    half-open edge_seq spans of ``[lo, hi]``, the last one closed at hi."""
    bounds = edge_stream.agg(
        F.min("edge_seq").alias("lo"), F.max("edge_seq").alias("hi"), F.count("*").alias("n")
    ).collect()[0]
    if bounds.n == 0:
        raise ValueError("empty edge stream")
    span = (bounds.hi - bounds.lo + 1) / n_batches
    cuts = [bounds.lo + int(b * span) for b in range(n_batches)] + [bounds.hi + 1]
    return bounds, list(zip(cuts, cuts[1:]))


@dataclass
class StreamResult:
    labels: DataFrame  # (id, label) after the last batch
    edges: DataFrame  # accumulated symmetrized edge table
    batches: int
    metrics: list[dict] = field(default_factory=list)


def _batch_metrics(edges: DataFrame, labels: DataFrame, truth: DataFrame | None) -> dict:
    row: dict = {
        "modularity": float(modularity(edges, labels).collect()[0][0]),
        "n_communities": labels.select("label").distinct().count(),
    }
    if truth is not None:
        from ..functions.metrics import edge_classification_accuracy, max_jaccard_sum

        row["edge_cls_acc"] = float(
            edge_classification_accuracy(edges, labels, truth).collect()[0][0]
        )
        row["max_jaccard_sum"] = max_jaccard_sum(labels, truth)
    return row


def stream_community_detection(
    spark: SparkSession,
    edge_stream: DataFrame,
    n_batches: int = 10,
    supersteps_per_batch: int = 3,
    truth: DataFrame | None = None,
    metrics_path: str | None = None,
    initial_edges: DataFrame | None = None,
    initial_labels: DataFrame | None = None,
    lpa_variant: str = "keep_own",
    locality_radius: int | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    run_id: str = "stream",
) -> StreamResult:
    """Consume ``edge_stream(src, dst, weight, edge_seq)`` in ``n_batches``
    ordered micro-batches, maintaining a community partition throughout.

    ``locality_radius`` bounds each batch's LPA repair to the r-hop BFS
    ball around the affected vertices (disbanded members + batch
    endpoints) — the reference's affected-subgraph locality
    (collectRNeighborhood, src/belief_propagation.cpp:128-167, applied
    here to the DCD repair loop). Labels outside the ball are frozen:
    supersteps run over only the edges whose src lies in the ball, so
    ball vertices still see every neighbor's label while per-batch edge
    work drops from O(|E|) to O(Σ degree over the ball) — the property
    that makes per-batch repair affordable at 10^12-turn scale. Applies
    to the LPA variants; ``gain`` needs globally consistent community
    degrees and always runs on the full graph."""
    bounds, spans = _batch_bounds(edge_stream, n_batches)

    store = FoldCheckpointer(
        spark, checkpoint_dir, run_id, ("edges", "labels"),
        manifest={"n_batches": n_batches, "bounds": list(bounds)},
    )
    snap, start_batch = store.start(
        resume,
        edges=initial_edges
        if initial_edges is not None
        else spark.createDataFrame([], "src long, dst long, weight long"),
        labels=initial_labels,
    )
    edges, labels = snap["edges"], snap["labels"]
    metrics: list[dict] = []

    for b in range(start_batch, n_batches):
        t0 = time.monotonic()
        lo, hi = spans[b]
        batch = edge_stream.filter((F.col("edge_seq") >= lo) & (F.col("edge_seq") < hi)).select(
            "src", "dst", "weight"
        )
        batch_sym = symmetrize(batch)
        edges = materialize(add_edges(edges, batch))

        affected = None
        verts = edges.select(F.col("src").alias("id")).distinct()
        if labels is None:
            labels = verts.select("id", F.col("id").alias("label"))
        else:
            # new vertices start as singletons
            labels = verts.join(labels, "id", "left").select(
                "id", F.coalesce("label", "id").alias("label")
            )
            # disband communities touched by a new CROSS-community edge (C3)
            lab_s = labels.select(F.col("id").alias("src"), F.col("label").alias("sl"))
            lab_d = labels.select(F.col("id").alias("dst"), F.col("label").alias("dl"))
            touched = (
                batch_sym.join(lab_s, "src")
                .join(lab_d, "dst")
                .filter(F.col("sl") != F.col("dl"))
                .select(F.explode(F.array("sl", "dl")).alias("label"))
                .distinct()
            )
            if locality_radius is not None:
                # affected set BEFORE disband: members of touched
                # communities plus this batch's endpoints
                affected = (
                    labels.join(touched, "label", "left_semi")
                    .select("id")
                    .unionByName(batch_sym.select(F.col("src").alias("id")))
                    .distinct()
                )
            labels = labels.join(
                touched.withColumn("hit", F.lit(1)), "label", "left"
            ).select(
                "id",
                F.when(F.col("hit").isNotNull(), F.col("id")).otherwise(F.col("label")).alias("label"),
            )
        if lpa_variant == "gain":
            # reference-DCD semantics per batch: warm-started multi-level
            # gain optimization (local moves + community merges) from the
            # current partition — the T2 gain argmax alone stalls at local
            # optima on dense graphs (see label_propagation docstring)
            from ..operators.louvain import louvain

            res = louvain(
                spark,
                edges,
                initial_labels=labels,
                max_levels=2,
                max_sweeps=supersteps_per_batch,
                canonical=False,
            )
            labels = materialize(res.labels)
            unpersist_checkpoint(res.labels)  # superseded membership checkpoint
        else:
            step_edges = edges
            if locality_radius is not None and affected is not None:
                from ..operators.frontier import r_hop_neighborhood

                ball = r_hop_neighborhood(edges, affected, locality_radius).select("id")
                # keep every edge whose UPDATE TARGET (src) is in the ball:
                # outside vertices have no rows and keep their label via
                # lpa_superstep's left join; ball vertices still aggregate
                # over all their neighbors
                step_edges = materialize(
                    edges.join(ball.withColumnRenamed("id", "src"), "src", "left_semi")
                )
            for s in range(supersteps_per_batch):
                # materialize EVERY superstep: lpa_superstep references
                # the label plan ~3×, so an unchecked chain grows as
                # 3^steps logical nodes
                new = materialize(
                    lpa_superstep(step_edges, labels, variant=lpa_variant).drop("old_label"), "id"
                )
                if s:
                    unpersist_checkpoint(labels)  # the superstep's own input
                labels = new
            if step_edges is not edges:
                unpersist_checkpoint(step_edges)

        snap = store.persist(b, edges=edges, labels=labels)
        edges, labels = snap["edges"], snap["labels"]
        row = {
            "batch": b,
            "edges_seen": int(edges.agg(F.sum("weight") / 2).collect()[0][0] or 0),
            "wall_sec": round(time.monotonic() - t0, 4),
            **_batch_metrics(edges, labels, truth),
            "partition_lineage": store.lineage(b),
        }
        metrics.append(row)
        if metrics_path:
            os.makedirs(os.path.dirname(metrics_path) or ".", exist_ok=True)
            with open(metrics_path, "a") as f:
                f.write(json.dumps(row) + "\n")

    return StreamResult(labels=labels, edges=edges, batches=n_batches, metrics=metrics)


def stream_connected_components(
    spark: SparkSession,
    edge_stream: DataFrame,
    n_batches: int = 5,
    checkpoint_dir: str | None = None,
    run_id: str = "stream_cc",
    resume: bool = False,
) -> DataFrame:
    """Streaming connected components: consume ``edge_stream(src, dst,
    weight, edge_seq)`` in ordered micro-batches, folding each batch into
    the component labeling via delta-proportional repair
    (operators/components.incremental_components) — the CC counterpart
    of :func:`stream_community_detection`, and the streaming face of the
    reference's dynamic addEdge loop
    (src/dynamic_community_detection.cpp:51-76).

    Every batch, the first included, is folded the same way into a
    labeling that starts empty: the batch's edges and its endpoints'
    labels are collected to the driver, one union-find there merges at
    most |batch| component pairs, and one broadcast join relabels the
    table — no Python task and no shuffle, and the union-find never sees
    the accumulated graph.  The relabel and ``materialize`` still pass
    over the whole label table each batch (map-side).  The driver holds
    one batch's edges, so size batches with ``n_batches``.  The final
    labeling is EXACTLY ``connected_components`` of everything consumed
    (min-id labels); the gate proves it against the full-recompute
    oracle.

    Each batch's labeling is persisted through FoldCheckpointer (one
    ``materialize`` in memory), which releases the labeling it
    supersedes.  ``checkpoint_dir`` + ``resume=True`` (VERDICT r3 #9):
    the labeling is snapshotted durably per batch, and a killed
    run restarts from the latest complete batch — batch spans are
    deterministic from the observed edge_seq range, so the resumed run
    replays exactly the missing batches and ends bit-identical to an
    uninterrupted one (test_streaming kill/restart parity)."""
    from ..operators.components import incremental_components

    bounds, spans = _batch_bounds(edge_stream, n_batches)

    store = FoldCheckpointer(
        spark, checkpoint_dir, run_id, ("labels",),
        manifest={"n_batches": n_batches, "bounds": list(bounds)},
    )
    snap, start_batch = store.start(
        resume, labels=spark.createDataFrame([], "id long, component long")
    )
    labels = snap["labels"]
    for b in range(start_batch, n_batches):
        lo, hi = spans[b]
        batch = edge_stream.filter((F.col("edge_seq") >= lo) & (F.col("edge_seq") < hi)).select(
            "src", "dst"
        )
        labels = store.persist(b, labels=incremental_components(spark, labels, batch))["labels"]
    return labels


def stream_pagerank(
    spark: SparkSession,
    edge_stream: DataFrame,
    boundaries: list[int] | None = None,
    n_batches: int = 3,
    iters_per_batch: int = 3,
    damping: float = 0.85,
    checkpoint_dir: str | None = None,
    run_id: str = "stream_pr",
    resume: bool = False,
) -> DataFrame:
    """Warm-start batched PageRank over an ordered edge stream — the
    dynamic counterpart of operators/pagerank for the flagship
    centrality, completing the engine's dynamic family (stream LPA / BP
    / CC / dedup / novelty) in the reference's streaming semantics
    (ordered ``addedEdges`` consumption, src/dynamic_community_detection
    .cpp:32-49 — batched here as everywhere in §2.10).

    Per batch b (cumulative edge set = all rows with edge_seq below the
    batch bound): carry the previous rank vector forward — new vertices
    seed at 1/n_b, the vector renormalizes to sum 1 — then run exactly
    ``iters_per_batch`` plain power supersteps ((1−d)/n + d·Σ frac·rank,
    no dangling redistribution: the recurrence form of the fixed-iter
    oracle). Warm-starting means each batch needs only enough supersteps
    to absorb the DELTA, not to re-converge from uniform — the property
    that matters when the stream is 10^12 turns and batches are small.

    Deterministic given boundaries (defaults: n_batches equal spans of
    the observed edge_seq range, as stream_connected_components) and
    SQL-mirrorable (stream_pagerank_unrolled_sql). At convergence-tight
    iters the final vector equals batch pagerank on the final graph
    (test_stream_pagerank_converges_to_batch).

    Scale shape per batch: identical to pagerank's superstep (cached
    src-partitioned cumulative adjacency, only the O(n) vector moves);
    the carry-forward join is id-keyed and co-partitioned with the
    state. Each batch's adjacency cache is released before the next.

    ``checkpoint_dir`` + ``resume=True`` (VERDICT r3 #9): the rank
    vector is snapshotted durably per batch; a killed run restarts from
    the latest complete batch (boundaries are deterministic from the
    edge_seq range) and ends bit-identical to an uninterrupted run."""

    fingerprint = {}
    if boundaries is None:
        bounds, spans = _batch_bounds(edge_stream, n_batches)
        fingerprint["bounds"] = list(bounds)
        boundaries = [hi for _, hi in spans]

    store = FoldCheckpointer(
        spark, checkpoint_dir, run_id, ("state",),
        manifest={**fingerprint, "boundaries": boundaries},
    )
    snap, start_batch = store.start(resume, state=None)
    state = snap["state"]
    prev_adj = None
    for b, bound in enumerate(boundaries[start_batch:], start_batch):
        cum = edge_stream.filter(F.col("edge_seq") < bound)
        verts = materialize(
            cum.select(F.col("src").alias("id"))
            .unionByName(cum.select(F.col("dst").alias("id")))
            .distinct()
        )
        n = verts.count()
        if n == 0:
            raise ValueError(f"batch bound {bound}: empty cumulative edge set")
        out_w = cum.groupBy("src").agg(F.sum("weight").cast("double").alias("out_w"))
        adj = cache_partitioned(
            cum.join(out_w, "src")
            .select("src", "dst", (F.col("weight") / F.col("out_w")).alias("frac"))
            .repartition("src")
        )
        if state is None:
            init = verts.select("id", F.lit(1.0 / n).alias("rank"))
        else:
            raw = verts.join(
                state.withColumnRenamed("rank", "prank"), "id", "left"
            ).select("id", F.coalesce("prank", F.lit(1.0 / n)).alias("rank"))
            raw = materialize(raw)
            tot = raw.agg(F.sum("rank")).collect()[0][0]
            init = raw.select("id", (F.col("rank") / F.lit(float(tot))).alias("rank"))
        cur = materialize(init.repartition("id"))
        if state is not None:
            unpersist_checkpoint(raw)
        for _ in range(iters_per_batch):
            contrib = (
                adj.join(cur.withColumnRenamed("id", "src").hint("SHUFFLE_HASH"), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("frac") * F.col("rank")).alias("c"))
                .withColumnRenamed("dst", "id")
            )
            nxt = verts.join(contrib.hint("SHUFFLE_HASH"), "id", "left").select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
            nxt = materialize(nxt)
            unpersist_checkpoint(cur)
            cur = nxt
        unpersist_checkpoint(verts)
        if prev_adj is not None:
            prev_adj.unpersist()
        prev_adj = adj
        state = store.persist(b, state=cur)["state"]
    if prev_adj is not None:
        prev_adj.unpersist()
    return state.select("id", F.round("rank", 8).alias("rank"))


def stream_triangles(
    spark: SparkSession,
    edge_stream: DataFrame,
    boundaries: list[int],
    checkpoint_dir: str | None = None,
    run_id: str = "stream_tri",
    resume: bool = False,
) -> DataFrame:
    """(batch_id, triangles) — incremental triangle maintenance over an
    ordered edge stream, completing the dynamic family (stream LPA / BP
    / CC / dedup / novelty / PageRank) for the fourth north-star
    algorithm.  ``edge_stream(src, dst, edge_seq)``; batch b consumes
    rows with edge_seq < boundaries[b] (cumulative), and the emitted
    count per batch is the EXACT triangle count of everything consumed.

    Incremental delta: only triangles containing at least one NEW
    undirected edge can appear, and every such triangle has a new edge
    {a, b} whose common neighbors w in the cumulative graph witness it.
    Candidates are generated from the LOWER-degree endpoint of each new
    edge (one cumulative-degree join decides the probe side), so the
    per-edge candidate cost is min(deg(a), deg(b)) — a new edge landing
    on a 10^7-degree hub probes from its other end; the canonical
    sorted triple dedups triangles discovered through two or three of
    their new edges.  Per-batch cost is delta-proportional, never
    re-counting the accumulated graph — the property that matters at
    10^12 edges.  Counts are scalar per-batch collects (house rule:
    scalars only).

    ``checkpoint_dir`` + ``resume=True`` (VERDICT r3 #9 family): the
    cumulative pair table and the per-batch count history snapshot
    durably per batch; a killed run resumes from the latest complete
    batch and emits the identical count series."""
    canon = (
        edge_stream.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("edge_seq"),
        )
        .groupBy("a", "b")
        .agg(F.min("edge_seq").alias("edge_seq"))
    )
    store = FoldCheckpointer(
        spark, checkpoint_dir, run_id, ("cum", "counts"),
        manifest={"boundaries": boundaries},
    )
    # cum: the canonical pairs seen so far; counts: the count history
    snap, start_batch = store.start(resume, cum=canon.select("a", "b").limit(0), counts=None)
    cum = snap["cum"]
    out = sorted(tuple(r) for r in snap["counts"].collect()) if start_batch else []
    total = out[-1][1] if out else 0
    counts_schema = "batch_id int, triangles long"
    for batch_id, bound in enumerate(boundaries[start_batch:], start_batch):
        cond = F.col("edge_seq") < bound
        if batch_id:
            cond = cond & (F.col("edge_seq") >= boundaries[batch_id - 1])
        new = materialize(canon.filter(cond).select("a", "b").join(cum, ["a", "b"], "left_anti"))
        nxt_cum = materialize(cum.unionByName(new))
        sym = nxt_cum.select(F.col("a").alias("u"), F.col("b").alias("w")).unionByName(
            nxt_cum.select(F.col("b").alias("u"), F.col("a").alias("w"))
        )
        deg = sym.groupBy("u").agg(F.count("*").alias("dg"))
        # probe from the lower-degree endpoint: per-edge candidate cost
        # min(deg(a), deg(b)) instead of deg(a) — hub-safe
        oriented = (
            new.join(deg.select(F.col("u").alias("a"), F.col("dg").alias("da")), "a")
            .join(deg.select(F.col("u").alias("b"), F.col("dg").alias("db")), "b")
            .select(
                F.when(F.col("da") <= F.col("db"), F.col("a")).otherwise(F.col("b")).alias("p"),
                F.when(F.col("da") <= F.col("db"), F.col("b")).otherwise(F.col("a")).alias("q"),
            )
        )
        cands = (
            oriented.join(sym.withColumnRenamed("u", "p"), "p")  # w adjacent to probe side
            .join(
                sym.select(F.col("u").alias("q"), F.col("w").alias("w")),
                ["q", "w"],
                "left_semi",
            )  # and adjacent to the other side
            .filter((F.col("w") != F.col("p")) & (F.col("w") != F.col("q")))
            .select(F.array_sort(F.array("p", "q", "w")).alias("tri"))
            .distinct()
        )
        delta = cands.count()
        total += delta
        out.append((batch_id, total))
        unpersist_checkpoint(new)
        cum = store.persist(
            batch_id, cum=nxt_cum, counts=spark.createDataFrame(out, counts_schema)
        )["cum"]
    store.release()
    return spark.createDataFrame(out, counts_schema)
