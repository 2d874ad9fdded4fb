"""Synchronous weighted label propagation — the SBM community-detection
analogue of the reference's block-model inference (BASELINE.json).

One superstep = the reference's core gain aggregate + argmax, applied to
ALL vertices simultaneously (SURVEY.md §2.13):

* A8  per-node neighbor-community weight
  (src/approximate_community_detection.cpp:479-485,
   src/dynamic_community_detection.cpp:332-339):
      scores = edges ⋈ labels(dst) → groupBy(src, nbr_label).sum(weight)
* T2  best-community argmax with deterministic MIN-LABEL tie-break
  (src/dynamic_community_detection.cpp:143-160; the reference shuffles
   visit order and moves asynchronously — we are synchronous and
   order-free by design, SURVEY.md §2.8 T5):
      max(struct(score, -label)) per src

Labels start as vertex ids (singleton init, the reference's DCD init at
src/dynamic_community_detection.cpp:16-18) unless an initial partition is
given.  Convergence = no label changed.  Synchronous LPA can 2-cycle on
bipartite-ish structure; `max_iterations` bounds that, and the returned
IterationResult metrics expose the changed-count series for diagnosis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.iterate import (
    IterationDriver,
    IterationResult,
    cache_partitioned,
    keyed_partitions,
    materialize,
    unpersist_checkpoint,
)


def lpa_superstep(
    edges: DataFrame,
    labels: DataFrame,
    variant: str = "plain",
) -> DataFrame:
    """One synchronous move of all vertices; isolated vertices keep labels.

    variant='plain':    adopt argmax neighbor-community weight (min label on tie).
    variant='keep_own': move only on STRICT improvement over the score of the
                        current label — the synchronous analogue of the
                        reference's keep-own-community-unless-better rule
                        (src/dynamic_community_detection.cpp:143-160), which
                        damps the period-2 oscillation plain sync LPA exhibits.

    (variant='gain' is handled by label_propagation directly — it needs the
    graph total weight 2m, a per-run scalar, so it is not a pure per-step
    function of (edges, labels).)

    Returns (id, label, old_label): ``old_label`` is the label each
    vertex held, in the same row, for a changed-label count.
    """
    if variant not in ("plain", "keep_own"):
        raise ValueError(f"unknown LPA variant {variant!r}")
    # both sides are hash(dst)-co-partitioned (edges pre-partitioned,
    # labels persisted partition-preserving); the hint picks a plain hash
    # join over the default sort-merge, which would SORT the full edge
    # table every superstep
    lbl_side = labels.select(F.col("id").alias("dst"), F.col("label").alias("nbr_label"))
    nbr = edges.join(lbl_side.hint("SHUFFLE_HASH"), "dst")
    # ONE exchange by src, then both aggregations run partition-local:
    # hash(src) satisfies groupBy(src, nbr_label)'s clustering, and early
    # supersteps have ~|E| distinct (src, nbr_label) groups (singleton
    # init), so a compound-key exchange would move the same rows with a
    # useless map-side combine, then exchange AGAIN for the argmax.
    scores = (
        nbr.repartition("src")
        .groupBy("src", "nbr_label")
        .agg(F.sum("weight").alias("score"))
    )
    if variant == "plain":
        # argmax score, min-label tie-break, as ONE min(struct): negate the
        # score, not the label, so string labels work too
        best = scores.groupBy("src").agg(
            F.min(
                F.struct((-F.col("score")).alias("neg_score"), F.col("nbr_label").alias("lbl"))
            ).alias("m")
        )
        best = best.select(F.col("src").alias("id"), F.col("m.lbl").alias("best_label"))
        return labels.join(best.hint("SHUFFLE_HASH"), "id", "left").select(
            "id",
            F.coalesce("best_label", "label").alias("label"),
            F.col("label").alias("old_label"),
        )
    # keep_own: one aggregation computes both argmax and the current label's score
    cur = labels.select(F.col("id").alias("src"), F.col("label").alias("cur_label"))
    agg = (
        scores.join(cur, "src")
        .groupBy("src")
        .agg(
            F.min(
                F.struct((-F.col("score")).alias("neg_score"), F.col("nbr_label").alias("lbl"))
            ).alias("m"),
            F.max(F.when(F.col("nbr_label") == F.col("cur_label"), F.col("score"))).alias("own_score"),
        )
        .select(
            F.col("src").alias("id"),
            F.col("m.lbl").alias("best_label"),
            (-F.col("m.neg_score")).alias("best_score"),
            "own_score",
        )
    )
    keep = F.coalesce(F.col("own_score"), F.lit(0.0)) >= F.coalesce(F.col("best_score"), F.lit(0.0))
    return labels.join(agg, "id", "left").select(
        "id",
        F.when(keep | F.col("best_label").isNull(), F.col("label"))
        .otherwise(F.col("best_label"))
        .alias("label"),
        F.col("label").alias("old_label"),
    )


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    initial_labels: DataFrame | None = None,
    max_iterations: int = 30,
    variant: str = "plain",
    tolerance: float = 0.0,
    driver: IterationDriver | None = None,
    edges_partitioned_by_dst: bool = False,
    resume: bool = False,
) -> IterationResult:
    """IterationResult whose .state is labels(id, label) at convergence.

    edges must be the SYMMETRIZED weighted table.

    variant='gain' is the reference's T2 semantics — the modularity-gain
    argmax with the epsilon_gain threshold of
    src/dynamic_community_detection.cpp:143-160 (ε at
    include/DCD/dynamic_community_detection.h:25). Unlike raw weight-voting
    ('plain'/'keep_own'), the gain score penalizes a candidate community by
    its total degree, so dense small graphs do not collapse into one
    community. Measured on the strong golden-corpus config (n=20, k=2,
    p_in=.9/p_out=.1): node-level gain sweeps ALONE stall at a 5-community
    local optimum (Q=0.301) — synchronous local moving cannot merge whole
    communities — while adding the reference DCD's community-merge phase
    (coarsen → re-sweep on the super-graph, C1 semantics) reaches the
    planted 2-block optimum (Q=0.392) exactly. 'gain' therefore runs the
    full multi-level gain pipeline (louvain internals) and repackages the
    per-level sweep series as this driver's iteration metrics; this is the
    variant that recovers the planted SBM partition (north-star criterion).
    """
    if variant not in ("plain", "keep_own", "gain"):
        raise ValueError(f"unknown LPA variant {variant!r}")
    if resume and variant == "gain":
        # the gain variant delegates to the multi-level louvain pipeline,
        # whose per-level super-graphs are not a single resumable state
        # vector — resume applies to the flat superstep variants only
        raise ValueError("resume=True is only supported for variant='plain'/'keep_own'")
    if variant == "gain":
        from .louvain import louvain

        res = louvain(
            spark,
            edges,
            vertices=vertices,
            initial_labels=initial_labels,
            max_sweeps=max_iterations,
            canonical=False,
        )
        total_sweeps = sum(res.sweeps) if res.sweeps else res.levels
        metrics = [
            {"level": lv, "sweeps": s, "modularity": q}
            for lv, (s, q) in enumerate(zip(res.sweeps, res.modularity_per_level))
        ]
        state = materialize(res.labels)
        unpersist_checkpoint(res.labels)  # superseded membership checkpoint
        return IterationResult(
            state=state,
            iterations=total_sweeps,
            converged=True,
            metrics=metrics,
        )
    driver = driver or IterationDriver(spark, run_id="lpa")
    # Pre-partition the edge table by the superstep's join key (dst), at
    # the state's k partitions (keyed_partitions), so each iteration
    # shuffles only the label vector, not the edges — partition-preserving
    # checkpoint, or AQE downgrades this to a full edge re-exchange per
    # superstep (see plans/iterate.py).
    # edges_partitioned_by_dst: the caller's table already satisfies
    # hashpartitioning(dst) — e.g. a bucketBy(N, dst) scan
    # (sources/bucketed.py) — so even the one per-run edge shuffle is
    # skipped and the big side never moves across restarts; the state
    # keeps the session's partition count then.
    owns_edges = not edges_partitioned_by_dst
    if owns_edges:
        k = keyed_partitions(spark, edges.count())
        edges = cache_partitioned(edges.repartition(k, "dst"), k)
    else:
        k = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fixed_iters = tolerance < 0
    if initial_labels is not None:
        labels = initial_labels.select("id", "label")
    else:
        verts = (
            vertices.select("id")
            if vertices is not None
            else edges.select(F.col("src").alias("id")).distinct()
        )
        labels = verts.select("id", F.col("id").alias("label"))
    # co-partitioned with edges on the superstep join key (id → dst), and
    # materialized once, by the driver; the singleton init projects `id`
    # under two aliases (see materialize)
    labels = labels.repartition(k, "id")

    singleton_init = initial_labels is None

    def step(state: DataFrame, i: int):
        if i == 1 and singleton_init and variant == "plain":
            # singleton labels ⇒ nbr_label == dst, so the A8 aggregate is
            # the IDENTITY on the (already (src,dst)-aggregated) edge
            # table — skip the join and the per-(src,label) aggregation,
            # go straight to the argmax
            scores = edges.select(
                "src", F.col("dst").alias("nbr_label"), F.col("weight").alias("score")
            )
            best = (
                scores.repartition("src")
                .groupBy("src")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("score")).alias("neg_score"),
                            F.col("nbr_label").alias("lbl"),
                        )
                    ).alias("m")
                )
                .select(F.col("src").alias("id"), F.col("m.lbl").alias("best_label"))
            )
            new = state.join(best.hint("SHUFFLE_HASH"), "id", "left").select(
                "id",
                F.coalesce("best_label", "label").alias("label"),
                F.col("label").alias("old_label"),
            )
        else:
            new = lpa_superstep(edges, state, variant=variant)
        # old_label is a working column: the driver keeps (id, label)
        changed = F.count(F.when(F.col("label") != F.col("old_label"), 1))
        return new, None if fixed_iters else changed

    result = driver.run(
        labels,
        step,
        max_iterations=max_iterations,
        tolerance=tolerance,
        resume=resume,  # north_rule: a durable-driver run continues
        # mid-iteration from the latest complete snapshot
        metric_name="labels_changed",
        state_key="id",
    )
    # release the pre-partitioned edge cache (static input, dead now; a
    # caller-provided pre-partitioned table is not ours to release)
    if owns_edges:
        unpersist_checkpoint(edges)
    return result


def seeded_label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    n_iterations: int = 4,
    driver: IterationDriver | None = None,
) -> IterationResult:
    """Semi-supervised seed expansion: `seeds`(id, label) are FROZEN;
    every other vertex synchronously adopts the weighted argmax over its
    LABELED neighbors (min-label tie-break), staying unlabeled (null)
    until the frontier reaches it.  The TrustRank-shaped primitive —
    propagate trusted/curated labels outward — the reference's plain LPA
    (T2) cannot express because its labels all start mutable.

    Exactly ``n_iterations`` synchronous rounds (deterministic, oracle-
    mirrored by functions/sql_oracles.seeded_lpa_unrolled_sql).  Plan
    shape matches label_propagation: edges pre-partitioned by dst once,
    at the state's k partitions, ONE exchange per superstep
    (repartition("src") feeds both the score aggregate and the argmax
    partition-local).  The labeled-only filter makes early rounds
    CHEAPER than plain LPA: the join's build side is the seed frontier,
    not all |V| labels.
    """
    driver = driver or IterationDriver(spark, run_id="seeded_lpa")
    k = keyed_partitions(spark, edges.count())
    edges = cache_partitioned(edges.repartition(k, "dst"), k)
    verts = edges.select(F.col("src").alias("id")).distinct()
    state0 = verts.join(
        seeds.select("id", F.col("label").alias("seed_label")), "id", "left"
    ).select(
        "id",
        F.col("seed_label").alias("label"),
        F.col("seed_label").isNotNull().alias("is_seed"),
    )
    state0 = state0.repartition(k, "id")

    def step(state: DataFrame, i: int):
        lbl_side = state.filter(F.col("label").isNotNull()).select(
            F.col("id").alias("dst"), F.col("label").alias("nbr_label")
        )
        best = (
            edges.join(lbl_side.hint("SHUFFLE_HASH"), "dst")
            .repartition("src")
            .groupBy("src", "nbr_label")
            .agg(F.sum("weight").alias("score"))
            .groupBy("src")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("score")).alias("neg_score"),
                        F.col("nbr_label").alias("lbl"),
                    )
                ).alias("m")
            )
            .select(F.col("src").alias("id"), F.col("m.lbl").alias("best_label"))
        )
        new = state.join(best.hint("SHUFFLE_HASH"), "id", "left").select(
            "id",
            F.when(F.col("is_seed"), F.col("label"))
            .otherwise(F.coalesce("best_label", "label"))
            .alias("label"),
            "is_seed",
        )
        return new, None  # fixed-iteration mode

    result = driver.run(
        state0,
        step,
        max_iterations=n_iterations,
        tolerance=-1.0,
        metric_name="seed_rounds",
        state_key="id",
    )
    unpersist_checkpoint(edges)
    return result
