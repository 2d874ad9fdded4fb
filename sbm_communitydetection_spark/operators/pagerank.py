"""Weighted PageRank as iterative DataFrame joins (north-star op, SURVEY.md §2.13).

Per iteration (all JVM-side column math, zero Python in the loop body):

    contribs = adj(src, dst, frac) ⋈ ranks(src)  →  groupBy(dst).sum(rank·frac)
    dangling = Σ rank over vertices with no out-edges   (observed on the state)
    new_rank = (1-d)/n + d·(contrib + dangling/n)
    delta    = max |new - old|          (convergence, observed on the state)

The transition fraction ``frac = weight / out_weight`` is precomputed once
and cached — the iteration loop reuses the same shuffle partitioning of
``adj`` every round.  Dangling-vertex mass is redistributed uniformly
(standard formulation; on a symmetrized edge table no dangling vertices
exist and the term is exactly 0).

The reference tracks only degree bookkeeping (src/graph.cpp:29); PageRank
itself is north-star scope.  Scores are validated allclose(1e-6) against
a pure-numpy oracle (tests/oracles.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.iterate import (
    IterationDriver,
    cache_partitioned,
    keyed_partitions,
    materialize,
    unpersist_checkpoint,
)


def pagerank(
    spark: SparkSession,
    edges: DataFrame | None,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tolerance: float = 1e-8,
    max_iterations: int = 100,
    driver: IterationDriver | None = None,
    collect_metrics: list | None = None,
    transition: DataFrame | None = None,
    reset_ids: DataFrame | None = None,
    resume: bool = False,
) -> DataFrame:
    """ranks(id, rank) with Σ rank = 1.

    edges(src, dst, weight) is treated as DIRECTED here; pass the
    symmetrized table for the undirected semantics of the link graph.
    The vertex set is every edge endpoint plus ``vertices``, if given.

    ``reset_ids``: optional (id) set — PERSONALIZED PageRank: teleport
    and dangling mass land uniformly on this set instead of all
    vertices (r(v) = 1/|S| on S, else 0; init = r). The per-iteration
    plan gains one join against the static reset vector, co-partitioned
    with the state on hash(id) so it is exchange-free.

    ``transition``: optional PREBUILT (src, dst, frac) table — e.g. a
    bucketed-table scan from sources/bucketed.write_transition_table —
    used verbatim instead of building the adjacency in-run. That
    eliminates the one per-run shuffle of the full edge table too: a
    bucketBy(N, src) scan satisfies hashpartitioning(src, N) straight
    off disk, so across restarts and repeat runs the 100 TB side never
    moves at all. frac must equal weight / out_weight(src) and every
    directed edge appear exactly once; `edges` may be None then.
    """
    if edges is None and transition is None:
        raise ValueError("pagerank needs edges or a prebuilt transition table")
    driver = driver or IterationDriver(spark, run_id="pagerank")
    edge_src = edges if edges is not None else transition

    # the whole prep in ONE job: the (id, out_deg) aggregate over every
    # endpoint, observed for n, m and the dangling-vertex count
    ends = edge_src.select(F.col("src").alias("id"), F.lit(1).alias("out")).unionByName(
        edge_src.select(F.col("dst").alias("id"), F.lit(0).alias("out"))
    )
    if vertices is not None:
        ends = ends.unionByName(vertices.select("id", F.lit(0).alias("out")))
    prep = Observation()
    verts = materialize(
        ends.groupBy("id")
        .agg(F.sum("out").alias("out_deg"))
        .observe(
            prep,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("out_deg"), F.lit(0)).alias("m"),
            F.count(F.when(F.col("out_deg") == 0, 1)).alias("dangling"),
        ),
        "id",
    )
    n, m, n_dangling = (prep.get[c] for c in ("n", "m", "dangling"))

    if transition is not None:
        # caller-owned layout (bucketed scan or equivalent): use as-is —
        # no per-run shuffle, no checkpoint to release, and the state
        # keeps the session's partition count
        adj = transition.select("src", "dst", "frac")
        k = int(spark.conf.get("spark.sql.shuffle.partitions"))
        owns_adj = False
    else:
        k = keyed_partitions(spark, m)
        out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
        # Pre-partition the transition table by the probe key, at the
        # state's k partitions, so every superstep join is exchange-free on
        # both sides, and materialize it as a compressed COLUMNAR cache
        # (cache_partitioned): the probe-side scan is the superstep's
        # dominant memory traffic, and columnar batches cut it 2-3x vs raw
        # checkpoint rows (measured: 2->8 core scaling efficiency
        # 0.81 -> 0.93 on the 19.2M-edge bench). The cached plan records
        # the hashpartitioning, so the join stays exchange-free on this
        # side (plan-asserted in test_plan_shapes). SHUFFLE_HASH, not a
        # broadcast of out_w: a broadcast is a job of its own, and the
        # join's hash(src) output makes the repartition free for k > 1.
        adj = cache_partitioned(
            edges.join(out_w.hint("SHUFFLE_HASH"), "src")
            .select("src", "dst", (F.col("weight") / F.col("out_w")).alias("frac"))
            .repartition(k, "src"),
            k,
        )
        owns_adj = True
    dangling = (F.col("out_deg") == 0).alias("dangling")

    # personalized teleport vector r(v): static, co-partitioned with the
    # state on hash(id), checkpointed once (released at the end)
    resets = None
    if reset_ids is not None:
        members = reset_ids.select("id").distinct()
        ns = verts.join(members, "id", "left_semi").count()
        if ns == 0:
            raise ValueError("reset_ids contains no graph vertex")
        resets = materialize(
            verts.join(members.select("id", F.lit(1.0).alias("m")), "id", "left")
            .select("id", (F.coalesce(F.col("m"), F.lit(0.0)) / ns).alias("r"), dangling)
            .repartition(k, "id"),
            "id",
        )

    # the state (id, rank, dangling) is co-partitioned with adj (hash(id)
    # ≡ hash(src) after the rename in step), at k partitions: every
    # superstep's join is exchange-free on BOTH sides, only the
    # partially-aggregated contribs move
    if resets is not None:
        ranks = resets.select("id", F.col("r").alias("rank"), "dangling")
    else:
        ranks = verts.select("id", F.lit(1.0 / n).alias("rank"), dangling).repartition(k, "id")
    base = (1.0 - damping) / n
    # Σ rank over the dangling vertices rides each state's persist job;
    # on a symmetrized link graph there are none and nothing is observed
    observe = (
        {"dangling_mass": F.coalesce(F.sum(F.when(F.col("dangling"), F.col("rank"))), F.lit(0.0))}
        if n_dangling
        else None
    )
    fixed_iters = tolerance < 0  # caller wants exactly max_iterations supersteps

    def step(state: DataFrame, i: int):
        dangling_mass = driver.observed["dangling_mass"] if observe else 0.0
        contribs = (
            adj.join(state.select(F.col("id").alias("src"), "rank").hint("SHUFFLE_HASH"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("frac")).alias("contrib"))
            .withColumnRenamed("dst", "id")
        )
        contrib = F.coalesce(F.col("contrib"), F.lit(0.0))
        # SHUFFLE_HASH: both sides are already hash(id)-partitioned; the
        # hint swaps the default co-partitioned sort-merge (2 sorts of the
        # full rank vector per superstep) for a plain hash join
        new = state.join(contribs.hint("SHUFFLE_HASH"), "id", "left")
        if resets is not None:
            new = new.join(resets.select("id", "r").hint("SHUFFLE_HASH"), "id")
            rank = F.lit(1.0 - damping) * F.col("r") + F.lit(damping) * (
                contrib + F.lit(dangling_mass) * F.col("r")
            )
        else:
            rank = F.lit(base) + F.lit(damping) * (contrib + F.lit(dangling_mass / n))
        # old and new rank share the row: the delta is observed on the
        # persist job, and the driver drops the old_rank working column
        new = new.select("id", rank.alias("rank"), "dangling", F.col("rank").alias("old_rank"))
        return new, None if fixed_iters else F.max(F.abs(F.col("rank") - F.col("old_rank")))

    result = driver.run(
        ranks,
        step,
        max_iterations=max_iterations,
        tolerance=tolerance,
        resume=resume,  # north_rule: a durable-driver run continues
        # mid-iteration from the latest complete snapshot
        metric_name="max_delta",
        observe=observe,
        state_key="id",
    )
    if collect_metrics is not None:
        collect_metrics.extend(result.metrics)
    # the run's static inputs (transition table, vertex set, reset vector)
    # are dead once the final rank vector is materialized — release their
    # blocks so back-to-back operators in one session start with a clean
    # block manager (see unpersist_checkpoint). A caller-provided
    # transition table is NOT ours to release.
    statics = [verts] + ([adj] if owns_adj else []) + ([resets] if resets is not None else [])
    for df in statics:
        unpersist_checkpoint(df)
    return result.state.select("id", "rank")


def ppr_sweep_cut(
    spark: SparkSession,
    edges: DataFrame,
    reset_ids: DataFrame,
    rounds: int = 5,
    damping: float = 0.85,
    round_to: int = 8,
) -> DataFrame:
    """(id, rnk, phi) — the minimum-conductance sweep set of a
    personalized-PageRank run (Andersen–Chung–Lang FOCS'06 §3): LOCAL
    community detection around a seed set, the "what cluster does this
    actor belong to, without clustering the whole graph" query.

    Vertices are ranked by ppr/degree (descending, id tie-break); for
    every prefix S_k the conductance phi(S_k) = cut(S_k) /
    min(vol(S_k), vol(V)−vol(S_k)) is computed from two running sums
    over that SAME ranking — volume (cumulative degree) and internal
    edge weight (an edge joins the prefix when the LATER of its two
    endpoints enters, so cumulative internal weight is the running sum
    of edge weight grouped by max(rnk_src, rnk_dst)) — and the argmin
    prefix (smallest k on ties) is returned, one row per member.

    Cut/volume arithmetic is exact int64; ppr/deg ordering and the
    conductance division are float ops over identical inputs in both
    engines, so the DuckDB twin (sql_oracles.ppr_sweep_cut_sql) replays
    the identical sweep.  The ranking window is global — fine for the
    gate graph and for real local clusters (sweep sets are small by
    construction: cap the sweep to the top ~10^4 ppr vertices at scale,
    or replace row_number with the two-phase distributed prefix sum
    used by textops/pipeline.pack_conversations)."""
    ranks = pagerank(
        spark,
        edges,
        damping=damping,
        tolerance=-1.0,
        max_iterations=rounds,
        reset_ids=reset_ids,
    )
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.sum("weight").cast("long").alias("deg")
    )
    scored = ranks.select("id", F.round("rank", round_to).alias("rank")).join(deg, "id")
    w_rank = Window.orderBy((F.col("rank") / F.col("deg")).desc(), F.asc("id"))
    rnk = scored.select(
        "id", "deg", F.row_number().over(w_rank).cast("long").alias("rnk")
    )

    rs = rnk.select(F.col("id").alias("src"), F.col("rnk").alias("rnk_s"))
    rd = rnk.select(F.col("id").alias("dst"), F.col("rnk").alias("rnk_d"))
    internal_at = (
        edges.filter(F.col("src") != F.col("dst"))
        .join(rs, "src")
        .join(rd, "dst")
        .groupBy(F.greatest("rnk_s", "rnk_d").alias("mr"))
        .agg(F.sum("weight").cast("long").alias("w_at"))
    )
    w_pfx = Window.orderBy("rnk")
    pfx = (
        rnk.join(internal_at, rnk["rnk"] == internal_at["mr"], "left")
        .select(
            "rnk",
            F.sum("deg").over(w_pfx).alias("vol"),
            F.coalesce(F.sum("w_at").over(w_pfx), F.lit(0)).alias("internal"),
        )
    )
    tot = rnk.agg(
        F.sum("deg").cast("long").alias("vol_tot"), F.count("*").cast("long").alias("n")
    )
    phi = (
        pfx.crossJoin(tot)
        .filter(F.col("rnk") < F.col("n"))
        .select(
            "rnk",
            (
                (F.col("vol") - F.col("internal")).cast("double")
                / F.least(F.col("vol"), F.col("vol_tot") - F.col("vol"))
            ).alias("phi"),
        )
    )
    best = phi.orderBy(F.asc("phi"), F.asc("rnk")).limit(1).select(
        F.col("rnk").alias("best_k"), F.col("phi").alias("best_phi")
    )
    return (
        rnk.crossJoin(best)
        .filter(F.col("rnk") <= F.col("best_k"))
        .select("id", "rnk", F.round("best_phi", 6).alias("phi"))
    )


def rwr_multi_seed(
    spark: SparkSession,
    edges: DataFrame,
    seed_mod: int = 100,
    seed_rem: int = 0,
    rounds: int = 3,
    damping: float = 0.85,
    eps: float = 1e-6,
    k: int = 5,
) -> DataFrame:
    """(seed, id, rank, rnk) — top-k random-walk-with-restart similarity
    per seed: for EVERY seed vertex simultaneously, its own personalized
    PageRank vector (restart vector = that one seed), the standard
    node-similarity / related-items primitive (Tong–Faloutsos–Pan,
    ICDM'06).  pagerank(reset_ids=...) answers "rank w.r.t. a seed SET";
    this answers "who is similar to EACH seed" — a different output per
    seed, the thing a recommender or expansion query actually wants.

    State is (seed, id, rank) — the forward-push sparsity trick makes it
    frontier-sized instead of seeds×vertices: after every superstep the
    rank is 8 dp-rounded and entries BELOW ``eps`` ARE DROPPED, so each
    seed's vector only ever holds vertices its restart mass actually
    reaches (Andersen–Chung–Lang locality: mass decays by `damping` per
    hop, so the support is a local neighborhood at any graph size).
    Each superstep is ONE join of the state against the transition table
    keyed on src plus a (seed, dst) sum — the PageRank plan with a
    compound key; seeds add rows, not stages.

    Determinism: per-round rounding before the eps compare and before
    the next multiply; final top-k ties break on smaller id.  The DuckDB
    twin (sql_oracles.rwr_multi_seed_sql) unrolls the identical rounds.
    """
    outw = edges.groupBy("src").agg(F.sum("weight").cast("double").alias("out_w"))
    adj = edges.join(outw, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("frac")
    )
    seeds = (
        edges.select(F.col("src").alias("seed"))
        .distinct()
        .filter(F.pmod(F.col("seed"), F.lit(seed_mod)) == seed_rem)
    )
    base = seeds.select(
        "seed", F.col("seed").alias("id"), F.lit(1.0 - damping).alias("base")
    )
    state = seeds.select("seed", F.col("seed").alias("id"), F.lit(1.0).alias("rank"))
    for _ in range(rounds):
        contrib = (
            state.join(adj, state["id"] == adj["src"])
            .groupBy("seed", F.col("dst").alias("vid"))
            .agg((F.lit(damping) * F.sum(F.col("frac") * F.col("rank"))).alias("c"))
            .withColumnRenamed("vid", "id")
        )
        state = (
            contrib.join(base, ["seed", "id"], "full")
            .select(
                "seed",
                "id",
                F.round(
                    F.coalesce("c", F.lit(0.0)) + F.coalesce("base", F.lit(0.0)), 8
                ).alias("rank"),
            )
            .filter(F.col("rank") >= eps)
        )
    w = Window.partitionBy("seed").orderBy(F.desc("rank"), F.asc("id"))
    return (
        state.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("seed", "id", "rank", "rnk")
    )
