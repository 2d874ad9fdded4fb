"""HITS (hubs & authorities) as iterative DataFrame joins.

Jacobi-style simultaneous update — both vectors of iteration i read only
iteration i-1 (same fixed point as the classic sequential sweep, but one
pass over the edge table per superstep and no intra-step intermediate to
persist):

    auth_i(v) = Σ_{(u,v)∈E} w(u,v) · hub_{i-1}(u)  / Σ hub_{i-1}
    hub_i(u)  = Σ_{(u,v)∈E} w(u,v) · auth_{i-1}(v) / Σ auth_{i-1}

L1 normalization is folded into the NEXT superstep's multiply (and the
final select). The norms are observed on each state's persist job, so a
superstep is that one job, its convergence metric included.

Scale plan (mirrors pagerank.py): the edge table is checkpointed TWICE
with partition-preserving layouts — hash(src) for the auth push and
hash(dst) for the hub pull — so both per-iteration joins are
exchange-free on the 100 TB side; only the two score vectors move.
Edges are DIRECTED here (hub/auth collapse to the same vector on a
symmetrized table).

North-star scope like PageRank (SURVEY.md §2.13); no reference analogue
(the C++ engine tracks undirected block-model graphs only,
src/graph.cpp:14-30). Gated against an unrolled DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.iterate import IterationDriver, cache_partitioned, materialize, unpersist_checkpoint


def hits(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    tolerance: float = 1e-8,
    max_iterations: int = 50,
    driver: IterationDriver | None = None,
    collect_metrics: list | None = None,
) -> DataFrame:
    """scores(id, hub, auth), each column L1-normalized to Σ = 1.

    edges(src, dst, weight) is DIRECTED. tolerance < 0 runs exactly
    ``max_iterations`` supersteps with no convergence metric (the
    oracle-gated mode); otherwise stop when max |Δauth| ≤ tolerance.
    """
    driver = driver or IterationDriver(spark, run_id="hits")

    verts = (
        vertices.select("id")
        if vertices is not None
        else edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    verts = materialize(verts)
    n = verts.count()

    # two partitioned columnar-cache copies of the edge table: the auth
    # push probes on src, the hub pull probes on dst — each join then
    # runs with ZERO exchange on the edge side every superstep (see
    # plans/iterate.cache_partitioned for why static tables cache
    # columnar instead of checkpointing raw rows)
    e3 = edges.select("src", "dst", "weight")
    adj_src = cache_partitioned(e3.repartition("src"))
    adj_dst = cache_partitioned(e3.repartition("dst"))

    # out_w(u) = Σ w(u, v) over the vertex set's in-edges, a static state
    # column: Σ_u hub(u)·out_w(u) / Σ hub is the NEXT state's auth norm,
    # so the normalized auth delta needs no pass of its own
    out_w = (
        e3.join(verts.select(F.col("id").alias("dst")), "dst", "left_semi")
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum("weight").cast("double").alias("out_w"))
    )
    state0 = (
        verts.join(out_w, "id", "left")
        .select(
            "id",
            F.lit(1.0 / n).alias("hub"),
            F.lit(1.0 / n).alias("auth"),
            F.coalesce("out_w", F.lit(0.0)).alias("out_w"),
        )
        .repartition("id")
    )
    # the L1 norms of each state ride its persist job
    observe = {
        "sh": F.sum("hub"),
        "sa": F.sum("auth"),
        "push": F.sum(F.col("hub") * F.col("out_w")),
    }
    fixed_iters = tolerance < 0

    def step(state: DataFrame, i: int):
        sh, sa, push = (driver.observed[c] for c in ("sh", "sa", "push"))
        # identical association order to the SQL oracle:
        # ((weight * score) / norm), left-assoc — float-exact parity
        auth_new = (
            adj_src.join(state.select(F.col("id").alias("src"), "hub").hint("SHUFFLE_HASH"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("weight") * F.col("hub") / F.lit(sh)).alias("auth_c"))
            .withColumnRenamed("dst", "id")
        )
        hub_new = (
            adj_dst.join(state.select(F.col("id").alias("dst"), "auth").hint("SHUFFLE_HASH"), "dst")
            .groupBy("src")
            .agg(F.sum(F.col("weight") * F.col("auth") / F.lit(sa)).alias("hub_c"))
            .withColumnRenamed("src", "id")
        )
        new = (
            state.select("id", "out_w", F.col("auth").alias("old_auth"))
            .join(hub_new.hint("SHUFFLE_HASH"), "id", "left")
            .join(auth_new.hint("SHUFFLE_HASH"), "id", "left")
            .select(
                "id",
                F.coalesce("hub_c", F.lit(0.0)).alias("hub"),
                F.coalesce("auth_c", F.lit(0.0)).alias("auth"),
                "out_w",
                "old_auth",
            )
        )
        # compare L1-NORMALIZED auth vectors (raw scales differ between
        # iterations); the new norm is push / sh, known before the job
        new_sa = F.lit(push) / F.lit(sh)
        delta = F.max(F.abs(F.col("auth") / new_sa - F.col("old_auth") / F.lit(sa)))
        return new, None if fixed_iters else delta

    result = driver.run(
        state0,
        step,
        max_iterations=max_iterations,
        tolerance=tolerance,
        metric_name="max_auth_delta",
        observe=observe,
        state_key="id",
    )
    if collect_metrics is not None:
        collect_metrics.extend(result.metrics)

    sh, sa = driver.observed["sh"], driver.observed["sa"]  # of the final state
    out = result.state.select(
        "id",
        (F.col("hub") / F.lit(sh)).alias("hub"),
        (F.col("auth") / F.lit(sa)).alias("auth"),
    )
    for df in (verts, adj_src, adj_dst):
        unpersist_checkpoint(df)
    return out
