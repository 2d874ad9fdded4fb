"""HITS (hubs & authorities) as iterative DataFrame joins.

Jacobi-style simultaneous update — both vectors of iteration i read only
iteration i-1 (same fixed point as the classic sequential sweep, but one
pass over the edge table per superstep and no intra-step intermediate to
persist):

    auth_i(v) = Σ_{(u,v)∈E} w(u,v) · hub_{i-1}(u)  / Σ hub_{i-1}
    hub_i(u)  = Σ_{(u,v)∈E} w(u,v) · auth_{i-1}(v) / Σ auth_{i-1}

L1 normalization is folded into the NEXT superstep's multiply (and the
final select), so per superstep the only actions are the driver's
persist plus one cheap 2-scalar agg on the already-materialized state.

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
    broadcast_rows_threshold: int = 250_000,
    collect_metrics: list | None = None,
) -> DataFrame:
    """scores(id, hub, auth), each column L1-normalized to Σ = 1.

    edges(src, dst, weight) is DIRECTED. tolerance < 0 runs exactly
    ``max_iterations`` supersteps with no convergence actions (the
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

    fixed_iters = tolerance < 0
    use_broadcast = n <= broadcast_rows_threshold

    def _side(state: DataFrame, key: str) -> DataFrame:
        side = state.withColumnRenamed("id", key)
        return F.broadcast(side) if use_broadcast else side.hint("SHUFFLE_HASH")

    state0 = verts.select(
        "id", F.lit(1.0 / n).alias("hub"), F.lit(1.0 / n).alias("auth")
    ).repartition("id")

    def step(state: DataFrame, i: int):
        # L1 norms of the previous (persisted) state — one tiny 2-scalar
        # job over the materialized vector, not a re-run of the superstep
        sh, sa = state.agg(F.sum("hub"), F.sum("auth")).collect()[0]
        # identical association order to the SQL oracle:
        # ((weight * score) / norm), left-assoc — float-exact parity
        auth_new = (
            adj_src.join(_side(state.select("id", "hub"), "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("weight") * F.col("hub") / F.lit(sh)).alias("auth_c"))
            .withColumnRenamed("dst", "id")
        )
        hub_new = (
            adj_dst.join(_side(state.select("id", "auth"), "dst"), "dst")
            .groupBy("src")
            .agg(F.sum(F.col("weight") * F.col("auth") / F.lit(sa)).alias("hub_c"))
            .withColumnRenamed("src", "id")
        )
        new = (
            state.select("id")
            .join(hub_new.hint("SHUFFLE_HASH"), "id", "left")
            .join(auth_new.hint("SHUFFLE_HASH"), "id", "left")
            .select(
                "id",
                F.coalesce("hub_c", F.lit(0.0)).alias("hub"),
                F.coalesce("auth_c", F.lit(0.0)).alias("auth"),
            )
        )
        if fixed_iters:
            return new, float("inf")

        def delta(persisted: DataFrame) -> float:
            # compare L1-NORMALIZED auth vectors (raw scales differ
            # between iterations); both norms read materialized state
            new_sa = persisted.agg(F.sum("auth")).collect()[0][0]
            row = (
                persisted.join(
                    state.select("id", F.col("auth").alias("old_auth")), "id"
                )
                .agg(
                    F.max(
                        F.abs(
                            F.col("auth") / F.lit(new_sa)
                            - F.col("old_auth") / F.lit(sa)
                        )
                    )
                )
                .collect()[0][0]
            )
            return float(row)

        return new, delta

    result = driver.run(
        state0,
        step,
        max_iterations=max_iterations,
        tolerance=tolerance,
        metric_name="max_auth_delta",
        state_key="id",
    )
    if collect_metrics is not None:
        collect_metrics.extend(result.metrics)

    final = result.state
    sh, sa = final.agg(F.sum("hub"), F.sum("auth")).collect()[0]
    out = final.select(
        "id",
        (F.col("hub") / F.lit(sh)).alias("hub"),
        (F.col("auth") / F.lit(sa)).alias("auth"),
    )
    for df in (verts, adj_src, adj_dst):
        unpersist_checkpoint(df)
    return out
