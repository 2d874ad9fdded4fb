"""Katz centrality as fixed-iteration DataFrame joins.

    x_i(v) = beta + alpha * SUM_{(u,v) in E} x_{i-1}(u),   x_0 = beta

Counts walks of every length into v, geometrically damped — unlike
PageRank it rewards being reachable by MANY short walks rather than by
random-surfer mass, so hubs feeding hubs score high even with huge
out-degrees.  Converges for alpha < 1/lambda_max; the default 0.005 is
safe for the derived testdata digraph's spectral radius.

Scale plan (mirrors pagerank.py/hits.py): the DISTINCT edge table is
columnar-cached partitioned by src, so the one per-iteration join probes
it exchange-free; only the score vector (|V| rows) moves per superstep.
State is localCheckpointed per step to keep lineage flat.

North-star scope (SURVEY.md §2.13 centralities); no reference analogue —
the C++ engine has no directed centralities (src/graph.cpp:14-30).
Gated against an unrolled DuckDB oracle (katz_unrolled_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.iterate import cache_partitioned, materialize, unpersist_checkpoint


def katz_centrality(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.005,
    beta: float = 1.0,
    iterations: int = 8,
    broadcast_rows_threshold: int = 250_000,
) -> DataFrame:
    """scores(id, katz) after exactly ``iterations`` supersteps (rounded
    to 6 dp).  edges(src, dst[, weight]) is DIRECTED; weights are
    IGNORED (unweighted walk counts keep alpha's convergence bound
    degree-driven and scale-stable)."""
    dedges = edges.select("src", "dst").distinct()
    verts = materialize(
        dedges.select(F.col("src").alias("id"))
        .unionByName(dedges.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = verts.count()
    adj = cache_partitioned(dedges.repartition("src"))
    use_broadcast = n <= broadcast_rows_threshold

    state = verts.select("id", F.lit(beta).alias("katz")).repartition("id")
    state = materialize(state)
    for _ in range(iterations):
        side = state.withColumnRenamed("id", "src")
        side = F.broadcast(side) if use_broadcast else side.hint("SHUFFLE_HASH")
        contrib = (
            adj.join(side, "src")
            .groupBy("dst")
            .agg(F.sum("katz").alias("s"))
            .withColumnRenamed("dst", "id")
        )
        new = verts.join(
            contrib if use_broadcast else contrib.hint("SHUFFLE_HASH"), "id", "left"
        ).select(
            "id",
            # identical association order to the oracle:
            # beta + alpha * coalesce(sum, 0)
            (F.lit(beta) + F.lit(alpha) * F.coalesce("s", F.lit(0.0))).alias("katz"),
        )
        new = materialize(new)
        unpersist_checkpoint(state)
        state = new
    for df in (verts, adj):
        unpersist_checkpoint(df)
    return state.select("id", F.round("katz", 6).alias("katz"))


def katz_unrolled_sql(
    alpha: float = 0.005, beta: float = 1.0, iterations: int = 8
) -> str:
    """Fixed-iteration Katz over the `edges` CTE; returns (id, katz)."""
    parts = [
        "kedges AS (SELECT DISTINCT src, dst FROM edges)",
        "kverts AS (SELECT src AS id FROM kedges UNION SELECT dst FROM kedges)",
        f"k0 AS (SELECT id, {beta} AS katz FROM kverts)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""k{i} AS (
    SELECT v.id, {beta} + {alpha} * COALESCE(s.s, 0.0) AS katz
    FROM kverts v
    LEFT JOIN (
        SELECT e.dst AS id, SUM(k.katz) AS s
        FROM kedges e JOIN k{i - 1} k ON e.src = k.id
        GROUP BY e.dst
    ) s ON v.id = s.id
)"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT id, ROUND(katz, 6) AS katz FROM k{iterations}"
    )


def eigenvector_centrality(
    spark: SparkSession,
    edges: DataFrame,
    iterations: int = 8,
    broadcast_rows_threshold: int = 250_000,
) -> DataFrame:
    """scores(id, eig) — power iteration x ← Ax, renormalized to MEAN 1
    each superstep (x·n/Σx), after exactly ``iterations`` steps.

    The undamped sibling of katz_centrality: pure dominant-eigenvector
    mass, the strict "important because endorsed by the important"
    centrality. Mean-1 normalization (instead of L2) keeps the oracle a
    plain SUM and the magnitudes O(1) at any graph size, and is scale-
    equivalent to the eigenvector.

    Scale plan = katz's: the distinct adjacency is columnar-cached in
    src layout once, each superstep moves only the O(n) score vector
    plus ONE scalar normalization agg (driver round-trip per step —
    fine: supersteps are few and the agg rides the already-materialized
    state). In-degree-0 vertices decay to 0, the eigenvector limit.

    North-star scope (SURVEY.md §2.13 centralities); no reference
    analogue. Gated against an unrolled DuckDB oracle
    (eigenvector_unrolled_sql)."""
    dedges = edges.select("src", "dst").distinct()
    verts = materialize(
        dedges.select(F.col("src").alias("id"))
        .unionByName(dedges.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = verts.count()
    adj = cache_partitioned(dedges.repartition("src"))
    use_broadcast = n <= broadcast_rows_threshold

    state = verts.select("id", F.lit(1.0).alias("eig")).repartition("id")
    state = materialize(state)
    for _ in range(iterations):
        side = state.withColumnRenamed("id", "src")
        side = F.broadcast(side) if use_broadcast else side.hint("SHUFFLE_HASH")
        sums = (
            adj.join(side, "src")
            .groupBy("dst")
            .agg(F.sum("eig").alias("s"))
            .withColumnRenamed("dst", "id")
        )
        raw = materialize(
            verts.join(
                sums if use_broadcast else sums.hint("SHUFFLE_HASH"), "id", "left"
            ).select("id", F.coalesce("s", F.lit(0.0)).alias("s"))
        )
        # scalar normalizer against the just-materialized state (one tiny job)
        tot = raw.agg(F.sum("s")).collect()[0][0]
        # mass extinct (DAG input): the eigenvector limit is the zero
        # vector and every further superstep keeps it zero — stop after it
        eig = F.col("s") * F.lit(float(n)) / F.lit(float(tot)) if tot else F.col("s")
        new = materialize(raw.select("id", eig.alias("eig")))
        for df in (state, raw):
            unpersist_checkpoint(df)
        state = new
        if not tot:
            break
    for df in (verts, adj):
        unpersist_checkpoint(df)
    return state.select("id", F.round("eig", 6).alias("eig"))


def eigenvector_unrolled_sql(iterations: int = 8) -> str:
    """Fixed-iteration mean-1-normalized power iteration over the
    `edges` CTE; returns (id, eig). Mirrors eigenvector_centrality's
    association order: raw sum, then multiply by n, then divide by Σs."""
    # each r{i} is referenced twice (row source + normalizer); MATERIALIZED
    # stops DuckDB from inlining the whole iteration chain twice per level
    # (2^iterations re-evaluations of the innermost join otherwise)
    parts = [
        "kedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
        "kverts AS MATERIALIZED (SELECT src AS id FROM kedges UNION SELECT dst FROM kedges)",
        "kn AS (SELECT COUNT(*)::DOUBLE AS n FROM kverts)",
        "x0 AS (SELECT id, 1.0 AS eig FROM kverts)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""r{i} AS MATERIALIZED (
    SELECT v.id, COALESCE(s.s, 0.0) AS s
    FROM kverts v
    LEFT JOIN (
        SELECT e.dst AS id, SUM(x.eig) AS s
        FROM kedges e JOIN x{i - 1} x ON e.src = x.id
        GROUP BY e.dst
    ) s ON v.id = s.id
)"""
        )
        parts.append(
            f"x{i} AS (SELECT r.id, r.s * kn.n / (SELECT SUM(s) FROM r{i}) AS eig FROM r{i} r, kn)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT id, ROUND(eig, 6) AS eig FROM x{iterations}"
    )
