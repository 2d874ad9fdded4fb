"""Densest-subgraph approximation via parallel peeling (Bahmani,
Kumar & Vassilvitskii, "Densest Subgraph in Streaming and MapReduce",
VLDB 2012) — the standard scalable 2(1+ε)-approximation, here with
ε = 1 (factor-4 guarantee, O(log₂ n) rounds):

    round r: ρ_r = |E_r| / |V_r|; every vertex with deg_r(v) ≤ 2·ρ_r
    leaves; the answer is the round-r subgraph of maximum ρ_r
    (earliest round on ties).

Each round is one degree aggregate + one scalar density action + two
anti-joins — entirely deterministic (no sampling, no RNG), so the
unrolled DuckDB twin replays it exactly.  Progress is guaranteed every
round (some vertex is always at or below average degree = 2ρ), and
|V| shrinks geometrically, so 10^12 vertices peel in ~40 rounds.

No reference analogue (north-star §2.13 scope: link-graph mining
operator for community/core discovery at web scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.iterate import materialize, unpersist_checkpoint


def densest_subgraph(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 60,
) -> DataFrame:
    """(id, best_density) — the vertices of the densest peeled subgraph,
    each row carrying the subgraph's density ρ = |E|/|V| (canonical
    undirected edges, rounded 6 dp).  Raises if the peel has not
    exhausted the graph after ``max_rounds`` (cannot happen before
    ~log₂ |V| rounds by the progress guarantee — the cap is a loud
    backstop, not a silent truncation)."""
    cur = materialize(
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    owned = [cur]
    best_density, best_round = -1.0, -1
    survivors = []  # per-round vertex DataFrames (checkpointed)
    r = 0
    while r < max_rounds:
        deg = materialize(
            cur.select(F.col("a").alias("id"))
            .unionByName(cur.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count("*").cast("long").alias("deg"))
        )
        owned.append(deg)
        stats = deg.agg(
            F.count("*").alias("nv"), F.coalesce(F.sum("deg"), F.lit(0)).alias("sumdeg")
        ).collect()[0]
        if stats.nv == 0:
            break
        ne = int(stats.sumdeg) // 2
        rho = ne / stats.nv
        if rho > best_density:
            best_density, best_round = rho, r
            survivors.append((r, deg.select("id")))
        drop = deg.filter(F.col("deg") <= 2 * rho).select("id")
        cur = materialize(
            cur.join(drop.select(F.col("id").alias("a")), "a", "left_anti")
            .join(drop.select(F.col("id").alias("b")), "b", "left_anti")
            .select("a", "b")
        )
        owned.append(cur)
        r += 1
    else:
        raise RuntimeError(
            f"densest_subgraph: graph not exhausted after max_rounds={max_rounds}"
        )

    if best_round < 0:  # edgeless input: no non-empty round existed
        empty = cur.select(
            F.col("a").alias("id"), F.lit(0.0).alias("best_density")
        ).limit(0)
        for df in owned:
            unpersist_checkpoint(df)
        return empty

    best_ids = next(df for rr, df in survivors if rr == best_round)
    result = materialize(
        best_ids.select(
            "id", F.round(F.lit(best_density), 6).alias("best_density")
        )
    )
    for df in owned:
        unpersist_checkpoint(df)
    return result


def densest_subgraph_sql(rounds: int) -> str:
    """DuckDB twin over the `edges` CTE: ``rounds`` unrolled peels
    (empty tail rounds no-op), argmax density round wins, earliest on
    ties.  MATERIALIZED CTEs — each round's table is referenced several
    times and non-materialized inlining is exponential."""
    parts = [
        """p0 AS MATERIALIZED (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM edges WHERE src <> dst
)"""
    ]
    for r in range(rounds):
        parts.append(
            f"""d{r} AS MATERIALIZED (
    SELECT id, COUNT(*)::BIGINT AS deg FROM (
        SELECT a AS id FROM p{r} UNION ALL SELECT b FROM p{r}
    ) GROUP BY id
),
s{r} AS MATERIALIZED (
    SELECT {r} AS r, COUNT(*)::BIGINT AS nv,
           (COALESCE(SUM(deg), 0) / 2)::BIGINT AS ne
    FROM d{r}
),
p{r + 1} AS MATERIALIZED (
    SELECT a, b FROM p{r}
    WHERE a NOT IN (SELECT id FROM d{r}, s{r}
                    WHERE nv > 0 AND deg <= 2.0 * ne / nv)
      AND b NOT IN (SELECT id FROM d{r}, s{r}
                    WHERE nv > 0 AND deg <= 2.0 * ne / nv)
)"""
        )
    stats_union = "\nUNION ALL\n".join(
        f"SELECT r, nv, ne FROM s{r} WHERE nv > 0" for r in range(rounds)
    )
    deg_union = "\nUNION ALL\n".join(
        f"SELECT {r} AS r, id FROM d{r}" for r in range(rounds)
    )
    parts.append(f"stats AS MATERIALIZED ({stats_union})")
    parts.append(
        """best AS MATERIALIZED (
    SELECT r, ROUND(ne * 1.0 / nv, 6) AS best_density
    FROM stats ORDER BY ne * 1.0 / nv DESC, r ASC LIMIT 1
)"""
    )
    parts.append(f"alldeg AS MATERIALIZED ({deg_union})")
    return (
        ",\n".join(parts)
        + """
SELECT d.id, b.best_density
FROM alldeg d JOIN best b ON d.r = b.r"""
    )
