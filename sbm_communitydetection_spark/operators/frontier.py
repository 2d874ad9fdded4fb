"""R-hop frontier expansion — the reference's radius-bounded BFS ball
(collectRNeighborhood, src/belief_propagation.cpp:128-167; distance-ordered
queue at :133-139, T6 in SURVEY.md §2.8).

StreamBP limits message recomputation to the radius-r neighborhood of a
newly arrived edge's endpoints. The engine form: r iterated hash joins
from a seed frontier, keeping the MINIMUM distance per vertex (the
reference's priority queue orders by distance; a synchronous frontier
sweep visits each vertex first at its true BFS distance, so the min-dist
aggregation reproduces it exactly).

Each round is one join + one min-aggregation; the visited set stays
partitioned by vertex id. Unreached vertices are absent (not distance ∞).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def r_hop_neighborhood(
    edges: DataFrame,
    seeds: DataFrame,
    radius: int,
) -> DataFrame:
    """(id, dist) for every vertex within ``radius`` hops of ``seeds(id)``
    over the SYMMETRIZED edge table; dist = exact BFS distance."""
    if radius < 0:
        raise ValueError("radius must be >= 0")
    visited = seeds.select("id").distinct().select("id", F.lit(0).alias("dist"))
    frontier = visited
    for r in range(1, radius + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), F.lit(r).alias("dist"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def r_hop_neighborhood_sql(radius: int, src_pred: str = "src < 5") -> str:
    """Unrolled DuckDB oracle over the `edges` CTE; seeds = vertices
    matching ``src_pred`` (a predicate over column `src`); returns
    (id, dist)."""
    parts = [
        f"f0 AS (SELECT DISTINCT src AS id, 0 AS dist FROM edges WHERE {src_pred})",
        "v0 AS (SELECT id, dist FROM f0)",
    ]
    for r in range(1, radius + 1):
        parts.append(
            f"""f{r} AS (
    SELECT DISTINCT e.dst AS id, {r} AS dist
    FROM edges e JOIN f{r - 1} f ON e.src = f.id
    WHERE e.dst NOT IN (SELECT id FROM v{r - 1})
),
v{r} AS (SELECT id, dist FROM v{r - 1} UNION ALL SELECT id, dist FROM f{r})"""
        )
    return ",\n".join(parts) + f"\nSELECT id, dist FROM v{radius}"
