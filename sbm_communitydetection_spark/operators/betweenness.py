"""Approximate betweenness centrality: k-source, radius-truncated Brandes.

Exact betweenness is O(|V|·|E|) — unusable at link-graph scale. The
standard estimator (Brandes-Pich sampling) runs the two Brandes phases
from a small deterministic source sample and sums the per-source
dependencies; we additionally truncate the BFS at ``radius`` rounds
(ego-betweenness flavour), which bounds every phase to a fixed number of
supersteps — the same fixed-round pattern as sssp/k_core, so the whole
operator unrolls into a DuckDB oracle.

Forward phase (per source s, all sources in one keyed state — unweighted
BFS with shortest-path counting):

    frontier_0 = {(s, s, dist 0, sigma 1)}
    frontier_i = neighbours of frontier_{i-1} not yet visited;
                 sigma = Σ sigma of predecessor frontier entries

Backward phase (dependency accumulation, levels L-1 … 1):

    delta(v) = Σ_{w ∈ N(v), dist(w) = dist(v)+1}
                   (sigma(v) / sigma(w)) · (1 + delta(w))

    bc(v)    = Σ_s delta_s(v)            (v ≠ s)

Scale shape: the adjacency is checkpointed once hash(src)-partitioned
(immovable through both phases, 2·radius supersteps total); state rows
are (source, vertex)-keyed, so memory is |sample|·|ball|, controlled by
the sample size and radius exactly like the landmark-distance operator.

No reference analogue (SURVEY.md §2.13 scope extension); gated by the
unrolled oracle in betweenness_sql."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.iterate import cache_partitioned, materialize, unpersist_checkpoint


def betweenness_approx(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    radius: int,
    round_to: int = 6,
) -> DataFrame:
    """(id, bc) for every vertex with a positive truncated-Brandes
    dependency; ``sources`` is an (id) set, ``radius`` the BFS truncation
    (= number of forward supersteps)."""
    adj = cache_partitioned(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct().repartition("src")
    )

    owned = [adj]  # every checkpoint this run creates, released on return

    # ---- forward: BFS levels + shortest-path counts ----
    frontier = materialize(
        sources.select("id").distinct()
        .select(F.col("id").alias("lm"), "id", F.lit(0).alias("dist"), F.lit(1).cast("long").alias("sigma"))
    )
    owned.append(frontier)
    visited = frontier
    levels = [frontier]  # levels[i] = frontier at dist i
    for i in range(1, radius + 1):
        nxt = materialize(
            adj.join(frontier.withColumnRenamed("id", "src").hint("SHUFFLE_HASH"), "src")
            .groupBy("lm", F.col("dst").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited.select("lm", "id"), ["lm", "id"], "left_anti")
            .select("lm", "id", F.lit(i).alias("dist"), "sigma")
        )
        owned.append(nxt)
        levels.append(nxt)
        visited = materialize(visited.unionByName(nxt))
        owned.append(visited)
        frontier = nxt

    # ---- backward: dependency accumulation, deepest level up ----
    # delta at the deepest level is 0; walk levels radius-1 .. 1
    delta_next = levels[radius].select("lm", "id", F.lit(0.0).alias("delta"))
    deltas = []  # per-level (lm, id, delta) for levels 1..radius-1... plus radius
    deltas.append(delta_next)
    for lv in range(radius - 1, 0, -1):
        cur = levels[lv].select("lm", "id", "sigma")
        nxt_sig = levels[lv + 1].select(
            "lm", F.col("id").alias("w"), F.col("sigma").alias("sigma_w")
        )
        dn = delta_next.select("lm", F.col("id").alias("w"), F.col("delta").alias("delta_w"))
        contrib = (
            adj.withColumnRenamed("src", "id").withColumnRenamed("dst", "w")
            .join(cur, "id")
            .join(nxt_sig, ["lm", "w"])
            .join(dn, ["lm", "w"])
            .groupBy("lm", "id")
            .agg(
                F.sum(
                    (F.col("sigma") / F.col("sigma_w")) * (F.lit(1.0) + F.col("delta_w"))
                ).alias("delta")
            )
        )
        # vertices at this level with no deeper successor keep delta 0
        delta_next = materialize(
            cur.select("lm", "id")
            .join(contrib, ["lm", "id"], "left")
            .select("lm", "id", F.coalesce("delta", F.lit(0.0)).alias("delta"))
        )
        owned.append(delta_next)
        deltas.append(delta_next)

    out = deltas[0]
    for d in deltas[1:]:
        out = out.unionByName(d)
    bc = (
        out.filter(F.col("delta") > 0)
        .groupBy("id")
        .agg(F.round(F.sum("delta"), round_to).alias("bc"))
    )
    result = materialize(bc)
    for df in owned:
        unpersist_checkpoint(df)
    return result


def betweenness_sql(radius: int, src_mod: int, round_to: int = 6) -> str:
    """DuckDB twin over the `edges` CTE: sources = {id : id % src_mod = 0},
    same association order ((sigma / sigma_w) * (1 + delta_w))."""
    parts = [
        "nbrs AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)",
        "verts AS (SELECT DISTINCT src AS id FROM nbrs)",
        f"f0 AS (SELECT id AS lm, id, 0 AS dist, 1::BIGINT AS sigma FROM verts WHERE id % {src_mod} = 0)",
        "vis0 AS (SELECT lm, id FROM f0)",
    ]
    for i in range(1, radius + 1):
        parts.append(
            f"""f{i} AS (
    SELECT s.lm, e.dst AS id, {i} AS dist, SUM(s.sigma)::BIGINT AS sigma
    FROM nbrs e JOIN f{i - 1} s ON e.src = s.id
    WHERE NOT EXISTS (SELECT 1 FROM vis{i - 1} v WHERE v.lm = s.lm AND v.id = e.dst)
    GROUP BY s.lm, e.dst
)"""
        )
        parts.append(
            f"vis{i} AS (SELECT lm, id FROM vis{i - 1} UNION ALL SELECT lm, id FROM f{i})"
        )
    # backward: delta at the deepest level is 0
    parts.append(f"d{radius} AS (SELECT lm, id, 0.0 AS delta FROM f{radius})")
    for lv in range(radius - 1, 0, -1):
        parts.append(
            f"""d{lv} AS (
    SELECT c.lm, c.id, COALESCE(x.delta, 0.0) AS delta
    FROM f{lv} c LEFT JOIN (
        SELECT c2.lm, c2.id,
               SUM((c2.sigma / CAST(nx.sigma AS DOUBLE)) * (1.0 + dn.delta)) AS delta
        FROM nbrs e
        JOIN f{lv} c2 ON e.src = c2.id
        JOIN f{lv + 1} nx ON nx.lm = c2.lm AND nx.id = e.dst
        JOIN d{lv + 1} dn ON dn.lm = c2.lm AND dn.id = e.dst
        GROUP BY c2.lm, c2.id
    ) x ON x.lm = c.lm AND x.id = c.id
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT lm, id, delta FROM d{lv}" for lv in range(1, radius + 1)
    )
    return (
        ",\n".join(parts)
        + f""",
alldelta AS (
{unions}
)
SELECT id, ROUND(SUM(delta), {round_to}) AS bc
FROM alldelta WHERE delta > 0 GROUP BY id"""
    )
