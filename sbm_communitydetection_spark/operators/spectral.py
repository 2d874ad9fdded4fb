"""Spectral bisection — second eigenvector of the normalized adjacency
via deflated power iteration (Fiedler '73; Shi–Malik normalized-cut
form, PAMI 22(8) 2000).

The engine's other partitioners are combinatorial (louvain/LPA/FM);
spectral bisection is the embedding-based one: the sign pattern of the
second eigenvector of B = D^(-1/2) A D^(-1/2) minimizes a relaxation
of the normalized cut.  It is also the principled seed for the north
rule's EXPLICIT partitioning mandate — a 2^k-way recursive bisection
assigns vertices to executors so the cut (= shuffle traffic measured
by operators/partition_audit.partition_quality) is small, where a
hash partition cuts ~every edge.

Spark-first shape: B's top eigenvector is known in closed form
(u ∝ D^(1/2) 1), so the second eigenvector comes from power iteration
WITH DEFLATION — per superstep one edge⋈vector join + per-vertex sum
(the PageRank plan shape, pagerank.py:34), one dot-product aggregate
(project out u), one norm aggregate.  State: one float per vertex.
At 10^12 vertices this runs exactly like PageRank does; no dense
matrix ever exists.

Determinism: the init vector is ±1 from the portable-hash parity of
the id, the normalized-adjacency fractions and u are 9 dp-rounded once
up front, and the vector is renormalized and 9 dp-rounded after every
superstep, so the DuckDB twin (spectral_bisection_sql) replays the
trajectory with only sub-rounding float drift (same convention as the
gated PageRank oracle at 8 dp).  Partition side = sign of the final
6 dp-rounded loading (>= 0 → side 1).

Reference parity: no spectral surface exists in the reference (its
block inference is BP/greedy — src/belief_propagation.cpp); this is a
north-star extension (SURVEY.md §2.13 family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.iterate import cache_partitioned, materialize, unpersist_checkpoint
from ..textops.portable import md5_long, md5_long_sql

SPECTRAL_ROUND = 9


def spectral_bisection(
    spark: SparkSession,
    edges: DataFrame,
    iters: int = 6,
) -> DataFrame:
    """(id, loading, side) — per-vertex second-eigenvector loading of
    the normalized adjacency after `iters` deflated power steps, and
    the sign bisection.  `edges` must be symmetrized (src, dst, weight);
    self-loops are ignored by construction of the gate tables."""
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.sum("weight").cast("double").alias("deg")
    )
    vol = deg.agg(F.sum("deg").alias("vol"))
    u = materialize(
        deg.crossJoin(vol)
        .select("id", "deg", F.round(F.sqrt(F.col("deg") / F.col("vol")), SPECTRAL_ROUND).alias("u"))
    )

    dsrc = deg.select(F.col("id").alias("src"), F.col("deg").alias("deg_s"))
    ddst = deg.select(F.col("id").alias("dst"), F.col("deg").alias("deg_d"))
    nadj = cache_partitioned(
        edges.join(dsrc, "src")
        .join(ddst, "dst")
        .select(
            "src",
            "dst",
            F.round(
                F.col("weight") / F.sqrt(F.col("deg_s") * F.col("deg_d")),
                SPECTRAL_ROUND,
            ).alias("frac"),
        )
        .repartition("dst")
    )

    n = u.count()
    x = materialize(
        u.select(
            "id",
            F.round(
                ((md5_long(F.concat(F.lit("spec_"), F.col("id"))) % 2) * 2 - 1)
                / F.lit(float(n) ** 0.5),
                SPECTRAL_ROUND,
            ).alias("x"),
        )
    )

    for _ in range(iters):
        xv = x.select(F.col("id").alias("dst"), F.col("x").alias("xd"))
        y = (
            nadj.join(xv.hint("SHUFFLE_HASH"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(F.col("frac") * F.col("xd")).alias("y"))
        )
        yu = u.join(y, "id", "left").select(
            "id", "u", F.coalesce("y", F.lit(0.0)).alias("y")
        )
        proj = yu.agg(F.sum(F.col("u") * F.col("y")).alias("proj"))
        defl = yu.crossJoin(proj).select(
            "id", (F.col("y") - F.col("proj") * F.col("u")).alias("y")
        )
        nrm = defl.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("nrm"))
        nxt = materialize(
            defl.crossJoin(nrm)
            .select("id", F.round(F.col("y") / F.col("nrm"), SPECTRAL_ROUND).alias("x"))
        )
        unpersist_checkpoint(x)
        x = nxt

    out = x.select(
        "id",
        F.round("x", 6).alias("loading"),
        F.when(F.round("x", 6) >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("side"),
    )
    unpersist_checkpoint(nadj)
    unpersist_checkpoint(u)
    return out


def spectral_bisection_sql(iters: int = 6) -> str:
    """DuckDB twin as a CTE tail over a pre-defined symmetrized `edges`
    CTE (src, dst, weight)."""
    return (
        ",\n".join(spectral_cte_parts(iters))
        + f"""
SELECT id, ROUND(x, 6) AS loading,
       (CASE WHEN ROUND(x, 6) >= 0 THEN 1 ELSE 0 END)::BIGINT AS side
FROM spx{iters}"""
    )


def spectral_cte_parts(iters: int = 6, edges_table: str = "edges") -> list[str]:
    """The twin as reusable CTE parts (final loading table ``spx{iters}``)
    so composite readouts (the partition-quality audit) replay the
    identical trajectory."""
    h = md5_long_sql("concat('spec_', id)")
    parts = [
        f"spdeg AS MATERIALIZED (SELECT src AS id, SUM(weight)::DOUBLE AS deg FROM {edges_table} GROUP BY src)",
        "spvol AS (SELECT SUM(deg) AS vol FROM spdeg)",
        f"spu AS MATERIALIZED (SELECT id, deg, ROUND(sqrt(deg / (SELECT vol FROM spvol)), {SPECTRAL_ROUND}) AS u FROM spdeg)",
        f"""spadj AS MATERIALIZED (
    SELECT e.src, e.dst,
           ROUND(e.weight / sqrt(ds.deg * dd.deg), {SPECTRAL_ROUND}) AS frac
    FROM {edges_table} e
    JOIN spdeg ds ON ds.id = e.src
    JOIN spdeg dd ON dd.id = e.dst
)""",
        "spn AS (SELECT COUNT(*)::DOUBLE AS n FROM spdeg)",
        f"""spx0 AS MATERIALIZED (
    SELECT id,
           ROUND((({h} % 2) * 2 - 1) / sqrt((SELECT n FROM spn)), {SPECTRAL_ROUND}) AS x
    FROM spdeg
)""",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""spy{t} AS MATERIALIZED (
    SELECT u.id, u.u, COALESCE(s.y, 0.0) AS y
    FROM spu u LEFT JOIN (
        SELECT a.src AS id, SUM(a.frac * x.x) AS y
        FROM spadj a JOIN spx{t - 1} x ON a.dst = x.id
        GROUP BY a.src
    ) s ON s.id = u.id
),
spp{t} AS (SELECT SUM(u * y) AS proj FROM spy{t}),
spd{t} AS MATERIALIZED (SELECT id, y - (SELECT proj FROM spp{t}) * u AS y FROM spy{t}),
spnrm{t} AS (SELECT sqrt(SUM(y * y)) AS nrm FROM spd{t}),
spx{t} AS MATERIALIZED (
    SELECT id, ROUND(y / (SELECT nrm FROM spnrm{t}), {SPECTRAL_ROUND}) AS x
    FROM spd{t}
)"""
        )
    return parts


def motif_spectral_bisection(
    spark: SparkSession, edges: DataFrame, iters: int = 6
) -> DataFrame:
    """(id, loading, side) — MOTIF spectral clustering for the triangle
    motif (Benson, Gleich, Leskovec, Science 353, 2016): run the
    spectral bisection on the motif-weighted graph W_ij = number of
    triangles containing edge (i, j), so the cut minimized is the
    motif conductance (triangles cut) instead of the edge conductance.
    On reply/actor graphs this ignores incidental one-off links (they
    carry no triangles) and splits along cohesive-group boundaries.

    Pure composition of two gated operators: edge_embeddedness supplies
    the triangle-support weights from the degree-oriented triangle list
    (hub-safe), spectral_bisection supplies the eigensolve.  Vertices
    with no triangle edge drop out of the motif graph (standard motif-
    clustering behavior — they belong to no triangle community)."""
    from .triangles import edge_embeddedness

    emb = edge_embeddedness(edges).filter(F.col("common") > 0)
    me = emb.select(
        F.col("a").alias("src"), F.col("b").alias("dst"),
        F.col("common").cast("long").alias("weight"),
    )
    msym = me.unionByName(
        me.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    return spectral_bisection(spark, msym, iters=iters)


def motif_spectral_sql(iters: int = 6) -> str:
    """DuckDB twin: value-ordered triangle materialization → per-edge
    triangle support → symmetrized motif graph → the spectral parts."""
    return (
        """msp_und AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
    FROM edges WHERE src <> dst
),
msp_tri AS MATERIALIZED (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM msp_und e1
    JOIN msp_und e2 ON e2.u = e1.u AND e2.v > e1.v
    JOIN msp_und bc ON bc.u = e1.v AND bc.v = e2.v
),
msp_sup AS MATERIALIZED (
    SELECT u, v, COUNT(*)::BIGINT AS w FROM (
        SELECT a AS u, b AS v FROM msp_tri
        UNION ALL SELECT a, c FROM msp_tri
        UNION ALL SELECT b, c FROM msp_tri
    ) GROUP BY u, v
),
msp_edges AS MATERIALIZED (
    SELECT u AS src, v AS dst, w AS weight FROM msp_sup
    UNION ALL
    SELECT v, u, w FROM msp_sup
),
"""
        + ",\n".join(spectral_cte_parts(iters, edges_table="msp_edges"))
        + f"""
SELECT id, ROUND(x, 6) AS loading,
       (CASE WHEN ROUND(x, 6) >= 0 THEN 1 ELSE 0 END)::BIGINT AS side
FROM spx{iters}"""
    )


def spectral_sweep_cut(
    spark: SparkSession, edges: DataFrame, iters: int = 6
) -> DataFrame:
    """(id, rnk, phi) — the CHEEGER SWEEP over the spectral ordering:
    vertices sorted by their second-eigenvector loading (ascending, id
    tie-break), the minimum-conductance prefix returned one row per
    member.  This is the theorem-backed readout of the Fiedler vector
    (Cheeger inequality: the best sweep prefix has conductance ≤
    √(2·λ₂)) — where the sign split (spectral_bisection) fixes the cut
    at loading 0, the sweep searches ALL n−1 prefixes of the same
    ordering and often finds a strictly better cut.  Same exact-int
    cut/volume running sums as ppr_sweep_cut (an edge enters the prefix
    when its LATER endpoint does); the ACL sweep localizes around a
    seed, this one is global.
    """
    from pyspark.sql import Window

    loadings = spectral_bisection(spark, edges, iters=iters)
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.sum("weight").cast("long").alias("deg")
    )
    w_rank = Window.orderBy(F.asc("loading"), F.asc("id"))
    rnk = loadings.join(deg, "id").select(
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
    pfx = rnk.join(internal_at, rnk["rnk"] == internal_at["mr"], "left").select(
        "rnk",
        F.sum("deg").over(w_pfx).alias("vol"),
        F.coalesce(F.sum("w_at").over(w_pfx), F.lit(0)).alias("internal"),
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


def spectral_sweep_cut_sql(iters: int = 6) -> str:
    """DuckDB twin over the `edges` CTE — the spectral parts + the sweep
    arithmetic (mirrors sql_oracles.ppr_sweep_cut_sql's tail with the
    loading ordering)."""
    parts = spectral_cte_parts(iters)
    parts.append(
        f"""ssdeg AS (SELECT src AS id, SUM(weight)::BIGINT AS deg FROM edges GROUP BY src),
ssrank AS MATERIALIZED (
    SELECT d.id, d.deg,
           ROW_NUMBER() OVER (ORDER BY ROUND(x.x, 6) ASC, d.id ASC)::BIGINT AS rnk
    FROM ssdeg d JOIN spx{iters} x ON x.id = d.id
),
ssedge AS (
    SELECT GREATEST(rs.rnk, rd.rnk) AS mr, e.weight
    FROM edges e
    JOIN ssrank rs ON rs.id = e.src
    JOIN ssrank rd ON rd.id = e.dst
    WHERE e.src <> e.dst
),
ssin AS (SELECT mr, SUM(weight)::BIGINT AS w_at FROM ssedge GROUP BY mr),
sstot AS (SELECT SUM(deg)::BIGINT AS vol_tot, COUNT(*)::BIGINT AS n FROM ssrank),
sspfx AS (
    SELECT r.rnk,
           SUM(r.deg) OVER (ORDER BY r.rnk) AS vol,
           COALESCE(SUM(i.w_at) OVER (ORDER BY r.rnk), 0) AS internal
    FROM ssrank r LEFT JOIN ssin i ON i.mr = r.rnk
),
ssphi AS (
    SELECT p.rnk,
           (p.vol - p.internal)::DOUBLE / LEAST(p.vol, t.vol_tot - p.vol) AS phi
    FROM sspfx p, sstot t
    WHERE p.rnk < t.n
),
ssbest AS (SELECT rnk AS best_k, phi FROM ssphi ORDER BY phi ASC, rnk ASC LIMIT 1)"""
    )
    return (
        ",\n".join(parts)
        + """
SELECT r.id, r.rnk, ROUND(b.phi, 6) AS phi
FROM ssrank r, ssbest b
WHERE r.rnk <= b.best_k"""
    )
