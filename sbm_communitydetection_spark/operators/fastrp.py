"""FastRP node embeddings — iterated sparse random projection of the
adjacency matrix (Chen, Sui, Ding, Skiena — CIKM'19), the graph-ML
feature extractor designed explicitly for 100-billion-edge graphs.

No reference analogue (the reference's vertex state is a single
community label, src/graph.cpp); FastRP is what a transcripts
link-graph pipeline feeds to downstream similarity / clustering /
link-prediction models when one embedding pass over the whole graph is
all the budget allows.

Semantics here (the exact-integer variant):

    R(v, d)  = +1 / −1 / 0  with prob 1/4, 1/4, 1/2   (very sparse
               Achlioptas projection, s = 2), drawn from the portable
               60-bit hash of "frp:v:d" — RNG-free, engine-portable.
    E_0      = R
    E_k      = A · E_{k−1}      (weighted adjacency, exact int64)
    output   = E_K raw  +  the per-vertex L2-normalized loadings.

Deferring ALL normalization to the end keeps every intermediate an
exact 64-bit integer, so Spark and the DuckDB twin agree bit-for-bit
regardless of aggregation order (the WL-refinement discipline; the
paper's per-hop degree normalization L = D^β and multi-hop weighted
sums are float-order-sensitive and gate-hostile).  Magnitude bound:
|E_k| ≤ (max weighted degree)^k, so int64 holds through k = 3 up to
wdeg ≈ 2·10^6; web-scale runs beyond that bound should use
``scaled=True``, which iterates the random-walk transition matrix
D^{-1}A instead (the paper's β = −1 normalization; float, NOT
gate-exact, and a genuinely different — degree-debiased — embedding
direction).  On a regular graph D^{-1} is a scalar, so the two paths
are provably parallel there; the pytest pins exactly that.

Plan shape: the long-format embedding (id, dim, val) has n·dims rows;
each hop is ONE co-partitioned SHUFFLE_HASH join edges⋈emb on dst plus
ONE (src, dim) sum — map-side combinable, hub-safe (a 10^7-degree hub
is just 10^7·dims addends flowing into dims accumulators, never a
collected array).  The edge table is partitioned once and reused every
hop (plans/iterate.cache_partitioned, the PR/LPA discipline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.iterate import cache_partitioned, materialize, unpersist_checkpoint
from ..textops.portable import md5_long, md5_long_sql

FASTRP_DIMS = 8
FASTRP_ITERS = 2


def _coin(id_col: Column, dim_col: Column) -> Column:
    """Sparse projection entry in {−1, 0, +1} from the portable hash."""
    h = md5_long(F.concat_ws(":", F.lit("frp"), id_col, dim_col)) % 4
    return F.when(h == 0, 1).when(h == 1, -1).otherwise(0).cast("long")


def fastrp_embeddings(
    edges: DataFrame,
    dims: int = FASTRP_DIMS,
    iters: int = FASTRP_ITERS,
    scaled: bool = False,
) -> DataFrame:
    """(id, dim, val, nval) — raw iterate value (int64 when
    ``scaled=False``, double otherwise) and the L2-normalized loading
    rounded to 6 dp.  ``edges`` is the symmetrized weighted table."""
    edges = cache_partitioned(edges.repartition("dst"))
    val = _coin(F.col("id"), F.col("dim"))
    emb = materialize(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.explode(F.sequence(F.lit(0), F.lit(dims - 1))).alias("dim"))
        .select("id", "dim", val.alias("val"))
    )
    wdeg = None
    if scaled:
        wdeg = edges.groupBy(F.col("src").alias("id")).agg(
            F.sum("weight").cast("double").alias("wdeg")
        )
    for _ in range(iters):
        nbr = emb.select(
            F.col("id").alias("dst"), "dim", F.col("val").alias("nval_")
        )
        nxt = (
            edges.join(nbr.hint("SHUFFLE_HASH"), "dst")
            .groupBy(F.col("src").alias("id"), "dim")
            .agg(F.sum(F.col("weight") * F.col("nval_")).alias("val"))
        )
        if scaled:
            nxt = nxt.join(wdeg, "id").select(
                "id", "dim", (F.col("val") / F.col("wdeg")).alias("val")
            )
        nxt = materialize(nxt)
        unpersist_checkpoint(emb)
        emb = nxt
    unpersist_checkpoint(edges)
    norm = emb.groupBy("id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("norm")
    )
    return emb.join(norm, "id").select(
        "id",
        "dim",
        "val",
        F.when(F.col("norm") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("val") / F.col("norm"), 6))
        .alias("nval"),
    )


def fastrp_sql(dims: int = FASTRP_DIMS, iters: int = FASTRP_ITERS) -> str:
    """DuckDB twin of the exact path over the `edges` CTE — compose as
    ``edges_cte + ",\\n" + this`` (the wl_refinement_sql convention)."""
    coin = md5_long_sql("concat('frp', ':', id, ':', dim)")
    parts = [
        f"""frp_e0 AS (
    SELECT id, dim,
           (CASE ({coin} % 4) WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END)::BIGINT AS val
    FROM (SELECT DISTINCT src AS id FROM edges)
    CROSS JOIN (SELECT UNNEST(generate_series(0, {dims - 1})) AS dim)
)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""frp_e{k} AS (
    SELECT e.src AS id, p.dim, SUM(e.weight * p.val)::BIGINT AS val
    FROM edges e JOIN frp_e{k - 1} p ON e.dst = p.id
    GROUP BY e.src, p.dim
)"""
        )
    parts.append(
        f"""frp_norm AS (
    SELECT id, SQRT(SUM(val * val)) AS norm FROM frp_e{iters} GROUP BY id
)"""
    )
    return ",\n".join(parts) + f"""
SELECT e.id AS id, e.dim AS dim, e.val AS val,
       CASE WHEN n.norm = 0 THEN 0.0
            ELSE ROUND(e.val / n.norm, 6) END AS nval
FROM frp_e{iters} e JOIN frp_norm n ON e.id = n.id"""
