"""Distributed maximal matching via mutual-pointer rounds (the
Israeli–Itai pattern, Inf. Process. Lett. 1986) with portable-hash edge
priorities — RNG-free, partition-independent, DuckDB-replayable.

Round r over the live subgraph: every vertex points at its
minimum-priority incident edge; an edge whose BOTH endpoints point at
it joins the matching, and matched vertices retire with all their
edges.  Progress every round: the globally minimum-priority live edge
is always mutual, and typical rounds retire a constant fraction of
live vertices, so rounds are O(log n) in practice.

Each round is one vertex-keyed argmin aggregate + one pair-count
aggregate over picks + two anti-joins — the MIS/LPA exchange
discipline, nothing new for the shuffle budget.

This is the EDGE-level independent set (graph matching for e.g.
pairwise dedup merge planning); the Hungarian/greedy matchings in
functions/metrics.py operate on k×k' community contingency tables and
are unrelated driver-scale code paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.iterate import materialize, unpersist_checkpoint
from ..textops.portable import md5_long, md5_long_sql


def _edge_pri(round_no: int):
    return md5_long(
        F.concat_ws(
            ":",
            F.lit("mm"),
            F.lit(str(round_no)),
            F.col("a").cast("string"),
            F.col("b").cast("string"),
        )
    )


def maximal_matching(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 40,
) -> DataFrame:
    """(a, b, match_round) — a maximal matching over the canonical
    undirected pair set (a < b): no two output edges share a vertex, and
    every non-matched live edge has a matched endpoint.  Raises at the
    round cap instead of returning a non-maximal matching."""
    live = materialize(
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    owned = [live]
    matched = []
    for r in range(1, max_rounds + 1):
        if live.limit(1).count() == 0:
            break
        pri = _edge_pri(r)
        cand = live.select("a", "b", pri.alias("p"))
        # each vertex's minimum-priority incident edge (tie-free: the
        # 60-bit hash is injective on the gate's pair domain, and the
        # (p, a, b) struct breaks ties deterministically regardless)
        picks = (
            cand.select(F.col("a").alias("v"), F.struct("p", "a", "b").alias("e"))
            .unionByName(cand.select(F.col("b").alias("v"), F.struct("p", "a", "b").alias("e")))
            .groupBy("v")
            .agg(F.min("e").alias("e"))
        )
        # an edge picked by BOTH endpoints is mutual → matched
        win = materialize(
            picks.groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") == 2)
            .select("a", "b")
        )
        owned.append(win)
        matched.append(win.select("a", "b", F.lit(r).alias("match_round")))
        dead = (
            win.select(F.col("a").alias("id"))
            .unionByName(win.select(F.col("b").alias("id")))
            .distinct()
        )
        live = materialize(
            live.join(dead.select(F.col("id").alias("a")), "a", "left_anti")
            .join(dead.select(F.col("id").alias("b")), "b", "left_anti")
            .select("a", "b")
        )
        owned.append(live)
    else:
        if live.limit(1).count() != 0:
            raise RuntimeError(
                f"maximal_matching: live edges remain after max_rounds={max_rounds}"
            )

    if not matched:
        result = live.select(
            "a", "b", F.lit(0).cast("int").alias("match_round")
        ).limit(0)
    else:
        out = matched[0]
        for m in matched[1:]:
            out = out.unionByName(m)
        result = out.select("a", "b", F.col("match_round").cast("int").alias("match_round"))
    result = materialize(result)
    for df in owned:
        unpersist_checkpoint(df)
    return result


def maximal_matching_sql(rounds: int) -> str:
    """DuckDB twin over the `edges` CTE — identical priorities and
    mutual-pick rounds, MATERIALIZED against exponential inlining."""
    pri = lambda r: md5_long_sql(
        f"'mm:{r}:' || CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)"
    )
    parts = [
        """ml0 AS MATERIALIZED (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM edges WHERE src <> dst
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""mc{r} AS MATERIALIZED (
    SELECT a, b, {pri(r)} AS p FROM ml{r - 1}
),
mp{r} AS MATERIALIZED (
    SELECT v, MIN(struct_pack(p := p, a := a, b := b)) AS e FROM (
        SELECT a AS v, p, a, b FROM mc{r}
        UNION ALL SELECT b AS v, p, a, b FROM mc{r}
    ) GROUP BY v
),
mw{r} AS MATERIALIZED (
    SELECT (e).a AS a, (e).b AS b FROM mp{r}
    GROUP BY (e).a, (e).b HAVING COUNT(*) = 2
),
md{r} AS MATERIALIZED (
    SELECT a AS id FROM mw{r} UNION SELECT b FROM mw{r}
),
ml{r} AS MATERIALIZED (
    SELECT a, b FROM ml{r - 1}
    WHERE a NOT IN (SELECT id FROM md{r})
      AND b NOT IN (SELECT id FROM md{r})
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT a, b, {r} AS match_round FROM mw{r}" for r in range(1, rounds + 1)
    )
    return (
        ",\n".join(parts)
        + f"\nSELECT a, b, match_round::INT AS match_round FROM ({unions})"
    )
