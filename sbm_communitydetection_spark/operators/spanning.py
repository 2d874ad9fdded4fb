"""Minimum spanning forest via Borůvka rounds (Borůvka 1926; the
MapReduce/MST-at-scale formulation of Lattanzi et al., SPAA 2011):
every component selects its minimum outgoing edge under the total
order (w, a, b) — the lexicographic tie-break makes the MSF UNIQUE and
therefore oracle-checkable — selected edges merge components, repeat.
Components halve (at least) per round, so rounds are O(log n).

Per round the edge table joins the O(V) component labeling twice
(id-keyed, the J1 shape), the per-component argmin is one aggregate of
MIN(struct(w, a, b)), and the contraction runs connected_components on
the SELECTED-edge component graph — a table bounded by the component
count, not |E|.  The full edge set is never shuffled on anything but
its endpoints; no reference analogue (north-star §2.13 scope:
standard link-graph algorithm).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.iterate import materialize, unpersist_checkpoint


def minimum_spanning_forest(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 30,
) -> DataFrame:
    """(a, b, w) — the unique MSF under the (w, a, b) total order.
    Multi-edges collapse to their minimum weight first (only candidate
    MST edges).  Raises if cross-component edges remain after
    ``max_rounds`` (silent truncation would return a partial forest)."""
    from .components import connected_components

    pairs = materialize(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("weight").cast("long").alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )
    comp = materialize(
        pairs.select(F.col("a").alias("id"))
        .unionByName(pairs.select(F.col("b").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("c"))
    )
    owned = [pairs, comp]
    chosen: list[DataFrame] = []
    done = False
    for _ in range(max_rounds):
        la = comp.select(F.col("id").alias("a"), F.col("c").alias("ca"))
        lb = comp.select(F.col("id").alias("b"), F.col("c").alias("cb"))
        cross = materialize(pairs.join(la, "a").join(lb, "b").filter(F.col("ca") != F.col("cb")))
        owned.append(cross)
        if cross.limit(1).count() == 0:
            done = True
            break
        per = cross.select(F.col("ca").alias("comp"), "w", "a", "b").unionByName(
            cross.select(F.col("cb").alias("comp"), "w", "a", "b")
        )
        sel = materialize(
            per.groupBy("comp")
            .agg(F.min(F.struct("w", "a", "b")).alias("m"))
            .select(F.col("m.a").alias("a"), F.col("m.b").alias("b"), F.col("m.w").alias("w"))
            .distinct()
        )
        owned.append(sel)
        chosen.append(sel)
        cg = (
            sel.join(la, "a")
            .join(lb, "b")
            .select(F.col("ca").alias("src"), F.col("cb").alias("dst"))
            .distinct()
        )
        cc = connected_components(spark, cg.withColumn("weight", F.lit(1)))
        comp_next = materialize(
            comp.join(
                cc.select(F.col("id").alias("c"), F.col("component").alias("nc")),
                "c",
                "left",
            )
            .select("id", F.coalesce("nc", "c").alias("c"))
        )
        owned.append(comp_next)
        comp = comp_next
    if not done:
        raise RuntimeError(
            f"minimum_spanning_forest: cross-component edges remain after "
            f"max_rounds={max_rounds} — returning would be a partial forest"
        )
    if chosen:
        out = chosen[0]
        for s in chosen[1:]:
            out = out.unionByName(s)
        result = materialize(out.select("a", "b", "w").distinct())
    else:
        result = spark.createDataFrame([], "a long, b long, w long")
    for df in owned:
        unpersist_checkpoint(df)
    return result


def minimum_spanning_forest_sql(rounds: int) -> str:
    """DuckDB twin over the `edges` CTE — ``rounds`` unrolled Borůvka
    rounds; contraction per round via recursive transitive closure on
    the selected-edge COMPONENT graph (component-count-bounded, the
    components_recursive_sql pattern).  Compose under WITH RECURSIVE."""
    parts = [
        """mpairs AS MATERIALIZED (
    SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, MIN(weight)::BIGINT AS w
    FROM edges WHERE src <> dst GROUP BY 1, 2
)""",
        """mcomp0 AS (
    SELECT id, id AS c FROM (
        SELECT DISTINCT a AS id FROM mpairs UNION SELECT b FROM mpairs
    )
)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""mcross{r} AS MATERIALIZED (
    SELECT p.a, p.b, p.w, ca.c AS ca, cb.c AS cb
    FROM mpairs p
    JOIN mcomp{r - 1} ca ON ca.id = p.a
    JOIN mcomp{r - 1} cb ON cb.id = p.b
    WHERE ca.c <> cb.c
),
msel{r} AS MATERIALIZED (
    SELECT DISTINCT m.a AS a, m.b AS b, m.w AS w FROM (
        SELECT MIN(struct_pack(w := w, a := a, b := b)) AS m
        FROM (
            SELECT ca AS comp, w, a, b FROM mcross{r}
            UNION ALL SELECT cb, w, a, b FROM mcross{r}
        ) GROUP BY comp
    )
),
mcg{r} AS MATERIALIZED (
    SELECT DISTINCT x.u, x.v FROM (
        SELECT c1.c AS u, c2.c AS v
        FROM msel{r} s JOIN mcomp{r - 1} c1 ON c1.id = s.a
        JOIN mcomp{r - 1} c2 ON c2.id = s.b
        UNION ALL
        SELECT c2.c, c1.c
        FROM msel{r} s JOIN mcomp{r - 1} c1 ON c1.id = s.a
        JOIN mcomp{r - 1} c2 ON c2.id = s.b
    ) x
),
mreach{r}(u, v) AS (
    SELECT u, u FROM mcg{r}
    UNION
    SELECT r.u, g.v FROM mreach{r} r JOIN mcg{r} g ON r.v = g.u
),
mlab{r} AS (SELECT u AS c, MIN(v) AS nc FROM mreach{r} GROUP BY u),
mcomp{r} AS MATERIALIZED (
    SELECT p.id, COALESCE(n.nc, p.c) AS c
    FROM mcomp{r - 1} p LEFT JOIN mlab{r} n ON n.c = p.c
)"""
        )
    unions = "\nUNION\n".join(
        f"SELECT a, b, w FROM msel{r}" for r in range(1, rounds + 1)
    )
    return ",\n".join(parts) + f"\nSELECT a, b, w FROM ({unions})"
