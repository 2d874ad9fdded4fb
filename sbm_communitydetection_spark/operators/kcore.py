"""k-core peeling — iterative degree-threshold subgraph extraction.

No reference analogue (the reference's only subgraph notion is the
two-community FM pair); k-core is the standard link-graph density
filter a transcripts graph pipeline uses to isolate the interaction
core before community detection.

Semantics: the k-core is the maximal subgraph in which every vertex
has ≥ k distinct neighbors (simple-graph degree, self-loops dropped).
Computed by synchronous peeling: each round removes every vertex whose
current degree < k; the fixpoint is order-independent, so the
distributed synchronous rounds and any sequential peel agree exactly.

Plan shape per round: one semi-join of the (static) pair table against
the surviving-vertex set on EACH endpoint + one count aggregate — the
pair table is pre-partitioned once and never re-exchanged, only the
shrinking vertex set moves (same discipline as PR/LPA, plans/iterate).

`rounds` (fixed-round mode) exists for the DuckDB gate: the oracle is
the same peel unrolled (functions/sql_oracles.k_core_unrolled_sql);
convergence on the gate graph is verified in tests so the fixed unroll
equals the true fixpoint there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.iterate import IterationDriver, cache_partitioned, materialize, unpersist_checkpoint


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    driver: IterationDriver | None = None,
    max_iterations: int = 100,
) -> DataFrame:
    """survivors(id, degree) of the k-core (degree = within-core degree).

    edges: directed or symmetrized; treated as an undirected simple
    graph. rounds=None peels to the fixpoint; rounds=R runs exactly R
    synchronous peel rounds (gate parity mode)."""
    driver = driver or IterationDriver(spark, run_id=f"kcore{k}")
    sym = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    pairs = cache_partitioned(
        sym.unionByName(sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition("src")
    )

    verts = pairs.select(F.col("src").alias("id")).distinct()

    def step(state: DataFrame, i: int):
        surv_src = state.select(F.col("id").alias("src"))
        surv_dst = state.select(F.col("id").alias("dst"))
        deg = (
            pairs.join(surv_src.hint("SHUFFLE_HASH"), "src", "left_semi")
            .join(surv_dst.hint("SHUFFLE_HASH"), "dst", "left_semi")
            .groupBy("src")
            .agg(F.count("*").alias("degree"))
        )
        new = deg.filter(F.col("degree") >= k).select(
            F.col("src").alias("id"), "degree"
        )
        # converged when no vertex was peeled this round: the previous
        # state's size is observed on its own persist job
        removed = F.lit(driver.observed["n"]) - F.count(F.lit(1))
        return new, None if rounds is not None else removed

    init = verts.select("id", F.lit(-1).cast("long").alias("degree"))
    result = driver.run(
        init,
        step,
        max_iterations=rounds if rounds is not None else max_iterations,
        tolerance=-1.0 if rounds is not None else 0.0,
        metric_name="peeled",
        observe={"n": F.count(F.lit(1))},
        state_key="id",
    )
    unpersist_checkpoint(pairs)
    return result.state


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    rounds: int,
) -> DataFrame:
    """(a, b, support) — oriented (a < b) edges surviving ``rounds`` of
    k-truss support peeling: each round drops every edge in fewer than
    k−2 triangles WITHIN the surviving subgraph. The edge-cohesion
    analogue of k_core (triangle-dense subgraph mining — the standard
    "strong ties only" filter before community detection).

    Per round: one wedge self-join on the center (the triangles.py
    shape) + a semi-join back onto the surviving edge set to keep only
    closed wedges, then the support threshold — all against a per-round
    checkpointed oriented edge table (the peel SHRINKS the table, so
    unlike PR the superstep input must be re-materialized each round;
    each checkpoint is released as soon as its successor exists).
    Fixed-round semantics mirror the unrolled DuckDB oracle
    (k_truss_unrolled_sql); convergence on the gate graph is asserted in
    tests so the unroll equals the fixpoint there."""
    cur = materialize(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    for _ in range(rounds):
        ab = cur.select("a", "b")  # drop the previous round's support col
        sym = ab.select(F.col("a").alias("c"), F.col("b").alias("x")).unionByName(
            ab.select(F.col("b").alias("c"), F.col("a").alias("x"))
        )
        wedges = (
            sym.select("c", F.col("x").alias("a"))
            .join(sym.select("c", F.col("x").alias("b")), "c")
            .filter(F.col("a") < F.col("b"))
        )
        closed = wedges.join(ab, ["a", "b"], "left_semi")
        support = closed.groupBy("a", "b").agg(F.count("*").cast("long").alias("support"))
        nxt = materialize(
            ab.join(support, ["a", "b"], "left")
            .select("a", "b", F.coalesce("support", F.lit(0).cast("long")).alias("support"))
            .filter(F.col("support") >= k - 2)
        )
        unpersist_checkpoint(cur)
        cur = nxt
    return cur


def k_truss_unrolled_sql(k: int, rounds: int) -> str:
    """DuckDB twin of k_truss over the `edges` CTE (same peel, unrolled)."""
    parts = [
        """e0 AS (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM edges WHERE src <> dst
)"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"""sym{p} AS (
    SELECT a AS c, b AS x FROM e{p} UNION ALL SELECT b AS c, a AS x FROM e{p}
),
sup{i} AS (
    SELECT w.a, w.b, COUNT(*)::BIGINT AS support
    FROM (
        SELECT l.c, l.x AS a, r.x AS b
        FROM sym{p} l JOIN sym{p} r ON l.c = r.c AND l.x < r.x
    ) w JOIN e{p} e ON w.a = e.a AND w.b = e.b
    GROUP BY w.a, w.b
),
e{i} AS (
    SELECT e.a, e.b, COALESCE(s.support, 0)::BIGINT AS support
    FROM e{p} e LEFT JOIN sup{i} s ON e.a = s.a AND e.b = s.b
    WHERE COALESCE(s.support, 0) >= {k - 2}
)"""
        )
    return ",\n".join(parts) + f"\nSELECT a, b, support FROM e{rounds}"


def coreness(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int | None = None,
    max_iterations: int = 100,
) -> DataFrame:
    """(id, coreness) — the FULL core decomposition via h-index
    iteration (Lu-Chen-Zhang-Zhou 2016, "The H-index of a network node
    and its relation to degree and coreness"): start every vertex at
    its degree, repeatedly replace each value with the h-index of its
    neighbors' values; the fixpoint is exactly the core number.
    Complements k_core: ONE run yields every k's shell membership
    instead of one threshold subgraph (no k-sweep of peels).

    Hub-safe h-index: neighbor values are first reduced to (value,
    count) groups — a map-side-combinable aggregate — and
    h = MAX(LEAST(cumulative_count, value)) over the value-descending
    cumulative counts. The per-vertex window therefore sorts at most
    |distinct neighbor values| rows (bounded by the vertex's current
    value, which shrinks toward its core number), never the raw
    neighbor list: a 10^7-degree hub contributes ~coreness rows to the
    sort, not 10^7. Values only decrease and are integer-bounded, so
    convergence is finite (diameter-ish rounds in practice).

    rounds=None iterates to the fixpoint (stop when no value changed);
    rounds=R unrolls exactly R synchronous rounds — gate parity mode,
    round-for-round identical to coreness_unrolled_sql(R) regardless of
    convergence. Tests assert the micro-graph fixpoint equals a
    sequential min-degree peel."""
    sym = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    pairs = cache_partitioned(
        sym.unionByName(sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition("dst")
    )
    state = materialize(
        pairs.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    w_cum = (
        Window.partitionBy("src")
        .orderBy(F.desc("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for _ in range(rounds if rounds is not None else max_iterations):
        nbr = pairs.join(
            state.select(F.col("id").alias("dst"), "c").hint("SHUFFLE_HASH"), "dst"
        )
        grouped = nbr.groupBy("src", "c").agg(F.count("*").cast("long").alias("cnt"))
        nxt = materialize(
            grouped.withColumn("cum", F.sum("cnt").over(w_cum))
            .groupBy(F.col("src").alias("id"))
            .agg(F.max(F.least(F.col("cum"), F.col("c"))).cast("long").alias("c"))
        )
        changed = -1
        if rounds is None:
            changed = (
                nxt.alias("n")
                .join(state.alias("p"), "id")
                .filter(F.col("n.c") != F.col("p.c"))
                .count()
            )
        unpersist_checkpoint(state)
        state = nxt
        if changed == 0:
            break
    unpersist_checkpoint(pairs)
    return state.select("id", F.col("c").alias("coreness"))


def coreness_unrolled_sql(rounds: int) -> str:
    """DuckDB twin of coreness(rounds=R) over the `edges` CTE — the same
    grouped h-index update unrolled (exact integer math, hash-identical)."""
    parts = [
        "kp AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)",
        "h0 AS (SELECT src AS id, COUNT(*)::BIGINT AS c FROM kp GROUP BY src)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""g{i} AS (
    SELECT p.src, h.c, COUNT(*)::BIGINT AS cnt
    FROM kp p JOIN h{i - 1} h ON p.dst = h.id
    GROUP BY p.src, h.c
)"""
        )
        parts.append(
            f"""h{i} AS (
    SELECT src AS id, MAX(LEAST(cum, c))::BIGINT AS c
    FROM (SELECT src, c, SUM(cnt) OVER (
              PARTITION BY src ORDER BY c DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM g{i})
    GROUP BY src
)"""
        )
    return ",\n".join(parts) + f"\nSELECT id, c AS coreness FROM h{rounds}"


def trussness(
    edges: DataFrame,
    rounds: int | None = None,
    max_iterations: int = 50,
) -> DataFrame:
    """(a, b, trussness) — the FULL truss decomposition via edge
    h-index iteration (Sariyüce, Seshadhri & Pinar, WWW'17 local
    nucleus decomposition): every canonical edge's truss number from
    ONE run, the edge-level sibling of `coreness` exactly as k_truss
    is k_core's edge-level sibling.  Start every edge at its triangle
    support; repeatedly replace each value with the h-index of
    min(value of the two partner edges) over the edge's triangles; the
    fixpoint is trussness − 2.  Triangle-free edges have trussness 2.

    Plan shape: the triangle incidence table (3 rows per triangle,
    built once from the degree-oriented triangle_list — Σ min(d_a,d_b)
    listing cost, hub-safe) is the static join side; each round is two
    co-partitioned joins against the shrinking edge-value vector plus
    the SAME grouped h-index window as coreness — per edge it sorts
    (value, count) groups, never the raw triangle list, so a
    10^5-triangle edge contributes ~trussness rows to the sort.
    Values only decrease and are integer-bounded ⇒ finite convergence.

    rounds=None iterates to the fixpoint (stop when no value changed);
    rounds=R unrolls exactly R synchronous rounds — gate-parity mode,
    round-for-round identical to trussness_unrolled_sql(R) regardless
    of convergence.
    """
    from .triangles import triangle_list

    canon = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    tri = triangle_list(edges).select(
        F.least("x", "y").alias("a1"),
        F.greatest("x", "y").alias("b1"),
        F.least("y", "z").alias("a2"),
        F.greatest("y", "z").alias("b2"),
        F.least("x", "z").alias("a3"),
        F.greatest("x", "z").alias("b3"),
    )
    perms = [
        ("a1", "b1", "a2", "b2", "a3", "b3"),
        ("a2", "b2", "a1", "b1", "a3", "b3"),
        ("a3", "b3", "a1", "b1", "a2", "b2"),
    ]
    inc = None
    for e, eb, o1, o1b, o2, o2b in perms:
        part = tri.select(
            F.col(e).alias("a"),
            F.col(eb).alias("b"),
            F.col(o1).alias("oa1"),
            F.col(o1b).alias("ob1"),
            F.col(o2).alias("oa2"),
            F.col(o2b).alias("ob2"),
        )
        inc = part if inc is None else inc.unionByName(part)
    inc = cache_partitioned(inc.repartition("a", "b"))
    state = materialize(inc.groupBy("a", "b").agg(F.count("*").cast("long").alias("c")))
    w_cum = (
        Window.partitionBy("a", "b")
        .orderBy(F.desc("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for _ in range(rounds if rounds is not None else max_iterations):
        s1 = state.select(
            F.col("a").alias("oa1"), F.col("b").alias("ob1"), F.col("c").alias("c1")
        )
        s2 = state.select(
            F.col("a").alias("oa2"), F.col("b").alias("ob2"), F.col("c").alias("c2")
        )
        grouped = (
            inc.join(s1.hint("SHUFFLE_HASH"), ["oa1", "ob1"])
            .join(s2.hint("SHUFFLE_HASH"), ["oa2", "ob2"])
            .groupBy("a", "b", F.least("c1", "c2").alias("v"))
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        nxt = materialize(
            grouped.withColumn("cum", F.sum("cnt").over(w_cum))
            .groupBy("a", "b")
            .agg(F.max(F.least(F.col("cum"), F.col("v"))).cast("long").alias("c"))
        )
        changed = -1
        if rounds is None:
            changed = (
                nxt.withColumnRenamed("c", "cn")
                .join(state, ["a", "b"])
                .filter(F.col("cn") != F.col("c"))
                .count()
            )
        unpersist_checkpoint(state)
        state = nxt
        if changed == 0:
            break
    unpersist_checkpoint(inc)
    with_tri = state.select("a", "b", (F.col("c") + 2).alias("trussness"))
    bare = canon.join(state.select("a", "b"), ["a", "b"], "left_anti").select(
        "a", "b", F.lit(2).cast("long").alias("trussness")
    )
    return with_tri.unionByName(bare)


def trussness_unrolled_sql(rounds: int) -> str:
    """DuckDB twin of trussness(rounds=R) over the `edges` CTE — the
    same grouped edge-h-index update unrolled (exact integer math)."""
    parts = [
        """tr_e AS (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM edges WHERE src <> dst
)""",
        """tr_tri AS (
    SELECT p1.a AS x, p1.b AS y, p2.b AS z
    FROM tr_e p1
    JOIN tr_e p2 ON p1.b = p2.a
    JOIN tr_e p3 ON p3.a = p1.a AND p3.b = p2.b
)""",
        """tr_inc AS (
    SELECT x AS ea, y AS eb, y AS oa1, z AS ob1, x AS oa2, z AS ob2 FROM tr_tri
    UNION ALL
    SELECT y, z, x, y, x, z FROM tr_tri
    UNION ALL
    SELECT x, z, x, y, y, z FROM tr_tri
)""",
        "tr_t0 AS (SELECT ea AS a, eb AS b, COUNT(*)::BIGINT AS c"
        " FROM tr_inc GROUP BY ea, eb)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""tr_g{i} AS (
    SELECT i.ea AS a, i.eb AS b, LEAST(s1.c, s2.c) AS v, COUNT(*)::BIGINT AS cnt
    FROM tr_inc i
    JOIN tr_t{i - 1} s1 ON i.oa1 = s1.a AND i.ob1 = s1.b
    JOIN tr_t{i - 1} s2 ON i.oa2 = s2.a AND i.ob2 = s2.b
    GROUP BY i.ea, i.eb, LEAST(s1.c, s2.c)
)"""
        )
        parts.append(
            f"""tr_t{i} AS (
    SELECT a, b, MAX(LEAST(cum, v))::BIGINT AS c
    FROM (SELECT a, b, v, SUM(cnt) OVER (
              PARTITION BY a, b ORDER BY v DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM tr_g{i})
    GROUP BY a, b
)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT a, b, (c + 2)::BIGINT AS trussness FROM tr_t{rounds}
UNION ALL
SELECT a, b, 2::BIGINT AS trussness
FROM tr_e ANTI JOIN tr_t0 USING (a, b)"""
    )
