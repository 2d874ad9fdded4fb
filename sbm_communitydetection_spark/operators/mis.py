"""Maximal independent set via Luby's algorithm with portable-hash
priorities (Luby, SIAM J. Comput. 1986) — the classic O(log n)-round
parallel MIS, RNG-free here: each round's priority is the 60-bit
portable hash of (round, vertex), so the selected set is deterministic,
partition-independent, and bit-identical in the unrolled DuckDB twin.

Round r over the live subgraph: a vertex enters the MIS iff its
priority is a strict minimum over its live neighborhood (ties broken by
id — impossible for the 60-bit hash in practice, but the tie column
keeps the determinism contract airtight); winners and their neighbors
leave the graph.  Every round is one neighbor-min aggregation + two
semi/anti-joins — the LPA/CC exchange discipline, no new shuffle shapes.

Scale: the live edge set shrinks geometrically (each round removes the
winners' closed neighborhoods); rounds are O(log n) w.h.p. and each is
a single src-keyed aggregate over the remaining pairs.  No reference
analogue (north-star §2.13 scope: standard link-graph algorithm).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.iterate import materialize, unpersist_checkpoint
from ..textops.portable import md5_long, md5_long_sql


def _priority(round_no: int, col):
    return md5_long(F.concat_ws(":", F.lit("mis"), F.lit(str(round_no)), col.cast("string")))


def maximal_independent_set(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 40,
) -> DataFrame:
    """(id, mis_round) — every vertex of the maximal independent set with
    the round that selected it.  Isolated vertices (self-loop-only) are
    always independent and join in round 1.  Raises if the graph has not
    been exhausted after ``max_rounds`` (silent truncation would return a
    non-maximal set)."""
    sym = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .unionByName(
            edges.filter(F.col("src") != F.col("dst")).select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
    )
    all_ids = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    # vertices with at least one non-loop neighbor contend round by round;
    # the rest are independent by vacuity
    contested = sym.select(F.col("src").alias("id")).distinct()
    isolated = all_ids.join(contested, "id", "left_anti").select(
        "id", F.lit(1).alias("mis_round")
    )

    live = materialize(sym)
    winners = [isolated]
    owned = [live]
    for r in range(1, max_rounds + 1):
        if live.limit(1).count() == 0:
            break
        # min neighbor priority per live vertex (every live vertex has ≥1
        # neighbor, by construction of the shrinking edge set)
        nbr_min = live.groupBy("src").agg(
            F.min(F.struct(_priority(r, F.col("dst")).alias("p"), F.col("dst").alias("i"))).alias(
                "nmin"
            )
        )
        win = nbr_min.filter(
            F.struct(_priority(r, F.col("src")).alias("p"), F.col("src").alias("i"))
            < F.col("nmin")
        ).select(F.col("src").alias("id"))
        win = materialize(win)
        owned.append(win)
        winners.append(win.select("id", F.lit(r).alias("mis_round")))
        # drop winners and their neighbors from the live subgraph
        dead = win.unionByName(
            live.join(win.select(F.col("id").alias("src")), "src", "left_semi").select(
                F.col("dst").alias("id")
            )
        ).distinct()
        nxt = materialize(
            live.join(dead.select(F.col("id").alias("src")), "src", "left_anti")
            .join(dead.select(F.col("id").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
        )
        owned.append(nxt)
        live = nxt
    else:
        if live.limit(1).count() != 0:
            raise RuntimeError(
                f"maximal_independent_set: live vertices remain after "
                f"max_rounds={max_rounds} — returning would be non-maximal"
            )

    out = winners[0]
    for w in winners[1:]:
        out = out.unionByName(w)
    result = out.select("id", F.col("mis_round").cast("int").alias("mis_round"))
    result = materialize(result)
    for df in owned:
        unpersist_checkpoint(df)
    return result


def greedy_coloring(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 20,
) -> DataFrame:
    """(id, color) — Jones–Plassmann greedy coloring (Jones & Plassmann,
    SIAM J. Sci. Comput. 1993) with a FIXED portable-hash priority per
    vertex: in each round, every uncolored vertex whose priority is a
    strict minimum over its uncolored neighborhood takes the smallest
    color not used by its already-colored neighbors (the mex).  The
    winner set per round is an independent set of the live subgraph, so
    concurrent assignments never conflict, and the fixed priority makes
    the full coloring a pure function of the edge set — bit-identical in
    the unrolled DuckDB twin.

    Each round is one neighbor-min aggregate + one mex join over the
    static adjacency + two anti-joins — the Luby/LPA exchange shapes.
    Rounds = the longest priority-decreasing path, O(log n / log log n)
    w.h.p. for hash priorities.  The live edge set shrinks every round;
    raises if vertices remain uncolored after ``max_rounds`` (silent
    truncation would return a partial coloring).  Colors are dense
    0..k-1 per neighborhood by construction (greedy mex ≤ degree).
    No reference analogue (north-star §2.13 scope: standard link-graph
    algorithm; conflict-free update scheduling for the batched ops).
    """
    pri = lambda col: md5_long(F.concat_ws(":", F.lit("color"), col.cast("string")))  # noqa: E731
    sym = materialize(
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .unionByName(
            edges.filter(F.col("src") != F.col("dst")).select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
    )
    all_ids = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    contested = materialize(sym.select(F.col("src").alias("id")).distinct())
    # self-loop-only vertices have no constraints: color 0 immediately
    colored = all_ids.join(contested, "id", "left_anti").select(
        "id", F.lit(0).alias("color")
    )
    live = sym
    unc = contested  # uncolored vertices — live.src loses vertices whose
    # uncolored neighborhood empties, but those still need a color
    owned = [sym, contested]
    for r in range(1, max_rounds + 1):
        if unc.limit(1).count() == 0:
            break
        nbr_min = live.groupBy("src").agg(
            F.min(F.struct(pri(F.col("dst")).alias("p"), F.col("dst").alias("i"))).alias("nmin")
        )
        minima = nbr_min.filter(
            F.struct(pri(F.col("src")).alias("p"), F.col("src").alias("i")) < F.col("nmin")
        ).select(F.col("src").alias("id"))
        # uncolored vertices with NO uncolored neighbor left win by vacuity
        vacuous = unc.join(
            live.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
        )
        win = materialize(minima.unionByName(vacuous))
        owned.append(win)
        # mex over already-colored neighbors (static adjacency, winners only)
        used = (
            sym.join(win.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(colored.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.collect_set("color").alias("used"))
        )
        newly = (
            win.join(used.withColumnRenamed("src", "id"), "id", "left")
            .select(
                "id",
                F.coalesce(
                    F.array_min(
                        F.filter(
                            F.sequence(F.lit(0), F.coalesce(F.size("used"), F.lit(0))),
                            lambda c: ~F.array_contains(
                                F.coalesce(F.col("used"), F.array().cast("array<int>")), c
                            ),
                        )
                    ),
                    F.lit(0),
                ).alias("color"),
            )
        )
        colored = materialize(colored.unionByName(newly))
        owned.append(colored)
        nxt = materialize(
            live.join(win.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(win.withColumnRenamed("id", "dst"), "dst", "left_anti")
            .select("src", "dst")
        )
        owned.append(nxt)
        live = nxt
        unc = materialize(unc.join(win, "id", "left_anti"))
        owned.append(unc)
    if unc.limit(1).count() != 0:
        raise RuntimeError(
            f"greedy_coloring: uncolored vertices remain after max_rounds="
            f"{max_rounds} — returning would be a partial coloring"
        )
    result = colored.select("id", F.col("color").cast("int").alias("color"))
    result = materialize(result)
    for df in owned:
        unpersist_checkpoint(df)
    return result


def greedy_coloring_sql(rounds: int, max_colors: int = 63, edges_table: str = "edges") -> str:
    """DuckDB twin over the ``edges_table`` CTE — fixed portable-hash
    priorities, ``rounds`` unrolled Jones–Plassmann rounds, mex via a
    generate_series anti-join bounded by ``max_colors`` (greedy colors
    never exceed max degree; the gate graph uses far fewer)."""
    pri = lambda col: md5_long_sql(f"'color:' || CAST({col} AS VARCHAR)")  # noqa: E731
    parts = [
        f"""csym AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM {edges_table} WHERE src <> dst
        UNION ALL SELECT dst, src FROM {edges_table} WHERE src <> dst
    )
)""",
        f"""call AS (
    SELECT DISTINCT id FROM (
        SELECT src AS id FROM {edges_table} UNION ALL SELECT dst FROM {edges_table}
    )
)""",
        f"""gs AS (SELECT UNNEST(generate_series(0, {max_colors})) AS c)""",
        """clive0 AS MATERIALIZED (SELECT src, dst FROM csym)""",
        """cunc0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM csym)""",
        """colored0 AS (
    SELECT id, 0 AS color FROM call
    WHERE id NOT IN (SELECT src FROM csym)
)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""cnm{r} AS MATERIALIZED (
    SELECT src, MIN(ROW({pri("dst")}, dst)) AS nmin
    FROM clive{r - 1} GROUP BY src
),
cwin{r} AS MATERIALIZED (
    SELECT src AS id FROM cnm{r}
    WHERE ROW({pri("src")}, src) < nmin
    UNION
    SELECT id FROM cunc{r - 1}
    WHERE id NOT IN (SELECT src FROM clive{r - 1})
),
cused{r} AS (
    SELECT e.src AS id, col.color
    FROM csym e
    JOIN cwin{r} w ON e.src = w.id
    JOIN colored{r - 1} col ON col.id = e.dst
),
cmex{r} AS MATERIALIZED (
    SELECT w.id, MIN(g.c) AS color
    FROM cwin{r} w
    CROSS JOIN gs g
    LEFT JOIN cused{r} u ON u.id = w.id AND u.color = g.c
    WHERE u.id IS NULL
    GROUP BY w.id
),
colored{r} AS MATERIALIZED (
    SELECT id, color FROM colored{r - 1}
    UNION ALL SELECT id, color FROM cmex{r}
),
clive{r} AS MATERIALIZED (
    SELECT src, dst FROM clive{r - 1}
    WHERE src NOT IN (SELECT id FROM cwin{r})
      AND dst NOT IN (SELECT id FROM cwin{r})
),
cunc{r} AS MATERIALIZED (
    SELECT id FROM cunc{r - 1}
    WHERE id NOT IN (SELECT id FROM cwin{r})
)"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT id, color::INT AS color FROM colored{rounds}"
    )


def maximal_independent_set_sql(rounds: int) -> str:
    """DuckDB twin over the `edges` CTE — same priorities, ``rounds``
    unrolled Luby rounds (the gate graph exhausts well within)."""
    pri = lambda r, col: md5_long_sql(f"'mis:{r}:' || CAST({col} AS VARCHAR)")
    parts = [
        """msym AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM edges WHERE src <> dst
        UNION ALL SELECT dst, src FROM edges WHERE src <> dst
    )
)""",
        """mall AS (
    SELECT DISTINCT id FROM (
        SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
    )
)""",
        """live0 AS MATERIALIZED (SELECT src, dst FROM msym)""",
        """iso AS (
    SELECT id, 1 AS mis_round FROM mall
    WHERE id NOT IN (SELECT src FROM msym)
)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""nm{r} AS MATERIALIZED (
    SELECT src, MIN(ROW({pri(r, "dst")}, dst)) AS nmin
    FROM live{r - 1} GROUP BY src
),
win{r} AS MATERIALIZED (
    SELECT src AS id FROM nm{r}
    WHERE ROW({pri(r, "src")}, src) < nmin
),
dead{r} AS MATERIALIZED (
    SELECT id FROM win{r}
    UNION
    SELECT l.dst AS id FROM live{r - 1} l JOIN win{r} w ON l.src = w.id
),
live{r} AS MATERIALIZED (
    SELECT src, dst FROM live{r - 1}
    WHERE src NOT IN (SELECT id FROM dead{r})
      AND dst NOT IN (SELECT id FROM dead{r})
)"""
        )
    unions = "\nUNION ALL\n".join(
        [f"SELECT id, {r} AS mis_round FROM win{r}" for r in range(1, rounds + 1)]
        + ["SELECT id, mis_round FROM iso"]
    )
    return ",\n".join(parts) + f"\nSELECT id, mis_round::INT AS mis_round FROM ({unions})"
