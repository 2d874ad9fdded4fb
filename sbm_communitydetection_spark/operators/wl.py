"""Weisfeiler–Lehman color refinement — iterated neighborhood hashing,
the structural-fingerprint primitive (graph-isomorphism screening,
structural-role grouping, GNN expressiveness baseline).

The reference engine has no structural-equivalence surface; labels
there always mean communities.  WL colors group vertices by local
structure instead: after r rounds, two vertices share a color iff
their radius-r unfolding trees hash identically.

Classic WL re-hashes the SORTED multiset of neighbor colors — a
collect_list + sort per vertex, which a 10^7-degree hub turns into a
single huge in-memory array (the same failure mode the BP kernel
avoided).  This implementation replaces the sorted concat with a
commutative fold over per-neighbor hash terms:

    term(u→v)  = md5_60(nbr_color ‖ '_' ‖ weight) mod P
    color'(v)  = (31·color(v) + Σ terms + 17·deg(v)) mod P

The Σ is a plain map-side-combinable SUM — hub-safe, one exchange per
round (the LPA plan shape: edges pre-partitioned by dst, the color
vector is the only thing that moves).  Commutative hashing admits more
collisions than sorted-concat in theory; with 60-bit terms reduced mod
P ≈ 2^30 the per-round pair-collision rate is ~n²/2P per color class —
negligible at test scale and documented here for 10^12-vertex runs
(raise P / double-hash if WL colors ever gate a correctness decision
at that scale).

All arithmetic is exact int64 in BOTH engines (terms < P ≈ 1e9; a sum
overflows only past ~9·10^9 neighbors, beyond any real vertex count),
so the DuckDB twin (wl_refinement_sql) matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.iterate import cache_partitioned, materialize, unpersist_checkpoint
from ..textops.portable import md5_long, md5_long_sql

WL_P = 1_000_000_007
WL_OWN_MULT = 31
WL_DEG_MULT = 17


def wl_refinement(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """(id, color) after `rounds` WL refinement rounds.

    `edges` must be the SYMMETRIZED weighted table (src, dst, weight);
    init color = weighted degree mod P (the standard degree-partition
    start).  Isolated vertices never appear (no edge rows) — callers
    with a vertex table can union singletons with color = 0.
    """
    edges = cache_partitioned(edges.repartition("dst"))
    colors = materialize(
        edges.groupBy(F.col("src").alias("id"))
        .agg((F.sum("weight") % WL_P).cast("long").alias("color"))
    )
    for _ in range(rounds):
        lbl = colors.select(F.col("id").alias("dst"), F.col("color").alias("nbr_color"))
        term = (
            md5_long(F.concat_ws("_", F.col("nbr_color"), F.col("weight"))) % WL_P
        )
        agg = (
            edges.join(lbl.hint("SHUFFLE_HASH"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(
                (F.sum(term) % WL_P).cast("long").alias("s"),
                F.count("*").cast("long").alias("cnt"),
            )
        )
        nxt = materialize(
            colors.join(agg, "id", "left").select(
                "id",
                (
                    (
                        F.lit(WL_OWN_MULT) * F.col("color")
                        + F.coalesce("s", F.lit(0))
                        + F.lit(WL_DEG_MULT) * F.coalesce("cnt", F.lit(0))
                    )
                    % WL_P
                ).alias("color"),
            )
        )
        unpersist_checkpoint(colors)
        colors = nxt
    unpersist_checkpoint(edges)
    return colors


def wl_color_histogram(colors: DataFrame) -> DataFrame:
    """(color, n) — the graph's WL fingerprint (compare two graphs by
    comparing histograms; unequal ⇒ non-isomorphic)."""
    return colors.groupBy("color").agg(F.count("*").cast("long").alias("n"))


def wl_refinement_sql(rounds: int = 3) -> str:
    """DuckDB twin as a CTE tail over a pre-defined symmetrized `edges`
    CTE (src, dst, weight) — compose as ``edges_cte + ",\\n" + this``,
    the pagerank_unrolled_sql convention."""
    return (
        ",\n".join(wl_cte_parts(rounds))
        + f"\nSELECT id, color FROM c{rounds}"
    )


def wl_cte_parts(rounds: int = 3, edges_table: str = "edges") -> list[str]:
    """The twin as reusable CTE parts (final color table ``c{rounds}``)
    so composite readouts (conv_wl_kernel) replay the identical
    refinement."""
    term = md5_long_sql("concat(c.color, '_', e.weight)")
    parts = [
        f"c0 AS MATERIALIZED (SELECT src AS id, (SUM(weight) % {WL_P})::BIGINT AS color"
        f" FROM {edges_table} GROUP BY src)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""a{r} AS (
    SELECT e.src AS id,
           (SUM({term} % {WL_P}) % {WL_P})::BIGINT AS s,
           COUNT(*)::BIGINT AS cnt
    FROM {edges_table} e JOIN c{r - 1} c ON e.dst = c.id
    GROUP BY e.src
)"""
        )
        parts.append(
            f"""c{r} AS MATERIALIZED (
    SELECT c.id,
           (({WL_OWN_MULT} * c.color + COALESCE(a.s, 0)
             + {WL_DEG_MULT} * COALESCE(a.cnt, 0)) % {WL_P})::BIGINT AS color
    FROM c{r - 1} c LEFT JOIN a{r} a USING (id)
)"""
        )
    return parts


def conv_wl_kernel(
    spark: SparkSession,
    transcripts: DataFrame,
    rounds: int = 2,
    max_color_df: int = 50,
    min_sim: float = 0.2,
) -> DataFrame:
    """(conv_a, conv_b, dot, sim) — STRUCTURAL conversation similarity
    via the Weisfeiler–Lehman subtree kernel (Shervashidze et al., JMLR
    12, 2011): each conversation's role-transition multigraph is WL-
    refined, the conversation becomes its bag of vertex colors, and the
    kernel is the histogram dot product (cosine-normalized).  Two
    conversations score high iff they have the same SHAPE — the same
    who-replies-to-whom pattern — regardless of text: the retrieval
    lens that text dedup (transcript_structural_dups) and exact prefix
    matching (conv_prefix_dups) cannot see, e.g. finding all
    conversations that structurally resemble a known jailbreak or a
    scripted bot loop.

    Spark-first: ALL conversations refine in ONE wl_refinement run —
    the per-conv graphs are embedded in a single disjoint-union graph
    with portable-hash vertex ids md5(conv_id # role), so the kernel
    costs one WL pass + one inverted-index join however many
    conversations exist.  The color index carries the same
    document-frequency guard as the n-gram dedup index
    (``max_color_df``): colors shared by more conversations than the
    cap are dropped from the PAIRING index (ubiquitous structure is
    not discriminative and pairs quadratically); norms keep the full
    histogram.  Exact int64 colors/counts; the only floats are the
    final cosine (6 dp) — DuckDB twin conv_wl_kernel_sql."""
    from pyspark.sql import Window

    from .graph_ops import symmetrize

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lagged = transcripts.withColumn("prev_role", F.lag("role").over(w)).filter(
        F.col("prev_role").isNotNull()
    )
    vid = lambda conv, role: md5_long(F.concat_ws("#", conv, role))  # noqa: E731
    e0 = lagged.select(
        vid(F.col("conv_id"), F.col("prev_role")).alias("src"),
        vid(F.col("conv_id"), F.col("role")).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    # Log2-bucket the accumulated transition counts BEFORE refinement:
    # raw counts make every conversation's multigraph unique (a 67-turn
    # and a 68-turn conversation of identical shape would share zero
    # colors), buckets keep shape + coarse intensity — the standard
    # graph-kernel discretization move.
    edges = symmetrize(e0).select(
        "src",
        "dst",
        (F.floor(F.log2(F.col("weight").cast("double"))) + 1)
        .cast("long")
        .alias("weight"),
    )
    colors = wl_refinement(spark, edges, rounds=rounds)

    verts = (
        transcripts.select("conv_id", "role").distinct()
        .select("conv_id", vid(F.col("conv_id"), F.col("role")).alias("id"))
    )
    hist = materialize(
        colors.join(verts, "id")
        .groupBy("conv_id", "color")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    norms = hist.groupBy("conv_id").agg(F.sum(F.col("cnt") * F.col("cnt")).alias("nn"))
    dfreq = hist.groupBy("color").agg(F.countDistinct("conv_id").alias("df"))
    idx = hist.join(dfreq.filter(F.col("df") <= max_color_df).select("color"), "color")
    a = idx.select(F.col("conv_id").alias("conv_a"), "color", F.col("cnt").alias("ca"))
    b = idx.select(F.col("conv_id").alias("conv_b"), "color", F.col("cnt").alias("cb"))
    dots = (
        a.join(b, "color")
        .filter(F.col("conv_a") < F.col("conv_b"))
        .groupBy("conv_a", "conv_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("conv_id").alias("conv_a"), F.col("nn").alias("na"))
    nb = norms.select(F.col("conv_id").alias("conv_b"), F.col("nn").alias("nb"))
    out = (
        dots.join(na, "conv_a")
        .join(nb, "conv_b")
        .select(
            "conv_a",
            "conv_b",
            "dot",
            F.round(
                F.col("dot") / F.sqrt((F.col("na") * F.col("nb")).cast("double")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= min_sim)
    )
    # `hist` is the localCheckpoint the returned plan reads from — the
    # caller owns its lifetime (wl_refinement convention)
    return out


def conv_wl_kernel_sql(
    rounds: int = 2, max_color_df: int = 50, min_sim: float = 0.2
) -> str:
    """Full DuckDB twin over the raw `events` table (composes the
    transcripts CTE itself)."""
    from ..sources.events_transcripts import transcripts_cte_sql

    vid = lambda conv, role: md5_long_sql(f"concat({conv}, '#', {role})")  # noqa: E731
    return (
        "WITH "
        + transcripts_cte_sql()
        + f""",
wk_lag AS (
    SELECT conv_id, role,
           LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
    FROM transcripts
),
wk_raw AS (
    SELECT {vid('conv_id', 'prev_role')} AS src,
           {vid('conv_id', 'role')} AS dst,
           1::BIGINT AS weight
    FROM wk_lag WHERE prev_role IS NOT NULL
),
wk_sym AS (
    SELECT src, dst, weight FROM wk_raw
    UNION ALL SELECT dst, src, weight FROM wk_raw
),
wk_edges AS MATERIALIZED (
    SELECT src, dst, (FLOOR(log2(SUM(weight)::DOUBLE)) + 1)::BIGINT AS weight
    FROM wk_sym WHERE src <> dst
    GROUP BY src, dst
),
"""
        + ",\n".join(wl_cte_parts(rounds, edges_table="wk_edges"))
        + f""",
wk_verts AS (
    SELECT DISTINCT conv_id, {vid('conv_id', 'role')} AS id
    FROM transcripts
),
wk_hist AS MATERIALIZED (
    SELECT v.conv_id, c.color, COUNT(*)::BIGINT AS cnt
    FROM c{rounds} c JOIN wk_verts v ON v.id = c.id
    GROUP BY v.conv_id, c.color
),
wk_norm AS (SELECT conv_id, SUM(cnt * cnt) AS nn FROM wk_hist GROUP BY conv_id),
wk_idx AS (
    SELECT h.* FROM wk_hist h
    JOIN (SELECT color FROM wk_hist GROUP BY color
          HAVING COUNT(DISTINCT conv_id) <= {max_color_df}) k ON k.color = h.color
),
wk_dot AS (
    SELECT a.conv_id AS conv_a, b.conv_id AS conv_b,
           SUM(a.cnt * b.cnt)::BIGINT AS dot
    FROM wk_idx a JOIN wk_idx b ON a.color = b.color AND a.conv_id < b.conv_id
    GROUP BY a.conv_id, b.conv_id
)
SELECT d.conv_a, d.conv_b, d.dot,
       ROUND(d.dot / sqrt(CAST(x.nn * y.nn AS DOUBLE)), 6) AS sim
FROM wk_dot d
JOIN wk_norm x ON x.conv_id = d.conv_a
JOIN wk_norm y ON y.conv_id = d.conv_b
WHERE ROUND(d.dot / sqrt(CAST(x.nn * y.nn AS DOUBLE)), 6) >= {min_sim}"""
    )
