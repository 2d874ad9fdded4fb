"""ANF / HyperBall — approximate neighborhood functions via
Flajolet–Martin bitmask union (Palmer–Gibbons–Faloutsos KDD'02 "ANF";
Boldi–Vigna "HyperBall" WebSci'14 is the HLL refinement of the same
fold).

The reference engine answers "how far apart is everything?" only by
materializing BFS frontiers (src/graph.cpp collectRNeighborhood —
operators/frontier.py ports it, and sssp.py's landmark runs bound
exact distances from a FEW sources).  Neither scales to "distance
statistics of ALL 10^12 vertices": exact all-pairs is O(n·m) supersteps
and per-vertex reachable SETS are unbounded state.

ANF replaces the reachable set of every vertex with k fixed-width
Flajolet–Martin sketches (one int64 each):

    init:   m_r(v)   = 2^rho(h(v, r))          rho = trailing zeros
    round:  m_r(v)  |= bit_or over in-neighbors' m_r   (+ keep own)
    est:    |B(v,t)| ~= 2^(mean_r b_r(v)) / 0.77351,   b_r = lowest
            zero bit of m_r(v)

The union fold is a plain ``bit_or`` aggregate — map-side combinable,
hub-safe (a 10^7-degree hub folds to ONE 8-byte value per register
per partition), one exchange per round: exactly the LPA plan shape,
with k·8 bytes of state per vertex however large the graph.  That is
the whole scale story: distance profiles, effective diameter, and
per-vertex closeness for EVERY vertex in `rounds` linear passes.

Reference scope: the reference engine has no distance-statistics
surface at all (its only neighborhood op is the r-hop BFS collect,
src/graph.cpp collectRNeighborhood — ported exactly in
operators/frontier.py); ANF/HyperBall is a north-star extension
(SURVEY.md §2.13 family).

Portability: the register init uses the portable 60-bit md5 hash and
``pow(2, rho)`` (exact in ieee754 for rho <= 62), the union is integer
``bit_or``, and the per-vertex estimate is a float expression over
those exact ints — so the DuckDB twins replay the identical sketches
bit-for-bit.  Only the corpus-level SUM of per-vertex estimates is a
float reduction (same ulp caveat as modularity; rounded to 6dp).

Rho is capped at ANF_RHO_CAP = 58 so a fully-saturated register
(bits 0..58) still has ``m + 1`` and ``(~m) & (m + 1)`` in int64
range; P(rho >= 58) ~= 2^-58 per register, so the cap is unobservable
in practice and identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.iterate import cache_partitioned, materialize, unpersist_checkpoint
from ..textops.portable import md5_long, md5_long_sql

ANF_PHI = 0.77351
ANF_RHO_CAP = 58
ANF_K = 4  # registers per vertex; stderr ~ 0.78/sqrt(k) on the FM estimate


def _init_masks(vertices: DataFrame, k: int) -> DataFrame:
    cols = [F.col("id")]
    for r in range(k):
        h = md5_long(F.concat_ws("_", F.col("id"), F.lit("anf"), F.lit(r)))
        lowbit = F.when(h == 0, F.lit(1)).otherwise(
            F.expr("h_tmp & -h_tmp")
        )
        # build via a temp column to keep the expression readable
        vertices = vertices.withColumn("h_tmp", h).withColumn(
            f"m{r}",
            F.pow(
                F.lit(2.0),
                F.least(
                    F.log2(lowbit.cast("double")).cast("int"),
                    F.lit(ANF_RHO_CAP),
                ).cast("double"),
            ).cast("long"),
        ).drop("h_tmp")
        cols.append(F.col(f"m{r}"))
    return vertices.select(*cols)


def _b_col(r: int) -> F.Column:
    """Lowest zero bit position of register r (exact int both engines)."""
    return F.log2(F.expr(f"((~m{r}) & (m{r} + 1))").cast("double")).cast("int")


def _est_col(k: int) -> F.Column:
    """Per-vertex FM estimate 2^(mean_r b_r)/phi as a float expression
    over exact ints — bit-reproducible per vertex in both engines."""
    sum_b = None
    for r in range(k):
        sum_b = _b_col(r) if sum_b is None else sum_b + _b_col(r)
    return F.pow(F.lit(2.0), sum_b.cast("double") / F.lit(float(k))) / F.lit(ANF_PHI)


def _fold_round(edges: DataFrame, masks: DataFrame, k: int) -> DataFrame:
    """One bit_or superstep: masks'(v) = masks(v) | OR_{u->v} masks(u).
    `edges` flows src -> dst reversed here (we aggregate over the
    neighbors u with an edge (u=dst side of the pre-partitioned table)
    exactly like label_propagation's neighbor aggregation)."""
    nbr = masks.select(
        F.col("id").alias("dst"), *[F.col(f"m{r}").alias(f"nm{r}") for r in range(k)]
    )
    agg = (
        edges.join(nbr.hint("SHUFFLE_HASH"), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(*[F.bit_or(F.col(f"nm{r}")).alias(f"am{r}") for r in range(k)])
    )
    return masks.join(agg, "id", "left").select(
        "id",
        *[
            F.expr(f"m{r} | COALESCE(am{r}, 0)").alias(f"m{r}")
            for r in range(k)
        ],
    )


def anf_profile(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 3,
    k: int = ANF_K,
) -> DataFrame:
    """(t, sum_b, est_reach) for t = 0..rounds — the neighborhood
    function N(t) = estimated Σ_v |B(v, t)|.

    `sum_b` is the EXACT int64 sum of every register's lowest-zero-bit
    position (the engine-parity check column); `est_reach` is the ANF
    estimate of reachable pairs within distance t.  `edges` must be the
    symmetrized (src, dst, weight) table; weights are ignored
    (reachability is unweighted).
    """
    edges = cache_partitioned(edges.select("src", "dst").repartition("dst"))
    masks = materialize(_init_masks(edges.select(F.col("src").alias("id")).distinct(), k))

    est = _est_col(k)
    sum_b = None
    for r in range(k):
        sum_b = _b_col(r) if sum_b is None else sum_b + _b_col(r)

    rows = []
    for t in range(rounds + 1):
        prof = masks.agg(
            F.sum(sum_b).cast("long").alias("sum_b"),
            F.round(F.sum(est), 6).alias("est_reach"),
        ).collect()[0]
        rows.append((t, prof["sum_b"], float(prof["est_reach"])))
        if t == rounds:
            break
        nxt = materialize(_fold_round(edges, masks, k))
        unpersist_checkpoint(masks)
        masks = nxt
    unpersist_checkpoint(masks)
    unpersist_checkpoint(edges)
    return spark.createDataFrame(rows, "t long, sum_b long, est_reach double")


def effective_diameter(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 3,
    k: int = ANF_K,
    q: float = 0.9,
) -> DataFrame:
    """One row (eff_diameter, final_est) — the smallest t whose ANF
    estimate covers q of the last round's (the standard "effective
    diameter at q" readout; rounds must upper-bound the true diameter
    for the absolute reading, otherwise it is relative to radius
    `rounds`).  Comparisons run on the 6dp-rounded estimates, so the
    cut is engine-deterministic."""
    prof = anf_profile(spark, edges, rounds=rounds, k=k)
    final = prof.filter(F.col("t") == rounds).select(
        F.col("est_reach").alias("final_est")
    )
    return (
        prof.crossJoin(final)
        .filter(F.col("est_reach") >= F.lit(q) * F.col("final_est"))
        .agg(
            F.min("t").cast("long").alias("eff_diameter"),
            F.round(F.min("final_est"), 6).alias("final_est"),
        )
    )


def hyperball_closeness(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 3,
    k: int = ANF_K,
) -> DataFrame:
    """(id, est_ball, harmonic_est) for EVERY vertex — approximate
    harmonic centrality Σ_t (|B(v,t)| − |B(v,t−1)|)/t from the ANF
    sketches (the HyperBall readout, Boldi–Vigna §3).

    This is the 10^12-vertex path next to sssp.harmonic_centrality's
    exact-but-landmark-bounded BFS: every per-vertex value here is a
    float chain over that vertex's OWN exact-int registers (no
    cross-row float sums), so the twin matches hash-exactly at 6dp.
    Negative per-round deltas (an estimate can shrink when the mean
    lowest-zero-bit does not grow monotonically per vertex — it does:
    masks only gain bits, so b_r and hence the estimate are
    monotone non-decreasing; asserted in tests) cannot occur.
    """
    edges = cache_partitioned(edges.select("src", "dst").repartition("dst"))
    masks = materialize(_init_masks(edges.select(F.col("src").alias("id")).distinct(), k))
    est = _est_col(k)

    state = materialize(
        masks.select(
            "id",
            *[F.col(f"m{r}") for r in range(k)],
            est.alias("prev_est"),
            F.lit(0.0).alias("harm"),
        )
    )
    unpersist_checkpoint(masks)

    for t in range(1, rounds + 1):
        folded = _fold_round(edges, state, k)
        nxt = materialize(
            folded.join(
                state.select("id", "prev_est", "harm"), "id"
            ).select(
                "id",
                *[F.col(f"m{r}") for r in range(k)],
                est.alias("prev_est"),
                (
                    F.col("harm") + (est - F.col("prev_est")) / F.lit(float(t))
                ).alias("harm"),
            )
        )
        unpersist_checkpoint(state)
        state = nxt

    # `state` is the final localCheckpoint the result reads from — the
    # caller owns its lifetime (wl_refinement convention); only the
    # operator-private edge cache is released here.
    out = state.select(
        "id",
        F.round(F.col("prev_est"), 6).alias("est_ball"),
        F.round(F.col("harm"), 6).alias("harmonic_est"),
    )
    unpersist_checkpoint(edges)
    return out


# --- DuckDB twins ---------------------------------------------------------


def _init_sql(k: int) -> str:
    regs = []
    for r in range(k):
        h = md5_long_sql(f"concat(id, '_', 'anf', '_', {r})")
        regs.append(
            f"CAST(pow(2, LEAST(CAST(log2((CASE WHEN {h} = 0 THEN 1 "
            f"ELSE {h} & -({h}) END)::DOUBLE) AS INT), {ANF_RHO_CAP})) AS BIGINT) AS m{r}"
        )
    return (
        "anf0 AS (SELECT id, "
        + ", ".join(regs)
        + " FROM (SELECT DISTINCT src AS id FROM edges))"
    )


def _round_sql(t: int, k: int) -> str:
    ors = ", ".join(f"bit_or(c.m{r}) AS am{r}" for r in range(k))
    keeps = ", ".join(
        f"(a.m{r} | COALESCE(g.am{r}, 0))::BIGINT AS m{r}" for r in range(k)
    )
    return f"""anf{t} AS (
    SELECT a.id, {keeps}
    FROM anf{t - 1} a
    LEFT JOIN (
        SELECT e.src AS id, {ors}
        FROM edges e JOIN anf{t - 1} c ON e.dst = c.id
        GROUP BY e.src
    ) g USING (id)
)"""


def _b_sql(r: int) -> str:
    return f"CAST(log2((((~m{r}) & (m{r} + 1)))::DOUBLE) AS INT)"


def _est_sql(k: int, alias: str = "") -> str:
    pre = f"{alias}." if alias else ""
    sum_b = " + ".join(
        f"CAST(log2((((~{pre}m{r}) & ({pre}m{r} + 1)))::DOUBLE) AS INT)"
        for r in range(k)
    )
    return f"pow(2, ({sum_b})::DOUBLE / {float(k)}) / {ANF_PHI}"


def anf_profile_sql(rounds: int = 3, k: int = ANF_K) -> str:
    """CTE tail over a pre-defined `edges` CTE (src, dst[, weight])."""
    parts = [_init_sql(k)]
    for t in range(1, rounds + 1):
        parts.append(_round_sql(t, k))
    sum_b = " + ".join(_b_sql(r) for r in range(k))
    est = _est_sql(k)
    readouts = "\nUNION ALL\n".join(
        f"SELECT {t}::BIGINT AS t, SUM({sum_b})::BIGINT AS sum_b,"
        f" ROUND(SUM({est}), 6) AS est_reach FROM anf{t}"
        for t in range(rounds + 1)
    )
    return ",\n".join(parts) + "\n" + readouts


def effective_diameter_sql(rounds: int = 3, k: int = ANF_K, q: float = 0.9) -> str:
    parts = [_init_sql(k)]
    for t in range(1, rounds + 1):
        parts.append(_round_sql(t, k))
    sum_b = " + ".join(_b_sql(r) for r in range(k))
    est = _est_sql(k)
    prof = "\nUNION ALL\n".join(
        f"SELECT {t}::BIGINT AS t, SUM({sum_b})::BIGINT AS sum_b,"
        f" ROUND(SUM({est}), 6) AS est_reach FROM anf{t}"
        for t in range(rounds + 1)
    )
    parts.append(f"anf_prof AS (\n{prof}\n)")
    parts.append(
        f"anf_final AS (SELECT est_reach AS final_est FROM anf_prof WHERE t = {rounds})"
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT MIN(t)::BIGINT AS eff_diameter, ROUND(MIN(final_est), 6) AS final_est
FROM anf_prof, anf_final
WHERE est_reach >= {q} * final_est"""
    )


def hyperball_sql(rounds: int = 3, k: int = ANF_K) -> str:
    parts = [_init_sql(k)]
    for t in range(1, rounds + 1):
        parts.append(_round_sql(t, k))

    def est_at(t: int) -> str:
        return _est_sql(k, alias=f"a{t}")

    # join all rounds on id; per-vertex float chain identical to Spark's
    joins = " ".join(
        f"JOIN anf{t} a{t} USING (id)" for t in range(1, rounds + 1)
    )
    harm_terms = " + ".join(
        f"(({est_at(t)}) - ({est_at(t - 1)})) / {float(t)}"
        for t in range(1, rounds + 1)
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT a0.id AS id,
       ROUND({est_at(rounds)}, 6) AS est_ball,
       ROUND(0.0 + {harm_terms}, 6) AS harmonic_est
FROM anf0 a0 {joins}"""
    )
