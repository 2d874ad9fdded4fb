"""Multi-source weighted shortest paths (Bellmann-Ford supersteps).

    dist_i(v) = min(dist_{i-1}(v),  min_{(u,v)∈E} dist_{i-1}(u) + w(u,v))

from a deterministic source set — the landmark-distance pattern (one
run computes distances from ALL landmarks; per-vertex the nearest
landmark distance). State holds only REACHED vertices, so early rounds
move a frontier-sized vector, not |V| rows.

Scale plan (same as pagerank.py/hits.py): the adjacency is checkpointed
once hash(src)-partitioned, so the per-round relaxation join never
moves the edge table; the relax output is aggregated map-side by dst and
full-outer-joined with the state via SHUFFLE_HASH (both sides already
hash(id)-partitioned). Positive weights assumed (edge weights here are
link counts ≥ 1).

No reference analogue (SURVEY.md §2.13 scope extension); gated by an
unrolled DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.iterate import (
    IterationDriver,
    cache_partitioned,
    unpersist_checkpoint,
)


def shortest_paths(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = -1,
    max_iterations: int = 100,
    driver: IterationDriver | None = None,
    collect_metrics: list | None = None,
) -> DataFrame:
    """(id, dist) for every vertex REACHED from ``sources`` (an (id)
    set; dist 0.0 there). ``rounds`` > 0 runs exactly that many
    relaxation supersteps (the oracle-gated mode); otherwise iterate to
    fixpoint (metric = number of improved-or-new entries, stop at 0).
    """
    driver = driver or IterationDriver(spark, run_id="sssp")

    adj = cache_partitioned(
        edges.select("src", "dst", F.col("weight").cast("double").alias("w")).repartition(
            "src"
        )
    )
    state0 = (
        sources.select("id").distinct().select("id", F.lit(0.0).alias("dist"))
    ).repartition("id")
    fixed = rounds > 0
    n_iter = rounds if fixed else max_iterations

    def step(state: DataFrame, i: int):
        relax = (
            adj.join(state.withColumnRenamed("id", "src").hint("SHUFFLE_HASH"), "src")
            .groupBy("dst")
            .agg(F.min(F.col("dist") + F.col("w")).alias("relaxed"))
            .withColumnRenamed("dst", "id")
        )
        # F.least skips nulls, so a newly-reached vertex (dist null) takes
        # `relaxed` and an un-improved one keeps `dist`; the old dist
        # stays in the row as a working column for the metric
        new = (
            state.join(relax.hint("SHUFFLE_HASH"), "id", "full")
            .select("id", F.least("dist", "relaxed").alias("dist"), F.col("dist").alias("old"))
        )
        improved = F.count(F.when(F.col("old").isNull() | (F.col("dist") < F.col("old")), 1))
        return new, None if fixed else improved

    result = driver.run(
        state0,
        step,
        max_iterations=n_iter,
        tolerance=-1.0 if fixed else 0.0,
        metric_name="improved",
    )
    if collect_metrics is not None:
        collect_metrics.extend(result.metrics)
    unpersist_checkpoint(adj)
    return result.state


def landmark_distances(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
    driver: IterationDriver | None = None,
) -> DataFrame:
    """(lm, id, dist) — per-landmark shortest distances, i.e. shortest_paths
    WITHOUT collapsing over the source set. State is keyed (id, lm); the
    adjacency is checkpointed hash(src) exactly like shortest_paths, so the
    relaxation join still never moves the edge table — only the
    frontier×landmark state shuffles. |state| ≤ |V|·|landmarks|, so keep
    the landmark set small (the landmark-embedding pattern: 16-64
    landmarks even at 10^9 vertices)."""
    driver = driver or IterationDriver(spark, run_id="landmark_dist")

    adj = cache_partitioned(
        edges.select("src", "dst", F.col("weight").cast("double").alias("w")).repartition(
            "src"
        )
    )
    state0 = (
        sources.select("id").distinct()
        .select(F.col("id").alias("lm"), "id", F.lit(0.0).alias("dist"))
    ).repartition("id")

    def step(state: DataFrame, i: int):
        relax = (
            adj.join(state.withColumnRenamed("id", "src").hint("SHUFFLE_HASH"), "src")
            .groupBy("dst", "lm")
            .agg(F.min(F.col("dist") + F.col("w")).alias("relaxed"))
            .withColumnRenamed("dst", "id")
        )
        new = (
            state.join(relax.hint("SHUFFLE_HASH"), ["id", "lm"], "full")
            .select("lm", "id", F.least("dist", "relaxed").alias("dist"))
        )
        return new, None

    result = driver.run(
        state0,
        step,
        max_iterations=rounds,
        tolerance=-1.0,
        metric_name="relaxed",
    )
    unpersist_checkpoint(adj)
    return result.state


def harmonic_centrality(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
    driver: IterationDriver | None = None,
) -> DataFrame:
    """(id, harmonic) — landmark-sample harmonic centrality
    hc(v) = Σ_lm 1/d(lm, v) over the reached landmarks (d > 0). The
    standard sampled estimator for closeness-style centrality at scale:
    exact per-pair distances only to a small landmark set, one aggregate
    on top of landmark_distances."""
    dists = landmark_distances(spark, edges, sources, rounds, driver=driver)
    return (
        dists.filter(F.col("dist") > 0)
        .groupBy("id")
        .agg(F.round(F.sum(F.lit(1.0) / F.col("dist")), 8).alias("harmonic"))
    )


def landmark_distances_sql(rounds: int, src_mod: int) -> str:
    """DuckDB twin of landmark_distances over the `edges` CTE:
    landmarks = {id : id % src_mod = 0}; returns (lm, id, dist)."""
    parts = [
        "verts AS (SELECT DISTINCT src AS id FROM edges)",
        f"d0 AS (SELECT id AS lm, id, 0.0 AS dist FROM verts WHERE id % {src_mod} = 0)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS (
    SELECT lm, id, MIN(dist) AS dist FROM (
        SELECT lm, id, dist FROM d{i - 1}
        UNION ALL
        SELECT s.lm, e.dst AS id, s.dist + e.weight AS dist
        FROM edges e JOIN d{i - 1} s ON e.src = s.id
    ) GROUP BY lm, id
)"""
        )
    return ",\n".join(parts) + f"\nSELECT lm, id, dist FROM d{rounds}"


def harmonic_centrality_sql(rounds: int, src_mod: int) -> str:
    """DuckDB twin of harmonic_centrality (same association order:
    SUM(1.0 / dist) over dist > 0)."""
    body = landmark_distances_sql(rounds, src_mod)
    ctes, _ = body.rsplit("\nSELECT", 1)
    return (
        ctes
        + f"""
SELECT id, ROUND(SUM(1.0 / dist), 8) AS harmonic
FROM d{rounds} WHERE dist > 0 GROUP BY id"""
    )


def shortest_paths_sql(rounds: int, src_mod: int) -> str:
    """DuckDB twin over the `edges` CTE: sources = {id : id % src_mod = 0}."""
    parts = [
        "verts AS (SELECT DISTINCT src AS id FROM edges)",
        f"s0 AS (SELECT id, 0.0 AS dist FROM verts WHERE id % {src_mod} = 0)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""s{i} AS (
    SELECT id, MIN(dist) AS dist FROM (
        SELECT id, dist FROM s{i - 1}
        UNION ALL
        SELECT e.dst AS id, s.dist + e.weight AS dist
        FROM edges e JOIN s{i - 1} s ON e.src = s.id
    ) GROUP BY id
)"""
        )
    return ",\n".join(parts) + f"\nSELECT id, dist FROM s{rounds}"


def distance_profile(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
    driver: IterationDriver | None = None,
) -> DataFrame:
    """(dist, n_pairs, cum_frac) — hop/weight-distance distribution over
    the sampled landmark×vertex pairs, with the cumulative fraction.
    The sampled EFFECTIVE DIAMETER d_q reads off directly (smallest
    dist with cum_frac >= q, classically q=0.9) — the reachability
    profile behind "how many supersteps does a frontier algorithm
    need" capacity planning.

    All the work is landmark_distances; the profile itself is one tiny
    aggregate (|distinct distances| ≤ rounds·max_weight rows) and a
    single-partition cumulative window over it."""
    d = landmark_distances(spark, edges, sources, rounds, driver=driver)
    hist = d.groupBy("dist").agg(F.count("*").cast("long").alias("n_pairs"))
    cum = Window.orderBy("dist").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return hist.select(
        "dist",
        "n_pairs",
        F.round(F.sum("n_pairs").over(cum) / F.sum("n_pairs").over(tot), 6).alias(
            "cum_frac"
        ),
    )


def distance_profile_sql(rounds: int, src_mod: int) -> str:
    """DuckDB twin of distance_profile over the `edges` CTE."""
    body = landmark_distances_sql(rounds, src_mod)
    ctes, _ = body.rsplit("\nSELECT", 1)
    return (
        ctes
        + f""",
    hist AS (SELECT dist, COUNT(*)::BIGINT AS n_pairs FROM d{rounds} GROUP BY dist)
SELECT dist, n_pairs,
       ROUND(CAST(SUM(n_pairs) OVER (ORDER BY dist
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(SUM(n_pairs) OVER () AS DOUBLE), 6) AS cum_frac
FROM hist"""
    )


def landmark_oracle_eval(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 4,
    lm_mod: int = 100,
    probe_mod: int = 97,
    probe_rem_u: int = 1,
    probe_rem_v: int = 2,
) -> DataFrame:
    """(u, v, d_exact, est_upper, est_lower, stretch) — quality card for
    the LANDMARK DISTANCE ORACLE (Potamias et al., CIKM'09): at 10^12
    vertices pairwise distances are answered from |L| precomputed
    BFS/Bellman-Ford vectors via the triangle inequality,

        max_l |d(l,u) − d(l,v)|  ≤  d(u,v)  ≤  min_l d(l,u) + d(l,v)

    and this op MEASURES how tight that sandwich is on a deterministic
    probe-pair set, the same way retrieval_metrics audits the ANN
    ranking: exact probe distances come from one extra landmark_distances
    run seeded with the (small) probe-u set itself, so the evaluation
    needs no new operator, just three compositions of the gated one.

    Landmarks are id % lm_mod == 0 (the shortest_paths gate convention);
    probes are (u, v) with u % probe_mod == probe_rem_u, v % probe_mod ==
    probe_rem_v — cross-joined, so ~(n/probe_mod)² pairs: bounded and
    engine-reproducible.  Pairs unreached by any common landmark within
    `rounds` are dropped (both engines identically); stretch =
    est_upper / d_exact, 6dp, the oracle's headline quality number.
    `weight` is used as the edge length (unit weights → hop distance).
    """
    verts = edges.select(F.col("src").alias("id")).distinct()
    lms = verts.filter(F.pmod(F.col("id"), F.lit(lm_mod)) == 0)
    lmd = landmark_distances(spark, edges, lms, rounds=rounds)

    us = verts.filter(F.pmod(F.col("id"), F.lit(probe_mod)) == probe_rem_u)
    vs = verts.filter(F.pmod(F.col("id"), F.lit(probe_mod)) == probe_rem_v)

    du = lmd.select(F.col("lm"), F.col("id").alias("u"), F.col("dist").alias("dlu"))
    dv = lmd.select(F.col("lm"), F.col("id").alias("v"), F.col("dist").alias("dlv"))
    est = (
        du.join(us.select(F.col("id").alias("u")), "u", "left_semi")
        .join(dv.join(vs.select(F.col("id").alias("v")), "v", "left_semi"), "lm")
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.min(F.col("dlu") + F.col("dlv")).alias("est_upper"),
            F.max(F.abs(F.col("dlu") - F.col("dlv"))).alias("est_lower"),
        )
    )
    exact = landmark_distances(spark, edges, us, rounds=rounds).select(
        F.col("lm").alias("u"), F.col("id").alias("v"), F.col("dist").alias("d_exact")
    )
    return (
        est.join(exact, ["u", "v"])
        .select(
            "u",
            "v",
            "d_exact",
            "est_upper",
            "est_lower",
            F.when(F.col("d_exact") > 0, F.round(F.col("est_upper") / F.col("d_exact"), 6))
            .otherwise(F.lit(1.0))
            .alias("stretch"),
        )
    )


def landmark_oracle_eval_sql(
    rounds: int = 4,
    lm_mod: int = 100,
    probe_mod: int = 97,
    probe_rem_u: int = 1,
    probe_rem_v: int = 2,
) -> str:
    """DuckDB twin over the `edges` CTE — two unrolled multi-source
    Bellman-Ford chains (landmark set, probe-u set) + the sandwich."""

    def _bf(prefix: str, seed_where: str) -> list[str]:
        parts = [
            f"{prefix}0 AS (SELECT id AS lm, id, 0.0 AS dist FROM lo_verts WHERE {seed_where})"
        ]
        for i in range(1, rounds + 1):
            parts.append(
                f"""{prefix}{i} AS MATERIALIZED (
    SELECT lm, id, MIN(dist) AS dist FROM (
        SELECT lm, id, dist FROM {prefix}{i - 1}
        UNION ALL
        SELECT s.lm, e.dst AS id, s.dist + e.weight AS dist
        FROM edges e JOIN {prefix}{i - 1} s ON e.src = s.id
    ) GROUP BY lm, id
)"""
            )
        return parts

    parts = ["lo_verts AS (SELECT DISTINCT src AS id FROM edges)"]
    parts += _bf("lo_lm", f"id % {lm_mod} = 0")
    parts += _bf("lo_ex", f"id % {probe_mod} = {probe_rem_u}")
    parts.append(
        f"""lo_est AS (
    SELECT du.id AS u, dv.id AS v,
           MIN(du.dist + dv.dist) AS est_upper,
           MAX(ABS(du.dist - dv.dist)) AS est_lower
    FROM lo_lm{rounds} du
    JOIN lo_lm{rounds} dv ON dv.lm = du.lm
    WHERE du.id % {probe_mod} = {probe_rem_u}
      AND dv.id % {probe_mod} = {probe_rem_v}
      AND du.id <> dv.id
    GROUP BY du.id, dv.id
)"""
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT e.u, e.v, x.dist AS d_exact, e.est_upper, e.est_lower,
       CASE WHEN x.dist > 0 THEN ROUND(e.est_upper / x.dist, 6) ELSE 1.0 END AS stretch
FROM lo_est e
JOIN lo_ex{rounds} x ON x.lm = e.u AND x.id = e.v"""
    )
