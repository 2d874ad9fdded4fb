"""Deterministic weighted random walks — the node2vec/DeepWalk corpus
generator for graph-embedding training pipelines.

Each walk step samples the next neighbor proportionally to edge weight
using a PORTABLE deterministic hash instead of an RNG (textops/portable:
60-bit md5, identical in Spark and DuckDB), so the whole operator is
reproducible run-to-run, partitioning-independent, and oracle-checkable:

    pick(walk, step)   = md5_60(start ':' walk_idx ':' step)  mod  W(cur)
    next neighbor      = the unique dst whose cumulative-weight interval
                         [lo, hi) contains pick  (neighbors ordered by dst)

Scale shape: the interval-annotated adjacency (src, dst, lo, hi, total_w)
is built once — one (src,dst) aggregate + one src-keyed window — and
checkpointed hash(src)-partitioned; each step joins the walk frontier
(one row per live walk) against it on src, exchange-free on the edge
side, exactly the PR/LPA discipline. Walk count = |starts|·walks_per_
vertex rows per step; hub intervals cost nothing extra (the interval
filter selects ONE neighbor row per walk after the equi-join — at a
10^7-degree hub the probe fan-out is the hub's adjacency, the same bound
as every other per-edge join here, and the degree-cap/salting levers in
skew.py apply unchanged).

No reference analogue (training-pipeline scope extension); gated by the
unrolled DuckDB oracle (random_walks_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.iterate import cache_partitioned, materialize, unpersist_checkpoint
from ..textops.portable import md5_long, md5_long_sql


def random_walks(
    spark: SparkSession,
    edges: DataFrame,
    start_mod: int,
    walks_per_vertex: int,
    length: int,
) -> DataFrame:
    """(start_id, walk_idx, step, vertex) — walk paths of ``length`` steps
    from every vertex with id % start_mod == 0, ``walks_per_vertex``
    walks each. Step 0 is the start vertex; a walk that reaches an
    isolated vertex simply ends (no padding rows)."""
    nbrs = (
        edges.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("weight").cast("long").alias("w"))
    )
    win = Window.partitionBy("src").orderBy("dst")
    iv = nbrs.select(
        "src", "dst", "w", F.sum("w").over(win).cast("long").alias("hi")
    ).select("src", "dst", (F.col("hi") - F.col("w")).alias("lo"), "hi")
    tot = iv.groupBy("src").agg(F.max("hi").alias("total_w"))
    adj = cache_partitioned(iv.join(tot, "src").repartition("src"))

    starts = (
        edges.select(F.col("src").alias("start_id"))
        .distinct()
        .filter(F.pmod(F.col("start_id"), F.lit(start_mod)) == 0)
    )
    state = starts.select(
        "start_id",
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))).alias("wi"),
    ).select(
        "start_id",
        F.col("wi").cast("long").alias("walk_idx"),  # match DuckDB range() BIGINT
        F.col("start_id").alias("cur"),
    )
    state = materialize(state)

    outputs = [
        state.select(
            "start_id", "walk_idx", F.lit(0).alias("step"), F.col("cur").alias("vertex")
        )
    ]
    owned = [adj, state]
    for s in range(1, length + 1):
        pick_src = F.concat_ws(
            ":",
            F.col("start_id").cast("string"),
            F.col("walk_idx").cast("string"),
            F.lit(str(s)),
        )
        nxt = materialize(
            state.withColumnRenamed("cur", "src")
            .join(adj.hint("SHUFFLE_HASH"), "src")
            .filter(
                (md5_long(pick_src) % F.col("total_w") >= F.col("lo"))
                & (md5_long(pick_src) % F.col("total_w") < F.col("hi"))
            )
            .select("start_id", "walk_idx", F.col("dst").alias("cur"))
        )
        owned.append(nxt)
        outputs.append(
            nxt.select(
                "start_id", "walk_idx", F.lit(s).alias("step"), F.col("cur").alias("vertex")
            )
        )
        state = nxt

    out = outputs[0]
    for o in outputs[1:]:
        out = out.unionByName(o)
    result = materialize(out)
    for df in owned:
        unpersist_checkpoint(df)
    return result


def random_walks_sql(
    start_mod: int, walks_per_vertex: int, length: int, as_cte: bool = False
) -> str:
    """DuckDB twin over the `edges` CTE (same hash, same intervals)."""
    pick = md5_long_sql("s.start_id || ':' || s.walk_idx || ':' || '{step}'")
    parts = [
        """nbrs AS (
    SELECT src, dst, SUM(weight)::BIGINT AS w
    FROM edges WHERE src <> dst GROUP BY src, dst
)""",
        """iv AS (
    SELECT src, dst,
           SUM(w) OVER (PARTITION BY src ORDER BY dst
                        ROWS UNBOUNDED PRECEDING)::BIGINT - w AS lo,
           SUM(w) OVER (PARTITION BY src ORDER BY dst
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS hi
    FROM nbrs
)""",
        """adj AS (
    SELECT iv.src, iv.dst, iv.lo, iv.hi, t.total_w
    FROM iv JOIN (SELECT src, MAX(hi) AS total_w FROM iv GROUP BY src) t
    ON iv.src = t.src
)""",
        f"""w0 AS (
    SELECT v.src AS start_id, wdx.walk_idx, v.src AS cur
    FROM (SELECT DISTINCT src FROM edges WHERE src % {start_mod} = 0) v,
         (SELECT UNNEST(range({walks_per_vertex})) AS walk_idx) wdx
)""",
    ]
    for s in range(1, length + 1):
        h = pick.format(step=s)
        parts.append(
            f"""w{s} AS (
    SELECT s.start_id, s.walk_idx, a.dst AS cur
    FROM w{s - 1} s JOIN adj a ON s.cur = a.src
    WHERE {h} % a.total_w >= a.lo AND {h} % a.total_w < a.hi
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT start_id, walk_idx, {s} AS step, cur AS vertex FROM w{s}"
        for s in range(0, length + 1)
    )
    if as_cte:
        return ",\n".join(parts) + ",\nwalks AS (\n" + unions + "\n)"
    return ",\n".join(parts) + f"\n{unions}"


# ---------------------------------------------------------------------------
# deterministic neighbor sampling (minibatch-GNN fanout)
# ---------------------------------------------------------------------------


def neighbor_sample(edges: DataFrame, fanout: int, seed: int = 0) -> DataFrame:
    """(src, dst, sample_rank) — GraphSAGE-style per-vertex neighbor
    sampling: every vertex keeps ``fanout`` neighbors chosen by a
    portable hash priority md5_60(seed:src:dst) — a uniform sample
    without replacement that is reproducible, partition-independent,
    and bit-identical in the DuckDB oracle (same trick as the walk
    sampler above). The sampled adjacency is O(V·fanout) rows — the
    bounded minibatch input GNN training needs regardless of hub
    degrees; re-seed per epoch for fresh samples.

    One (src,dst) distinct + one src-keyed window top-k (rank, not a
    global sort); rides the same hash(src) exchange as every other
    per-vertex op here."""
    nbrs = (
        edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    )
    pri = md5_long(
        F.concat_ws(
            ":",
            F.lit(str(seed)),
            F.col("src").cast("string"),
            F.col("dst").cast("string"),
        )
    )
    win = Window.partitionBy("src").orderBy(pri.asc(), F.col("dst").asc())
    return (
        nbrs.withColumn("sample_rank", F.row_number().over(win).cast("int"))
        .filter(F.col("sample_rank") <= fanout)
    )


def neighbor_sample_sql(fanout: int, seed: int = 0) -> str:
    """DuckDB twin of neighbor_sample over the `edges` CTE."""
    pri = md5_long_sql(
        f"'{seed}' || ':' || CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)"
    )
    return f"""
    nbrs AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
    ranked AS (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY {pri} ASC, dst ASC) AS rn
        FROM nbrs
    )
    SELECT src, dst, rn::INT AS sample_rank FROM ranked WHERE rn <= {fanout}
    """


# ---------------------------------------------------------------------------
# second-order (node2vec) biased walks
# ---------------------------------------------------------------------------


def node2vec_walks(
    spark: SparkSession,
    edges: DataFrame,
    start_mod: int,
    walks_per_vertex: int,
    length: int,
    ret_w: int = 1,
    dist1_w: int = 4,
    far_w: int = 2,
) -> DataFrame:
    """(start_id, walk_idx, step, vertex) — node2vec second-order walks
    (Grover & Leskovec, KDD 2016): stepping prev→cur, neighbor n of cur
    is weighted  w(cur,n) · bias  with bias = 1/p when n = prev (return),
    1 when n neighbors prev (BFS-ish), 1/q otherwise (DFS-ish).  The
    biases are INTEGER multipliers ``ret_w : dist1_w : far_w`` ≡
    (1/p : 1 : 1/q) scaled to integers — defaults (1, 4, 2) ≙ p=4, q=2 —
    so every cumulative interval stays exact int64 and the pick
    (portable 60-bit hash mod total, the random_walks discipline) is
    bit-identical in the DuckDB twin.  Step 1 is first-order (no prev).

    Scale shape: per step, one equi-join of the walk frontier on cur
    (the per-edge fan-out bound every operator here shares), one
    (prev, n)-keyed left join against the distinct symmetric pair set
    for the distance-1 test, and one per-walk window for the cumulative
    intervals — the interval must be built at runtime because the bias
    depends on (prev, cur), unlike the first-order walk's precomputable
    adjacency intervals.  Hub mitigation is the caller's degree-cap /
    neighbor_sample composition, unchanged.
    """
    nbrs = (
        edges.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("weight").cast("long").alias("w"))
    )
    # first-order intervals for step 1 (identical to random_walks)
    win1 = Window.partitionBy("src").orderBy("dst")
    iv = nbrs.select(
        "src", "dst", "w", F.sum("w").over(win1).cast("long").alias("hi")
    ).select("src", "dst", (F.col("hi") - F.col("w")).alias("lo"), "hi")
    tot1 = iv.groupBy("src").agg(F.max("hi").alias("total_w"))
    adj = cache_partitioned(iv.join(tot1, "src").repartition("src"))
    # distinct symmetric pair set for the distance-1 membership test
    sym = cache_partitioned(
        nbrs.select("src", "dst")
        .unionByName(nbrs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition("src")
    )

    starts = (
        edges.select(F.col("src").alias("start_id"))
        .distinct()
        .filter(F.pmod(F.col("start_id"), F.lit(start_mod)) == 0)
    )
    state0 = starts.select(
        "start_id",
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))).alias("wi"),
    ).select(
        "start_id",
        F.col("wi").cast("long").alias("walk_idx"),
        F.col("start_id").alias("cur"),
    )
    state0 = materialize(state0)
    outputs = [
        state0.select(
            "start_id", "walk_idx", F.lit(0).alias("step"), F.col("cur").alias("vertex")
        )
    ]
    owned = [adj, sym, state0]

    def pick_expr(step: int):
        return md5_long(
            F.concat_ws(
                ":",
                F.col("start_id").cast("string"),
                F.col("walk_idx").cast("string"),
                F.lit(str(step)),
            )
        )

    # step 1: first-order pick from the precomputed intervals
    state = None
    if length >= 1:
        p1 = pick_expr(1)
        state = materialize(
            state0.withColumnRenamed("cur", "src")
            .join(adj.hint("SHUFFLE_HASH"), "src")
            .filter(
                (p1 % F.col("total_w") >= F.col("lo"))
                & (p1 % F.col("total_w") < F.col("hi"))
            )
            .select("start_id", "walk_idx", F.col("src").alias("prev"), F.col("dst").alias("cur"))
        )
        owned.append(state)
        outputs.append(
            state.select(
                "start_id", "walk_idx", F.lit(1).alias("step"), F.col("cur").alias("vertex")
            )
        )

    wwalk = Window.partitionBy("start_id", "walk_idx").orderBy("n")
    wtot = Window.partitionBy("start_id", "walk_idx")
    for s in range(2, length + 1):
        cand = (
            state.join(
                nbrs.select(F.col("src").alias("cur"), F.col("dst").alias("n"), "w").hint(
                    "SHUFFLE_HASH"
                ),
                "cur",
            )
            .join(
                sym.select(
                    F.col("src").alias("prev"), F.col("dst").alias("n"), F.lit(1).alias("d1")
                ),
                ["prev", "n"],
                "left",
            )
            .withColumn(
                "bw",
                F.col("w")
                * F.when(F.col("n") == F.col("prev"), F.lit(ret_w))
                .when(F.col("d1") == 1, F.lit(dist1_w))
                .otherwise(F.lit(far_w)),
            )
        )
        iv2 = cand.select(
            "start_id",
            "walk_idx",
            "cur",
            "n",
            (F.sum("bw").over(wwalk) - F.col("bw")).cast("long").alias("lo"),
            F.sum("bw").over(wwalk).cast("long").alias("hi"),
            F.sum("bw").over(wtot).cast("long").alias("tot"),
        )
        ps = pick_expr(s)
        state = materialize(
            iv2.filter((ps % F.col("tot") >= F.col("lo")) & (ps % F.col("tot") < F.col("hi")))
            .select("start_id", "walk_idx", F.col("cur").alias("prev"), F.col("n").alias("cur"))
        )
        owned.append(state)
        outputs.append(
            state.select(
                "start_id", "walk_idx", F.lit(s).alias("step"), F.col("cur").alias("vertex")
            )
        )

    out = outputs[0]
    for o in outputs[1:]:
        out = out.unionByName(o)
    result = materialize(out)
    for df in owned:
        unpersist_checkpoint(df)
    return result


def node2vec_walks_sql(
    start_mod: int,
    walks_per_vertex: int,
    length: int,
    ret_w: int = 1,
    dist1_w: int = 4,
    far_w: int = 2,
) -> str:
    """DuckDB twin over the `edges` CTE (same hash, same runtime intervals)."""
    pick = md5_long_sql("start_id || ':' || walk_idx || ':' || '{step}'")
    parts = [
        """nbrs AS (
    SELECT src, dst, SUM(weight)::BIGINT AS w
    FROM edges WHERE src <> dst GROUP BY src, dst
)""",
        """iv AS (
    SELECT src, dst,
           SUM(w) OVER (PARTITION BY src ORDER BY dst
                        ROWS UNBOUNDED PRECEDING)::BIGINT - w AS lo,
           SUM(w) OVER (PARTITION BY src ORDER BY dst
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS hi
    FROM nbrs
)""",
        """adj AS (
    SELECT iv.src, iv.dst, iv.lo, iv.hi, t.total_w
    FROM iv JOIN (SELECT src, MAX(hi) AS total_w FROM iv GROUP BY src) t
    ON iv.src = t.src
)""",
        """n2vsym AS (
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM nbrs UNION ALL SELECT dst AS src, src AS dst FROM nbrs
    )
)""",
        f"""w0 AS (
    SELECT v.src AS start_id, wdx.walk_idx, v.src AS cur
    FROM (SELECT DISTINCT src FROM edges WHERE src % {start_mod} = 0) v,
         (SELECT UNNEST(range({walks_per_vertex})) AS walk_idx) wdx
)""",
    ]
    if length >= 1:
        h1 = pick.format(step=1)
        parts.append(
            f"""w1 AS (
    SELECT s.start_id, s.walk_idx, s.cur AS prev, a.dst AS cur
    FROM w0 s JOIN adj a ON s.cur = a.src
    WHERE {h1} % a.total_w >= a.lo AND {h1} % a.total_w < a.hi
)"""
        )
    for s in range(2, length + 1):
        h = pick.format(step=s)
        parts.append(
            f"""c{s} AS (
    SELECT s.start_id, s.walk_idx, s.cur, n.dst AS n,
           n.w * (CASE WHEN n.dst = s.prev THEN {ret_w}
                       WHEN d1.src IS NOT NULL THEN {dist1_w}
                       ELSE {far_w} END) AS bw
    FROM w{s - 1} s
    JOIN nbrs n ON s.cur = n.src
    LEFT JOIN n2vsym d1 ON d1.src = s.prev AND d1.dst = n.dst
),
i{s} AS (
    SELECT start_id, walk_idx, cur, n,
           (SUM(bw) OVER (PARTITION BY start_id, walk_idx ORDER BY n
                          ROWS UNBOUNDED PRECEDING) - bw)::BIGINT AS lo,
           SUM(bw) OVER (PARTITION BY start_id, walk_idx ORDER BY n
                         ROWS UNBOUNDED PRECEDING)::BIGINT AS hi,
           SUM(bw) OVER (PARTITION BY start_id, walk_idx)::BIGINT AS tot
    FROM c{s}
),
w{s} AS (
    SELECT start_id, walk_idx, cur AS prev, n AS cur
    FROM i{s}
    WHERE {h} % tot >= lo AND {h} % tot < hi
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT start_id, walk_idx, {s} AS step, cur AS vertex FROM w{s}"
        for s in range(0, length + 1)
    )
    return ",\n".join(parts) + f"\n{unions}"


def walk_cooccurrence(
    spark: SparkSession,
    edges: DataFrame,
    start_mod: int,
    walks_per_vertex: int,
    length: int,
    window: int = 2,
) -> DataFrame:
    """(center, context, n_pairs) — skip-gram co-occurrence counts over
    the deterministic random-walk corpus (DeepWalk / node2vec training
    prep, Perozzi et al. KDD 2014): every ordered pair of vertices at
    most ``window`` steps apart in the same walk, counted over all
    walks.  The downstream embedding trainer consumes exactly this
    table (positive pairs + counts for negative-sampling weights).

    Scale shape: NO self-join — one exchange keyed on (start_id,
    walk_idx) feeds ``window`` lead() columns (the walk is already
    ordered by step), pairs explode JVM-side, and the count is a
    map-side-combinable (center, context) aggregate bounded by
    walks × length × window rows."""
    walks = random_walks(spark, edges, start_mod, walks_per_vertex, length)
    w = Window.partitionBy("start_id", "walk_idx").orderBy("step")
    leads = walks.select(
        "vertex",
        F.array(
            [F.lead("vertex", o).over(w) for o in range(1, window + 1)]
        ).alias("ctxs"),
    )
    fwd = leads.select(
        F.col("vertex").alias("center"),
        F.explode(F.filter(F.col("ctxs"), lambda c: c.isNotNull())).alias("context"),
    )
    pairs = fwd.unionByName(
        fwd.select(F.col("context").alias("center"), F.col("center").alias("context"))
    )
    return pairs.groupBy("center", "context").agg(
        F.count("*").cast("long").alias("n_pairs")
    )


def walk_cooccurrence_sql(
    start_mod: int, walks_per_vertex: int, length: int, window: int = 2
) -> str:
    """DuckDB twin: the walks CTE + a banded self-join (|Δstep| ≤ window)
    — pair-set-identical to the lead() formulation because both only
    pair steps that exist (truncated walks lose the same pairs)."""
    return (
        random_walks_sql(start_mod, walks_per_vertex, length, as_cte=True)
        + f"""
SELECT center, context, COUNT(*)::BIGINT AS n_pairs
FROM (
    SELECT a.vertex AS center, b.vertex AS context
    FROM walks a JOIN walks b
      ON a.start_id = b.start_id AND a.walk_idx = b.walk_idx
     AND a.step <> b.step AND ABS(a.step - b.step) <= {window}
)
GROUP BY center, context"""
    )
