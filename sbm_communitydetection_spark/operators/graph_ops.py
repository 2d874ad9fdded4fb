"""Core relational graph operators (reference's Graph "DML", SURVEY.md §2.2).

All operators are pure DataFrame transformations over

    edges(src: long, dst: long, weight: long)   -- symmetrized
    vertices(id: long, label: long, ...)

Every pointer dereference in the reference (`getNode`,
src/graph.cpp:216-230) becomes an equi-join on `id`; adjacency mutation
becomes union + re-aggregation; removal becomes an anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.iterate import materialize, unpersist_checkpoint


def symmetrize(edges: DataFrame) -> DataFrame:
    """Materialize both directions, accumulate duplicate weights, drop
    self-loops and zero-weight edges.

    Reference: addUndirectedEdge (src/graph.cpp:232-235), weight
    accumulation (src/graph.cpp:24-26), zero-weight skip
    (src/graph.cpp:16-18), self-loop guards (src/sbm.cpp:96-98).
    """
    # Single pass: explode each row into both directions instead of
    # union-ing the plan with its reverse — a union references the input
    # subtree TWICE, so an expensive upstream (e.g. the transcript
    # window in operators/extract.py) would scan + shuffle + window the
    # whole input twice. Self-loops are dropped pre-explode (symmetric
    # predicate, half the comparisons).
    e = edges.select("src", "dst", "weight").filter(F.col("src") != F.col("dst"))
    both = e.select(
        F.explode(
            F.array(
                F.struct("src", "dst", "weight"),
                F.struct(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("weight")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.weight")
    return (
        both.groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
        .filter(F.col("weight") != 0)
    )


def add_edges(edges: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Upsert-accumulate new undirected edges into the SYMMETRIZED state
    table (G2/G3: src/graph.cpp:14-30,232-235).

    ``edges`` must already be symmetric (both directions materialized);
    ``new_edges`` is the RAW one-direction-per-draw batch, which gets
    mirrored here. Re-symmetrizing an already-symmetric table would double
    every weight, so only the batch side is mirrored."""
    batch_sym = symmetrize(new_edges.select("src", "dst", "weight"))
    return (
        edges.select("src", "dst", "weight")
        .unionByName(batch_sym)
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
        .filter(F.col("weight") != 0)
    )


def remove_edges(edges: DataFrame, removals: DataFrame) -> DataFrame:
    """Delete undirected edges by (src,dst) pair (G5: src/graph.cpp:255-274)."""
    r = removals.select("src", "dst")
    r_both = r.unionByName(r.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return edges.join(r_both.distinct(), ["src", "dst"], "left_anti")


def remove_nodes(vertices: DataFrame, edges: DataFrame, node_ids: DataFrame):
    """Drop vertices and all incident edges (G8: src/graph.cpp:287-313)."""
    ids = node_ids.select("id").distinct()
    v = vertices.join(ids, "id", "left_anti")
    e = edges.join(ids.withColumnRenamed("id", "src"), "src", "left_anti").join(
        ids.withColumnRenamed("id", "dst"), "dst", "left_anti"
    )
    return v, e.select("src", "dst", "weight")


def weighted_degree(edges: DataFrame) -> DataFrame:
    """degree(id, degree): weighted degree = Σ incident weight.

    Reference counts WEIGHT, not neighbors (src/graph.cpp:29,
    utils/quality_measures.cpp:17-24).  On the symmetrized table one
    groupBy on src covers both directions.
    """
    return edges.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("degree"))


def total_edges(edges: DataFrame) -> DataFrame:
    """Σ weight / 2 over the symmetrized table (G10: src/graph.cpp:206-214)."""
    return edges.agg((F.sum("weight") / 2).alias("total_edges"))


def edge_weight_lookup(edges: DataFrame, pairs: DataFrame) -> DataFrame:
    """Batch getEdgeWeight (G6: src/graph.cpp:243-253): 0 when absent."""
    return (
        pairs.select("src", "dst")
        .join(edges, ["src", "dst"], "left")
        .select("src", "dst", F.coalesce("weight", F.lit(0)).alias("weight"))
    )


def labels_of(vertices: DataFrame) -> DataFrame:
    """getLabels (G11: src/graph.cpp:315-322)."""
    return vertices.select("id", "label")


def communities_of(vertices: DataFrame) -> DataFrame:
    """getCommunities (G12: src/graph.cpp:324-330) — normalized form
    (label, member); collect_set only at driver/test scale."""
    return vertices.select(F.col("label"), F.col("id").alias("member"))


def edges_with_labels(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """The core double label join J1 (SURVEY.md §2.5): every algorithm's
    `edge.first->label` pointer chase."""
    ls = labels.select(F.col("id").alias("src"), F.col("label").alias("src_label"))
    ld = labels.select(F.col("id").alias("dst"), F.col("label").alias("dst_label"))
    return edges.join(ls, "src").join(ld, "dst")


def community_stats(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """community_stats(label, e_in, e_out, size) — A4/A6 bookkeeping.

    e_in = intra-community undirected edge weight (each intra edge appears
    twice in the symmetrized+labeled table → /2, mirroring the reference's
    `e_in /= 2` at src/approximate_community_detection.cpp:118);
    e_out = weight to other communities (once per direction per community).
    """
    el = edges_with_labels(edges, labels)
    same = F.col("src_label") == F.col("dst_label")
    stats = el.groupBy(F.col("src_label").alias("label")).agg(
        (F.sum(F.when(same, F.col("weight")).otherwise(0)) / 2).cast("double").alias("e_in"),
        F.sum(F.when(~same, F.col("weight")).otherwise(0)).cast("double").alias("e_out"),
    )
    sizes = labels.groupBy("label").agg(F.count("*").alias("size"))
    return stats.join(sizes, "label", "full").fillna(0.0, ["e_in", "e_out"]).fillna(0, ["size"])


def coarsen(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """partitionToGraph / Louvain coarsening (C1:
    src/dynamic_community_detection.cpp:187-217): super-graph with one
    node per community; intra weights become self-loop weight."""
    el = edges_with_labels(edges, labels)
    return (
        el.groupBy(F.col("src_label").alias("src"), F.col("dst_label").alias("dst"))
        .agg(F.sum("weight").alias("weight"))
    )


def sync_communities(
    coarse: DataFrame,
    edges: DataFrame,
    labels: DataFrame,
    touched: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """C2 — incremental coarsen repair (syncCommunities,
    src/dynamic_community_detection.cpp:249-276): disband the ``touched``
    communities (members revert to singletons, C3) and repair the coarse
    super-graph WITHOUT recomputing it from all edges.

    Returns ``(coarse', labels')`` where ``coarse'`` equals
    ``coarsen(edges, labels')`` (tested) but is built from:

    * an anti-join dropping coarse rows incident to a touched label
      (|coarse| rows, broadcast-able touched set — no edge scan), plus
    * the re-aggregated contributions of ONLY the edges with a touched
      endpoint (one broadcast semi-join pass over ``edges``; just the
      small delta shuffles).

    At 100 TB scale this turns the per-batch repair cost from an O(|E|)
    SHUFFLE (full C1 recompute) into one shuffle-free semi-join scan of
    ``edges`` plus a shuffle of only O(|coarse| + touched degree) rows:
    the final re-aggregation runs over the community-sized union, never
    the edge table. (The re-aggregation is required for correctness — a
    disbanded member's id may collide with a surviving community's label:
    under label propagation the origin vertex of label L need not itself
    remain in community L, so singleton and surviving key spaces are not
    disjoint.)
    """
    t = touched.select("label").distinct()
    kept = coarse.join(
        F.broadcast(t.withColumnRenamed("label", "src")), "src", "left_anti"
    ).join(F.broadcast(t.withColumnRenamed("label", "dst")), "dst", "left_anti")

    members = labels.join(F.broadcast(t), "label", "left_semi").select("id")
    new_labels = labels.join(
        F.broadcast(members.withColumn("m", F.lit(1))), "id", "left"
    ).select(
        "id",
        F.when(F.col("m").isNotNull(), F.col("id")).otherwise(F.col("label")).alias("label"),
    )

    # edges with >=1 endpoint in a disbanded community, relabeled under the
    # post-disband labeling; only THESE rows shuffle for the re-aggregation
    m_src = F.broadcast(members.withColumnRenamed("id", "src"))
    m_dst = F.broadcast(members.withColumnRenamed("id", "dst"))
    inc = edges.join(m_src, "src", "left_semi").unionByName(
        edges.join(m_src, "src", "left_anti").join(m_dst, "dst", "left_semi")
    )
    delta = edges_with_labels(inc, new_labels).select(
        F.col("src_label").alias("src"), F.col("dst_label").alias("dst"), "weight"
    )
    repaired = (
        kept.unionByName(delta)
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )
    return repaired, new_labels


def canonical_relabel(labels: DataFrame, distributed_threshold: int = 1_000_000) -> DataFrame:
    """relabelGraph (C4: src/dynamic_community_detection.cpp:345-357):
    dense labels 0..k-1 in order of each community's minimum member id —
    a deterministic canonical form for exact-match testing.

    The remap table has one row per COMMUNITY. Up to ``distributed_threshold``
    communities it is ranked with a driver-small global window (the usual
    case: k ≪ n). Beyond that — e.g. near-singleton partitions at 10^9
    vertices, where a global window would funnel everything through one
    task — the dense rank is assigned by sorted ``zipWithIndex`` (range
    partition + per-partition offsets, two distributed jobs, no single-task
    bottleneck)."""
    order = labels.groupBy("label").agg(F.min("id").alias("min_id"))
    k = order.count()
    if k <= distributed_threshold:
        w = Window.orderBy("min_id", "label")
        remap = order.withColumn("new_label", F.row_number().over(w) - F.lit(1)).select(
            "label", "new_label"
        )
        remap = F.broadcast(remap) if k <= 1_000_000 else remap
    else:
        spark = labels.sparkSession
        ranked = (
            order.repartitionByRange(max(32, k // 5_000_000), "min_id", "label")
            .sortWithinPartitions("min_id", "label")
            .select("label")
            .rdd.map(lambda r: r.label)
            .zipWithIndex()
        )
        remap = spark.createDataFrame(ranked, "label long, new_label long")
    return (
        labels.join(remap, "label")
        .select("id", F.col("new_label").cast("long").alias("label"))
    )


def main_community(labels: DataFrame, node_priority: DataFrame | None = None) -> DataFrame:
    """T3 getMainCommunity (src/approximate_community_detection.cpp:439-461):
    the community of maximum size; ties broken by the maximum per-member
    priority (the reference reads its node-removal heap's max value), then
    deterministically by MIN label (the reference's unordered_map iteration
    order is nondeterministic — documented divergence).

    Returns a single-row DataFrame (label, size, priority). One groupBy +
    one global top-1 — no driver-side iteration."""
    if node_priority is not None:
        lp = labels.join(node_priority.select("id", "priority"), "id", "left")
    else:
        lp = labels.withColumn("priority", F.lit(0.0))
    per = lp.groupBy("label").agg(
        F.count("*").alias("size"),
        F.coalesce(F.max("priority"), F.lit(float("-inf"))).alias("priority"),
    )
    return per.orderBy(F.desc("size"), F.desc("priority"), F.asc("label")).limit(1)


def disband(labels: DataFrame, affected_ids: DataFrame) -> DataFrame:
    """disbandCommunities (C3: src/dynamic_community_detection.cpp:243-247):
    affected nodes become singletons (label ← id)."""
    aff = affected_ids.select("id").withColumn("_aff", F.lit(True))
    return (
        labels.join(aff, "id", "left")
        .select("id", F.when(F.col("_aff"), F.col("id")).otherwise(F.col("label")).alias("label"))
    )


def apply_label_moves(labels: DataFrame, moves: DataFrame) -> DataFrame:
    """updateCommunities (C5/J5: src/dynamic_community_detection.cpp:172-185):
    broadcast-join (old_label → new_label) pairs onto all members."""
    mv = moves.select(F.col("old_label").alias("label"), "new_label")
    return (
        labels.join(F.broadcast(mv), "label", "left")
        .select("id", F.coalesce("new_label", "label").alias("label"))
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Single-row (assortativity) — Pearson correlation of the
    distinct-neighbor degrees across edge endpoints (Newman's r).

    All five moment sums are EXACT integer aggregates (one groupBy + one
    join + one agg); only the final scalar arithmetic is floating point,
    with the expression structured identically to the SQL oracle for
    float parity. Sums stay below 2^53 up to ~10^8-edge inputs; beyond
    that, pre-scale the degrees (r is scale-invariant).
    """
    nbrs = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    deg = nbrs.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("deg")
    )
    pairs = (
        nbrs.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("x")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("y")), "dst")
    )
    s = pairs.agg(
        F.count("*").cast("double").alias("m"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    return s.select(
        (
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("assortativity")
    )


def conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """(label, conductance) — e_out / (2·e_in + e_out) per community
    (the cut-quality complement of embeddedness; 0.0 for isolated
    communities). One groupBy on top of community_stats' bookkeeping."""
    stats = community_stats(edges, labels)
    denom = F.lit(2.0) * F.col("e_in") + F.col("e_out")
    return stats.select(
        "label",
        F.when(denom > 0, F.col("e_out") / denom).otherwise(F.lit(0.0)).alias(
            "conductance"
        ),
    )


def graph_summary(edges: DataFrame) -> DataFrame:
    """Single-row card over the SYMMETRIZED edge table: vertex count,
    undirected edge count, total weight, avg/max distinct-neighbor
    degree, density. One aggregation plus one degree groupBy."""
    deg = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .groupBy("src")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    return deg.agg(
        F.count("*").cast("long").alias("n_vertices"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.max("deg").cast("long").alias("max_degree"),
        (F.sum("deg") / F.count("*")).alias("avg_degree"),
        (
            F.sum("deg").cast("double")
            / (F.count("*").cast("double") * (F.count("*") - 1))
        ).alias("density"),
    )


def community_representatives(
    edges: DataFrame, labels: DataFrame, k: int
) -> DataFrame:
    """(label, id, degree, rank) — the top-k members of every community
    by weighted degree (deterministic id tie-break): the community
    SUMMARIZATION step (representative actors per detected community)
    that reporting/downstream sampling runs after any detection pass.

    One id-keyed join + one label-partitioned window top-k — the window
    ranks within hash(label) partitions, no global sort; output is
    O(k·|communities|) rows."""
    from pyspark.sql import Window

    deg = weighted_degree(edges)
    win = Window.partitionBy("label").orderBy(F.desc("degree"), F.col("id").asc())
    return (
        labels.join(deg, "id")
        .withColumn("rank", F.row_number().over(win).cast("int"))
        .filter(F.col("rank") <= k)
        .select("label", "id", "degree", "rank")
    )


def sample_edges(edges: DataFrame, permille: int, seed: int = 0) -> DataFrame:
    """Deterministic uniform edge sample: keep an edge iff
    md5_60(seed:src:dst) % 1000 < permille — RNG-free, reproducible,
    partition-independent (the same portable-hash trick as the walk /
    neighbor samplers), so sampled-estimator queries (triad census,
    wedge counts) are oracle-checkable and stable run-to-run.
    Pure per-row filter on the scan — no shuffle."""
    from ..textops.portable import md5_long

    pri = md5_long(
        F.concat_ws(
            ":",
            F.lit(str(seed)),
            F.col("src").cast("string"),
            F.col("dst").cast("string"),
        )
    )
    return edges.filter(F.pmod(pri, F.lit(1000)) < permille)


RICH_CLUB_KS = (2, 4, 8, 16, 32)


def rich_club(edges: DataFrame, ks: tuple[int, ...] = RICH_CLUB_KS) -> DataFrame:
    """(k, n_club, e_club, phi) — rich-club coefficient per degree cut:
    among vertices with distinct-neighbor degree > k, phi(k) =
    2·E_club / (N_club·(N_club−1)) — do the hubs wire to each other more
    than chance?  Rising phi with k is the "rich club" signature of
    reply graphs (agents/tools that everyone talks to also talk to each
    other); flat phi means hub links are user-mediated.

    Scale shape: one distinct-degree aggregate, then per cut two
    semi-join-like broadcast-ins of the (shrinking) club membership
    onto the edge table and one count — the club side is hub-only,
    orders of magnitude smaller than the graph, and NO hub self-join
    is ever materialized (only membership filtering + counting).
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    out = None
    for k in ks:
        club = deg.filter(F.col("deg") > k).select(F.col("src").alias("id"))
        n_club = club.agg(F.count("*").alias("n"))
        e_club = (
            e.join(club.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(club.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .agg((F.count("*") / 2).cast("long").alias("e"))
        )
        row = n_club.crossJoin(e_club).select(
            F.lit(k).cast("long").alias("k"),
            F.col("n").cast("long").alias("n_club"),
            F.col("e").alias("e_club"),
            F.when(
                F.col("n") >= 2,
                F.round(
                    2.0 * F.col("e") / (F.col("n").cast("double") * (F.col("n") - 1)),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("phi"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def rich_club_sql(ks: tuple[int, ...] = RICH_CLUB_KS) -> str:
    """DuckDB twin over the `edges` CTE (symmetrized, so each undirected
    club edge appears twice and is halved exactly like the Spark side)."""
    kvals = ", ".join(f"({k})" for k in ks)
    return f""",
    de AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
    deg AS (SELECT src AS id, COUNT(*)::BIGINT AS deg FROM de GROUP BY src),
    ks(k) AS (VALUES {kvals}),
    club AS (SELECT k, id FROM ks JOIN deg ON deg.deg > ks.k),
    nc AS (
        SELECT ks.k, COUNT(deg.id)::BIGINT AS n
        FROM ks LEFT JOIN deg ON deg.deg > ks.k GROUP BY ks.k
    ),
    ec AS (
        SELECT c1.k, (COUNT(*) / 2)::BIGINT AS e
        FROM de
        JOIN club c1 ON de.src = c1.id
        JOIN club c2 ON de.dst = c2.id AND c2.k = c1.k
        GROUP BY c1.k
    )
    SELECT nc.k::BIGINT AS k, nc.n AS n_club, COALESCE(ec.e, 0) AS e_club,
           CASE WHEN nc.n >= 2
                THEN ROUND(2.0 * COALESCE(ec.e, 0) / (nc.n::DOUBLE * (nc.n - 1)), 6)
                ELSE 0.0 END AS phi
    FROM nc LEFT JOIN ec ON nc.k = ec.k
    """


def label_assortativity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Single-row (n_edges, tr_e, sum_ab, assortativity) — Newman's
    CATEGORICAL assortativity coefficient (PRE 67:026126 eq. 2):

        r = (Σ_i e_ii − Σ_i a_i·b_i) / (1 − Σ_i a_i·b_i)

    over the label mixing matrix e_ij (fraction of directed edge ends
    from label i to label j), a/b its row/col sums.  The homophily
    scalar for any vertex attribute — community labels, language,
    source, role — answering "do like actors talk to like?" one level
    above the per-community view (community_stats / conductance):
    r = 1 perfect homophily, 0 random mixing, < 0 disassortative.
    degree_assortativity (above) is the numeric-attribute sibling.

    Exact path: the k×k mixing counts are integer aggregates on ONE
    doubly-labeled edge pass (the J1 join shape); the row/col sums and
    the final scalar run on the k²-row contingency — driver-scale for
    any real label domain.  Σ a_i·b_i is summed as int64 of raw counts
    (≤ m², overflowing past m ≈ 3·10^9 edges); at that scale divide the
    marginals by m BEFORE the product — r is unchanged, the twin just
    needs the same op order.  Self-loops are excluded (they inflate e_ii
    with no mixing information).  Degenerate Σa·b = 1 (all one label)
    is defined as r = 0.
    """
    lab = labels.select("id", "label")
    m = (
        edges.filter(F.col("src") != F.col("dst"))
        .join(lab.withColumnRenamed("id", "src").withColumnRenamed("label", "li"), "src")
        .join(lab.withColumnRenamed("id", "dst").withColumnRenamed("label", "lj"), "dst")
        .groupBy("li", "lj")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = m.agg(
        F.sum("n").cast("long").alias("n_edges"),
        F.sum(F.when(F.col("li") == F.col("lj"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("diag"),
    )
    a = m.groupBy("li").agg(F.sum("n").alias("ra"))
    b = m.groupBy("lj").agg(F.sum("n").alias("cb"))
    ab = (
        a.join(b, a["li"] == b["lj"])
        .agg(F.sum(F.col("ra") * F.col("cb")).cast("long").alias("sum_ab_raw"))
    )
    s = tot.crossJoin(ab).select(
        "n_edges",
        (F.col("diag") / F.col("n_edges")).alias("tr_e"),
        (F.col("sum_ab_raw") / F.col("n_edges") / F.col("n_edges")).alias("sum_ab"),
    )
    return s.select(
        "n_edges",
        F.round("tr_e", 6).alias("tr_e"),
        F.round("sum_ab", 6).alias("sum_ab"),
        F.when(F.col("sum_ab") == 1.0, F.lit(0.0))
        .otherwise(
            F.round((F.col("tr_e") - F.col("sum_ab")) / (1.0 - F.col("sum_ab")), 6)
        )
        .alias("assortativity"),
    )


def label_assortativity_sql(n_labels: int) -> str:
    """DuckDB twin over the `edges` CTE with derived labels id % n."""
    return f"""
la_m AS (
    SELECT e.src % {n_labels} AS li, e.dst % {n_labels} AS lj, COUNT(*)::BIGINT AS n
    FROM edges e WHERE e.src <> e.dst
    GROUP BY 1, 2
),
la_tot AS (
    SELECT SUM(n)::BIGINT AS n_edges,
           SUM(CASE WHEN li = lj THEN n ELSE 0 END)::BIGINT AS diag
    FROM la_m
),
la_ab AS (
    SELECT SUM(ra * cb)::BIGINT AS sum_ab_raw
    FROM (SELECT li, SUM(n) AS ra FROM la_m GROUP BY li) a
    JOIN (SELECT lj, SUM(n) AS cb FROM la_m GROUP BY lj) b ON a.li = b.lj
),
la_s AS (
    SELECT n_edges,
           diag / n_edges AS tr_e,
           sum_ab_raw / n_edges / n_edges AS sum_ab
    FROM la_tot CROSS JOIN la_ab
)
SELECT n_edges, ROUND(tr_e, 6) AS tr_e, ROUND(sum_ab, 6) AS sum_ab,
       CASE WHEN sum_ab = 1.0 THEN 0.0
            ELSE ROUND((tr_e - sum_ab) / (1.0 - sum_ab), 6) END AS assortativity
FROM la_s"""


def influence_seeds(edges: DataFrame, k: int = 5, p: float = 0.05) -> DataFrame:
    """(seed_rank, id, dd_score) — influence-maximization seed
    selection by DegreeDiscount (Chen, Wang & Yang, KDD'09): k seeds
    picked greedily by the discounted-degree heuristic for the
    independent-cascade model with propagation probability ``p``:

        dd(v) = d_v − 2·t_v − (d_v − t_v)·t_v·p

    where t_v counts already-chosen seeds among v's neighbors.  The
    near-optimal-at-a-millionth-of-the-cost alternative to greedy
    simulation — what a pipeline uses to pick "which k actors seed the
    broadcast" or "which k docs maximize influence coverage".

    Deterministic: ties on dd break to the smaller id; dd is a PER-ROW
    closed-form over exact ints (d, t) and the literal p — identical
    IEEE arithmetic in both engines, no cross-row float accumulation —
    rounded to 6 dp for the gate.

    Scale shape: state is one (id, d, t) vector; each of the k rounds
    is a 1-row TakeOrdered argmax (the only driver round-trip) plus a
    semi-join t-increment on the seed's neighbor set — k scans total,
    nothing quadratic, hubs are just big neighbor filters.  k is small
    by problem definition (you seed tens, not millions).
    """
    deg = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .groupBy(F.col("src").alias("id"))
        .agg(F.count("*").cast("long").alias("d"))
    )
    nbrs = edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    state = materialize(deg.select("id", "d", F.lit(0).cast("long").alias("t")))
    dd = F.round(
        F.col("d")
        - 2.0 * F.col("t")
        - (F.col("d") - F.col("t")) * F.col("t") * F.lit(p),
        6,
    )
    picked: list[tuple[int, int, float]] = []
    chosen: set = set()
    for rank in range(k):
        top = (
            state.filter(~F.col("id").isin(list(chosen)) if chosen else F.lit(True))
            .select("id", dd.alias("dd"))
            .orderBy(F.desc("dd"), F.asc("id"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        sid, sdd = top[0].id, top[0].dd
        picked.append((rank, sid, float(sdd)))
        chosen.add(sid)
        seed_nbrs = nbrs.filter(F.col("src") == sid).select(F.col("dst").alias("id"))
        nxt = materialize(
            state.join(seed_nbrs, "id", "left_semi")
            .select("id", "d", (F.col("t") + 1).alias("t"))
            .unionByName(state.join(seed_nbrs, "id", "left_anti"))
        )
        state.unpersist()
        state = nxt
    state.unpersist()
    return edges.sparkSession.createDataFrame(
        picked, "seed_rank int, id long, dd_score double"
    )


def influence_seeds_sql(k: int = 5, p: float = 0.05) -> str:
    """DuckDB twin over the `edges` CTE — the greedy loop unrolled."""
    parts = [
        """inf_n AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
inf_s0 AS (SELECT src AS id, COUNT(*)::BIGINT AS d, 0::BIGINT AS t
           FROM inf_n GROUP BY src)"""
    ]
    for i in range(k):
        prev = f"inf_s{i}"
        excl = (
            " WHERE id NOT IN (SELECT id FROM inf_picked{})".format(i) if i else ""
        )
        parts.append(
            f"""inf_best{i} AS (
    SELECT id, ROUND(CAST(d AS DOUBLE) - 2.0 * t - (d - t) * t * CAST({p} AS DOUBLE), 6) AS dd
    FROM {prev}{excl}
    ORDER BY dd DESC, id ASC LIMIT 1
)"""
        )
        parts.append(
            f"""inf_picked{i + 1} AS (
    {"SELECT id FROM inf_best0" if i == 0 else f"SELECT id FROM inf_picked{i} UNION ALL SELECT id FROM inf_best{i}"}
)"""
        )
        parts.append(
            f"""inf_s{i + 1} AS (
    SELECT s.id, s.d,
           s.t + (CASE WHEN EXISTS (
               SELECT 1 FROM inf_n n JOIN inf_best{i} b
               ON n.src = b.id AND n.dst = s.id
           ) THEN 1 ELSE 0 END)::BIGINT AS t
    FROM {prev} s
)"""
        )
    tail = "\nUNION ALL\n".join(
        f"SELECT {i}::INT AS seed_rank, id, dd AS dd_score FROM inf_best{i}"
        for i in range(k)
    )
    return ",\n".join(parts) + "\n" + tail


def threshold_cascade(
    edges: DataFrame,
    seeds: DataFrame,
    theta_permille: int = 300,
    rounds: int | None = None,
    max_iterations: int = 30,
) -> DataFrame:
    """(id, round_activated) — deterministic linear-threshold cascade
    (Granovetter thresholds / Kempe-Kleinberg-Tardos ICM sibling): the
    seed set activates at round 0; thereafter a vertex activates in the
    first round where at least ``theta_permille``/1000 of its distinct
    neighbors are active.  The evaluation loop for influence_seeds —
    "how far does this seed set actually reach, and how fast" — and the
    standard diffusion model for rumor/adoption spread over the actor
    graph.

    EXACT integer activation test (1000·active_nbrs ≥ θ‰·deg): no
    float ever enters the decision, so the unrolled DuckDB twin is
    hash-identical round for round.  rounds=None runs to the fixpoint
    (cascade dies out); rounds=R unrolls exactly R rounds (gate mode).

    Scale shape: the neighbor table is static (partitioned once); each
    round is one semi-join of it against the newly-active frontier +
    one dst-keyed count + one anti-join — frontier-proportional work,
    the SSSP/BFS discipline, nothing rescans the inactive majority.
    """
    nbrs = (
        edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    )
    deg = nbrs.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").cast("long").alias("deg")
    )
    active = materialize(
        seeds.select("id").distinct().select("id", F.lit(0).alias("round_activated"))
    )
    for i in range(1, (rounds if rounds is not None else max_iterations) + 1):
        cnt = (
            nbrs.join(
                active.select(F.col("id").alias("src")).hint("SHUFFLE_HASH"), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.count("*").cast("long").alias("act"))
        )
        newly = (
            cnt.join(deg, "id")
            .filter(F.lit(1000) * F.col("act") >= F.lit(theta_permille) * F.col("deg"))
            .join(active.select("id"), "id", "left_anti")
            .select("id", F.lit(i).alias("round_activated"))
        )
        nxt = materialize(active.unionByName(newly))
        n_new = nxt.count() - active.count()
        active.unpersist()
        active = nxt
        if rounds is None and n_new == 0:
            break
    return active.select("id", F.col("round_activated").cast("int").alias("round_activated"))


def threshold_cascade_sql(
    theta_permille: int = 300, rounds: int = 4, n_seeds: int = 5
) -> str:
    """DuckDB twin over the `edges` CTE with top-degree seeds (deg desc,
    id asc, LIMIT ``n_seeds``) — the gate wrapper's seed rule."""
    parts = [
        "tc_n AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)",
        "tc_deg AS (SELECT dst AS id, COUNT(*)::BIGINT AS deg FROM tc_n GROUP BY dst)",
        f"""tc_a0 AS (
    SELECT id, 0 AS round_activated
    FROM (SELECT src AS id, COUNT(*) AS d FROM tc_n GROUP BY src
          ORDER BY d DESC, id ASC LIMIT {n_seeds})
)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""tc_a{i} AS (
    SELECT id, round_activated FROM tc_a{i - 1}
    UNION ALL
    SELECT c.id, {i} AS round_activated
    FROM (SELECT n.dst AS id, COUNT(*)::BIGINT AS act
          FROM tc_n n JOIN tc_a{i - 1} a ON n.src = a.id
          GROUP BY n.dst) c
    JOIN tc_deg d ON c.id = d.id
    WHERE 1000 * c.act >= {theta_permille} * d.deg
      AND c.id NOT IN (SELECT id FROM tc_a{i - 1})
)"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT id, round_activated::INT AS round_activated FROM tc_a{rounds}"
    )


def degree_knn_curve(edges: DataFrame) -> DataFrame:
    """(k, n_vertices, knn_k) — Pastor-Satorras average-nearest-neighbor-
    degree curve: for each degree class k, the mean over degree-k
    vertices of their mean neighbor degree.  THE standard readout for
    degree mixing structure (a falling curve = disassortative hub-leaf
    wiring, the reply-graph signature; flat = uncorrelated): where
    degree_assortativity compresses mixing to one scalar r, this keeps
    the whole curve, and it is the quantity the skew/salting planners
    actually care about (do hubs neighbor hubs, i.e. will hot keys
    co-occur in a shuffle?).

    Exact-int path: distinct-neighbor degrees from one aggregate; each
    vertex's neighbor-degree SUM from one join + aggregate (map-side
    combinable); the only floats are the final two divisions, applied
    in a fixed order and 6dp-rounded — DuckDB twin below."""
    d = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    deg = d.groupBy(F.col("src").alias("id")).agg(F.count("*").cast("long").alias("deg"))
    nbr_deg = (
        d.join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("nd")), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum("nd").cast("long").alias("snd"))
    )
    per_v = deg.join(nbr_deg, "id").select(
        "deg", (F.col("snd") / F.col("deg")).alias("mean_nd")
    )
    return per_v.groupBy(F.col("deg").alias("k")).agg(
        F.count("*").cast("long").alias("n_vertices"),
        F.round(F.avg("mean_nd"), 6).alias("knn_k"),
    )


def degree_knn_curve_sql() -> str:
    """DuckDB twin over the symmetric `edges` CTE."""
    return """
knn_d AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
knn_deg AS (SELECT src AS id, COUNT(*)::BIGINT AS deg FROM knn_d GROUP BY src),
knn_snd AS (
    SELECT d.src AS id, SUM(g.deg)::BIGINT AS snd
    FROM knn_d d JOIN knn_deg g ON g.id = d.dst
    GROUP BY d.src
)
SELECT g.deg::BIGINT AS k, COUNT(*)::BIGINT AS n_vertices,
       ROUND(AVG(s.snd / CAST(g.deg AS DOUBLE)), 6) AS knn_k
FROM knn_deg g JOIN knn_snd s ON s.id = g.id
GROUP BY g.deg"""


def burt_constraint(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """(id, n_contacts, constraint) — Burt's network constraint (Burt,
    "Structural Holes", 1992): for each vertex i with proportional tie
    strengths p_ij = w_ij / Σ_q w_iq,

        C_i = Σ_{j∈N(i)} ( p_ij + Σ_{q∈N(i)∩N(j)} p_iq · p_qj )²

    Low constraint = the actor brokers between otherwise-disconnected
    contacts (structural holes — the coordinator/router position in a
    reply graph); high constraint = the actor's contacts all talk to
    each other (redundant ego network).  The ego-level complement of
    the edge-level weak-tie view (edge_embeddedness) and the per-vertex
    clustering coefficient.

    Shape: p is one strength aggregate + one join; the indirect term is
    the 2-path join p(i,q)⋈p(q,j) restricted to j∈N(i) by the final
    join with p_ij — the wedge-center cost profile of the triad census,
    and the SAME hub guard applies: ``max_degree`` removes vertices
    above the cap from the computation entirely (their ego networks
    are statistically uninteresting for brokerage and quadratically
    expensive; None = exact everywhere).  Floats: p 9 dp-rounded once;
    each c_ij and the final sum 6 dp-rounded — the DuckDB twin replays
    the same order."""
    d = edges.filter(F.col("src") != F.col("dst")).select("src", "dst", "weight")
    if max_degree is not None:
        hubs = (
            d.groupBy("src").agg(F.count("*").alias("k"))
            .filter(F.col("k") > max_degree)
            .select(F.col("src").alias("id"))
        )
        d = (
            d.join(hubs.select(F.col("id").alias("src")), "src", "left_anti")
            .join(hubs.select(F.col("id").alias("dst")), "dst", "left_anti")
        )
    s = d.groupBy("src").agg(F.sum("weight").alias("s"))
    p = materialize(
        d.join(s, "src")
        .select(
            F.col("src").alias("i"),
            F.col("dst").alias("j"),
            F.round(F.col("weight") / F.col("s"), 9).alias("p"),
        )
    )
    piq = p.select(F.col("i"), F.col("j").alias("q"), F.col("p").alias("piq"))
    pqj = p.select(F.col("i").alias("q"), F.col("j"), F.col("p").alias("pqj"))
    ind = (
        piq.join(pqj, "q")
        .filter(F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg(F.sum(F.col("piq") * F.col("pqj")).alias("ind"))
    )
    cij = p.join(ind, ["i", "j"], "left").select(
        "i",
        F.round(
            (F.col("p") + F.coalesce("ind", F.lit(0.0))) ** 2, 6
        ).alias("c"),
    )

    out = cij.groupBy(F.col("i").alias("id")).agg(
        F.count("*").cast("long").alias("n_contacts"),
        F.round(F.sum("c"), 6).alias("constraint"),
    )
    out = materialize(out)
    unpersist_checkpoint(p)
    return out


def burt_constraint_sql(max_degree: int | None = None) -> str:
    """DuckDB twin over the symmetric `edges` CTE."""
    guard = ""
    if max_degree is not None:
        guard = f"""bc_hub AS (
    SELECT src AS id FROM bc_d0 GROUP BY src HAVING COUNT(*) > {max_degree}
),
bc_d AS MATERIALIZED (
    SELECT d.* FROM bc_d0 d
    WHERE d.src NOT IN (SELECT id FROM bc_hub)
      AND d.dst NOT IN (SELECT id FROM bc_hub)
),"""
    else:
        guard = "bc_d AS MATERIALIZED (SELECT * FROM bc_d0),"
    return f"""bc_d0 AS MATERIALIZED (
    SELECT src, dst, weight FROM edges WHERE src <> dst
),
{guard}
bc_s AS (SELECT src, SUM(weight) AS s FROM bc_d GROUP BY src),
bc_p AS MATERIALIZED (
    SELECT d.src AS i, d.dst AS j, ROUND(d.weight / CAST(t.s AS DOUBLE), 9) AS p
    FROM bc_d d JOIN bc_s t ON t.src = d.src
),
bc_ind AS (
    SELECT a.i, b.j, SUM(a.p * b.p) AS ind
    FROM bc_p a JOIN bc_p b ON b.i = a.j
    WHERE a.i <> b.j
    GROUP BY a.i, b.j
),
bc_c AS (
    SELECT p.i, ROUND(POWER(p.p + COALESCE(x.ind, 0.0), 2), 6) AS c
    FROM bc_p p LEFT JOIN bc_ind x ON x.i = p.i AND x.j = p.j
)
SELECT i AS id, COUNT(*)::BIGINT AS n_contacts, ROUND(SUM(c), 6) AS "constraint"
FROM bc_c GROUP BY i"""
