"""ANSI-SQL oracle generators for the iterative graph algorithms.

The driver's correctness gate compares each Spark query against DuckDB
running plain SQL on the same parquet tables.  Iterative algorithms are
expressible there too:

* fixed-iteration PageRank / LPA  → mechanically UNROLLED CTE chains
  (r0 → r1 → ... → rN), one CTE pair per superstep;
* connected components            → transitive closure via WITH RECURSIVE
  + min-reachable-id aggregation (valid on symmetric edge tables);
* triangle counting               → canonical a<b<c three-way self-join.

All generators assume a CTE named ``edges(src, dst, weight)`` is already
defined (see sources/tpch_graph.lineitem_edges_sql) — SYMMETRIZED,
self-loop-free, so no dangling vertices exist and PageRank's dangling
term is exactly zero.
"""

from __future__ import annotations


def pagerank_unrolled_sql(
    n_iterations: int,
    damping: float = 0.85,
    round_to: int = 8,
    final_cte: str | None = None,
) -> str:
    """Fixed-iteration PageRank over the `edges` CTE; returns (id, rank).

    With ``final_cte`` set, the final SELECT is wrapped as one more CTE of
    that name (no trailing SELECT) so callers can keep composing."""
    parts = [
        "verts AS (SELECT DISTINCT src AS id FROM edges)",
        "nv AS (SELECT COUNT(*)::DOUBLE AS n FROM verts)",
        "outw AS (SELECT src, SUM(weight)::DOUBLE AS out_w FROM edges GROUP BY src)",
        "adj AS (SELECT e.src, e.dst, e.weight / o.out_w AS frac FROM edges e JOIN outw o ON e.src = o.src)",
        "r0 AS (SELECT id, 1.0 / (SELECT n FROM nv) AS rank FROM verts)",
    ]
    for i in range(1, n_iterations + 1):
        parts.append(
            f"""r{i} AS (
    SELECT v.id,
           (1.0 - {damping}) / (SELECT n FROM nv)
             + {damping} * COALESCE(s.c, 0.0) AS rank
    FROM verts v
    LEFT JOIN (
        SELECT a.dst AS id, SUM(a.frac * r.rank) AS c
        FROM adj a JOIN r{i - 1} r ON a.src = r.id
        GROUP BY a.dst
    ) s ON v.id = s.id
)"""
        )
    final = f"SELECT id, ROUND(rank, {round_to}) AS rank FROM r{n_iterations}"
    if final_cte:
        return ",\n".join(parts) + f",\n{final_cte} AS ({final})"
    return ",\n".join(parts) + "\n" + final


def stream_pagerank_unrolled_sql(
    boundaries: list[int],
    iters_per_batch: int,
    damping: float = 0.85,
    round_to: int = 8,
) -> str:
    """Warm-start batched PageRank over a `sedges(src, dst, weight,
    edge_seq)` CTE — mirror of streaming.stream_driver.stream_pagerank
    with EXPLICIT batch boundaries. Per batch: cumulative edge prefix,
    carry-forward init (new vertices 1/n_b, renormalized to sum 1), then
    ``iters_per_batch`` plain power supersteps."""
    parts = []
    prev_final = None
    for b, bound in enumerate(boundaries):
        e, v, nv, a = f"e{b}", f"v{b}", f"nv{b}", f"a{b}"
        parts.append(
            f"{e} AS MATERIALIZED (SELECT src, dst, weight FROM sedges WHERE edge_seq < {bound})"
        )
        parts.append(
            f"{v} AS MATERIALIZED (SELECT src AS id FROM {e} UNION SELECT dst FROM {e})"
        )
        parts.append(f"{nv} AS (SELECT COUNT(*)::DOUBLE AS n FROM {v})")
        parts.append(
            f"""{a} AS MATERIALIZED (
    SELECT e.src, e.dst, e.weight / o.out_w AS frac
    FROM {e} e JOIN (SELECT src, SUM(weight)::DOUBLE AS out_w FROM {e} GROUP BY src) o
      ON e.src = o.src
)"""
        )
        if prev_final is None:
            parts.append(
                f"b{b}r0 AS (SELECT id, 1.0 / (SELECT n FROM {nv}) AS rank FROM {v})"
            )
        else:
            parts.append(
                f"""b{b}raw AS MATERIALIZED (
    SELECT v.id, COALESCE(p.rank, 1.0 / (SELECT n FROM {nv})) AS rank
    FROM {v} v LEFT JOIN {prev_final} p ON v.id = p.id
)"""
            )
            parts.append(
                f"b{b}r0 AS (SELECT id, rank / (SELECT SUM(rank) FROM b{b}raw) AS rank FROM b{b}raw)"
            )
        for i in range(1, iters_per_batch + 1):
            parts.append(
                f"""b{b}r{i} AS MATERIALIZED (
    SELECT v.id,
           (1.0 - {damping}) / (SELECT n FROM {nv})
             + {damping} * COALESCE(s.c, 0.0) AS rank
    FROM {v} v
    LEFT JOIN (
        SELECT a.dst AS id, SUM(a.frac * r.rank) AS c
        FROM {a} a JOIN b{b}r{i - 1} r ON a.src = r.id
        GROUP BY a.dst
    ) s ON v.id = s.id
)"""
            )
        prev_final = f"b{b}r{iters_per_batch}"
    return (
        ",\n".join(parts)
        + f"\nSELECT id, ROUND(rank, {round_to}) AS rank FROM {prev_final}"
    )


def lpa_unrolled_sql(n_iterations: int) -> str:
    """Fixed-iteration synchronous LPA (plain variant, min-label tie-break)
    over the `edges` CTE; labels init to vertex id; returns (id, label)."""
    parts = [
        "verts AS (SELECT DISTINCT src AS id FROM edges)",
        "l0 AS (SELECT id, id AS label FROM verts)",
    ]
    for i in range(1, n_iterations + 1):
        parts.append(
            f"""s{i} AS (
    SELECT e.src, l.label, SUM(e.weight) AS score
    FROM edges e JOIN l{i - 1} l ON e.dst = l.id
    GROUP BY e.src, l.label
),
l{i} AS (
    SELECT v.id, COALESCE(b.label, p.label) AS label
    FROM verts v
    JOIN l{i - 1} p ON v.id = p.id
    LEFT JOIN (
        SELECT src AS id, label FROM (
            SELECT src, label,
                   ROW_NUMBER() OVER (PARTITION BY src ORDER BY score DESC, label ASC) AS rn
            FROM s{i}
        ) WHERE rn = 1
    ) b ON v.id = b.id
)"""
        )
    return ",\n".join(parts) + f"\nSELECT id, label FROM l{n_iterations}"


def seeded_lpa_unrolled_sql(n_iterations: int, seed_mod: int = 100) -> str:
    """Fixed-iteration seed-expansion LPA over the `edges` CTE: vertices
    with id % seed_mod = 0 are frozen seeds labeled id // seed_mod;
    others adopt the weighted argmax over LABELED neighbors (min-label
    tie-break) or stay null until reached.  Mirrors
    operators/label_propagation.seeded_label_propagation."""
    parts = [
        "verts AS (SELECT DISTINCT src AS id FROM edges)",
        f"""seeds AS (
    SELECT id, id // {seed_mod} AS label FROM verts WHERE id % {seed_mod} = 0
)""",
        """l0 AS (
    SELECT v.id, s.label, s.label IS NOT NULL AS is_seed
    FROM verts v LEFT JOIN seeds s USING (id)
)""",
    ]
    for i in range(1, n_iterations + 1):
        parts.append(
            f"""s{i} AS (
    SELECT e.src, l.label, SUM(e.weight) AS score
    FROM edges e JOIN l{i - 1} l ON e.dst = l.id
    WHERE l.label IS NOT NULL
    GROUP BY e.src, l.label
),
l{i} AS (
    SELECT p.id,
           CASE WHEN p.is_seed THEN p.label ELSE COALESCE(b.label, p.label) END AS label,
           p.is_seed
    FROM l{i - 1} p
    LEFT JOIN (
        SELECT src AS id, label FROM (
            SELECT src, label,
                   ROW_NUMBER() OVER (PARTITION BY src ORDER BY score DESC, label ASC) AS rn
            FROM s{i}
        ) WHERE rn = 1
    ) b ON p.id = b.id
)"""
        )
    return ",\n".join(parts) + f"\nSELECT id, label FROM l{n_iterations}"


def components_recursive_sql() -> str:
    """Exact components on the symmetric `edges` CTE: component = min
    reachable id, via recursive transitive closure (small-scale oracle
    only — the engine's large-star/small-star is the scale path)."""
    return """verts AS (SELECT DISTINCT src AS id FROM edges),
reach(u, v) AS (
    SELECT id, id FROM verts
    UNION
    SELECT r.u, e.dst FROM reach r JOIN edges e ON r.v = e.src
)
SELECT u AS id, MIN(v) AS component FROM reach GROUP BY u"""


def triangle_count_sql() -> str:
    """Global triangle count via canonical a<b<c ordering."""
    return """pairs AS (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM edges WHERE src <> dst
)
SELECT COUNT(*)::BIGINT AS triangles
FROM pairs p1
JOIN pairs p2 ON p1.b = p2.a
JOIN pairs p3 ON p3.a = p1.a AND p3.b = p2.b"""


def triangle_per_vertex_sql() -> str:
    """(id, tri_count) per vertex, 0 included."""
    return """pairs AS (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM edges WHERE src <> dst
),
tri AS (
    SELECT p1.a AS x, p1.b AS y, p2.b AS z
    FROM pairs p1
    JOIN pairs p2 ON p1.b = p2.a
    JOIN pairs p3 ON p3.a = p1.a AND p3.b = p2.b
),
verts AS (SELECT DISTINCT src AS id FROM edges),
cnt AS (
    SELECT id, COUNT(*)::BIGINT AS c FROM (
        SELECT x AS id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ) GROUP BY id
)
SELECT v.id, COALESCE(cnt.c, 0)::BIGINT AS tri_count
FROM verts v LEFT JOIN cnt ON v.id = cnt.id"""


def local_clustering_sql(round_to: int = 8) -> str:
    """(id, lcc) — 2·tri/(d·(d−1)) over distinct neighbors, 0 for d<2."""
    return """pairs AS (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM edges WHERE src <> dst
),
tri AS (
    SELECT p1.a AS x, p1.b AS y, p2.b AS z
    FROM pairs p1
    JOIN pairs p2 ON p1.b = p2.a
    JOIN pairs p3 ON p3.a = p1.a AND p3.b = p2.b
),
verts AS (SELECT DISTINCT src AS id FROM edges),
cnt AS (
    SELECT id, COUNT(*)::BIGINT AS c FROM (
        SELECT x AS id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ) GROUP BY id
),
deg AS (
    SELECT src AS id, COUNT(*)::BIGINT AS d
    FROM (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)
    GROUP BY src
)
SELECT v.id,
       CASE WHEN COALESCE(deg.d, 0) >= 2
            THEN ROUND(2.0 * COALESCE(cnt.c, 0) / (deg.d * (deg.d - 1)), {rt})
            ELSE 0.0 END AS lcc
FROM verts v
LEFT JOIN cnt ON v.id = cnt.id
LEFT JOIN deg ON v.id = deg.id""".replace("{rt}", str(round_to))


def labels_pair_cte_sql(n_pred: int, n_truth: int) -> str:
    """pred/truth partitions (id % n) over the `edges` CTE's vertex set."""
    return f"""verts AS (SELECT DISTINCT src AS id FROM edges),
pred AS (SELECT id, id % {n_pred} AS label FROM verts),
truth AS (SELECT id, id % {n_truth} AS label FROM verts)"""


def contingency_sql(n_pred: int, n_truth: int) -> str:
    """J6 contingency (t_label, p_label, cnt)."""
    return (
        labels_pair_cte_sql(n_pred, n_truth)
        + """
SELECT t.label AS t_label, p.label AS p_label, COUNT(*) AS cnt
FROM truth t JOIN pred p ON t.id = p.id
GROUP BY 1, 2"""
    )


def pairwise_f1_sql(n_pred: int, n_truth: int) -> str:
    """Q3: f1 = 2·TP/(same_pred+same_truth) from contingency counts."""
    return (
        labels_pair_cte_sql(n_pred, n_truth)
        + """,
ct AS (
    SELECT t.label AS t_label, p.label AS p_label, COUNT(*) AS cnt
    FROM truth t JOIN pred p ON t.id = p.id GROUP BY 1, 2
),
tp AS (SELECT SUM(cnt * (cnt - 1) / 2.0) AS tp FROM ct),
sp AS (SELECT SUM(a * (a - 1) / 2.0) AS same_pred
       FROM (SELECT SUM(cnt) AS a FROM ct GROUP BY p_label)),
st AS (SELECT SUM(b * (b - 1) / 2.0) AS same_truth
       FROM (SELECT SUM(cnt) AS b FROM ct GROUP BY t_label))
SELECT ROUND(CASE WHEN same_pred + same_truth > 0
             THEN 2 * tp / (same_pred + same_truth) ELSE 0.0 END, 8) AS f1
FROM tp, sp, st"""
    )


def nmi_sql(n_pred: int, n_truth: int) -> str:
    """Normalized mutual information between the derived pred/truth
    partitions (mirror of functions/metrics.nmi_df, same association
    order term by term)."""
    return (
        labels_pair_cte_sql(n_pred, n_truth)
        + """,
ct AS (
    SELECT t.label AS t_label, p.label AS p_label, COUNT(*) AS cnt
    FROM truth t JOIN pred p ON t.id = p.id GROUP BY 1, 2
),
nn AS (SELECT SUM(cnt)::DOUBLE AS n FROM ct),
pa AS (SELECT p_label, SUM(cnt) AS a FROM ct GROUP BY p_label),
tb AS (SELECT t_label, SUM(cnt) AS b FROM ct GROUP BY t_label),
mi AS (
    SELECT SUM((ct.cnt / nn.n) * LN((ct.cnt * nn.n) / (pa.a * tb.b))) AS mi
    FROM ct JOIN pa ON ct.p_label = pa.p_label
            JOIN tb ON ct.t_label = tb.t_label, nn
),
hp AS (SELECT -SUM((a / nn.n) * LN(a / nn.n)) AS hp FROM pa, nn),
ht AS (SELECT -SUM((b / nn.n) * LN(b / nn.n)) AS ht FROM tb, nn)
SELECT ROUND(CASE WHEN hp + ht > 0 THEN 2 * mi / (hp + ht) ELSE 0.0 END, 8) AS nmi
FROM mi, hp, ht"""
    )


def _greedy_match_ctes(n_pred: int, n_truth: int, jaccard: bool) -> str:
    """Unrolled greedy max-score matching over the FULL truth×pred label
    cross product (unobserved pairs score 0, exactly like the Python
    loop's inter.get((t,p), 0)), min(n_truth, n_pred) picks.  Tie-break
    mirrors metrics._greedy_match's iteration order (strict > update
    over p-sorted-outer / t-sorted-inner): score DESC, p ASC, t ASC.
    Each pick CTE is MATERIALIZED — the chain references each level
    twice (anti-filter + union), which plain inlining would make
    exponential."""
    score = (
        "CAST(i AS DOUBLE) / (ts + ps - i)" if jaccard else "CAST(i AS DOUBLE)"
    )
    steps = min(n_pred, n_truth)
    parts = [
        labels_pair_cte_sql(n_pred, n_truth),
        f"""ct AS (
    SELECT t.label AS t_label, p.label AS p_label, COUNT(*) AS cnt
    FROM truth t JOIN pred p ON t.id = p.id GROUP BY 1, 2
),
nn AS (SELECT COUNT(*)::DOUBLE AS n FROM verts),
tsz AS (SELECT t_label, SUM(cnt) AS ts FROM ct GROUP BY t_label),
psz AS (SELECT p_label, SUM(cnt) AS ps FROM ct GROUP BY p_label),
allp AS MATERIALIZED (
    SELECT tsz.t_label, psz.p_label, tsz.ts, psz.ps,
           COALESCE(ct.cnt, 0) AS i
    FROM tsz CROSS JOIN psz
    LEFT JOIN ct ON ct.t_label = tsz.t_label AND ct.p_label = psz.p_label
),
scored AS MATERIALIZED (
    SELECT t_label, p_label, ps, {score} AS s FROM allp
),
m1 AS MATERIALIZED (
    SELECT t_label, p_label, ps, s FROM scored
    ORDER BY s DESC, p_label ASC, t_label ASC LIMIT 1
)""",
    ]
    for i in range(2, steps + 1):
        parts.append(
            f"""m{i} AS MATERIALIZED (
    SELECT * FROM m{i - 1}
    UNION ALL
    (SELECT c.t_label, c.p_label, c.ps, c.s FROM scored c
     WHERE c.t_label NOT IN (SELECT t_label FROM m{i - 1})
       AND c.p_label NOT IN (SELECT p_label FROM m{i - 1})
     ORDER BY c.s DESC, c.p_label ASC, c.t_label ASC LIMIT 1)
)"""
        )
    return ",\n".join(parts) + f",\nmatched AS (SELECT * FROM m{steps})"


def node_overlap_accuracy_sql(n_pred: int, n_truth: int) -> str:
    """Q6: greedy max-intersection matching; Σ matched common / n."""
    return (
        _greedy_match_ctes(n_pred, n_truth, jaccard=False)
        + """
SELECT ROUND(SUM(s) / (SELECT n FROM nn), 6) AS node_overlap FROM matched"""
    )


def symmetric_difference_sql(n_pred: int, n_truth: int) -> str:
    """Q2: Σ_matched (|p| − common) + Σ_unmatched-p |p|, / n  (= 1 −
    node_overlap algebraically; computed in the reference's own terms)."""
    return (
        _greedy_match_ctes(n_pred, n_truth, jaccard=False)
        + """
SELECT ROUND((
    (SELECT SUM(ps - s) FROM matched)
    + COALESCE((SELECT SUM(ps) FROM psz
                WHERE p_label NOT IN (SELECT p_label FROM matched)), 0)
) / (SELECT n FROM nn), 6) AS symmetric_difference"""
    )


def max_jaccard_sum_sql(n_pred: int, n_truth: int) -> str:
    """Q7: greedy max-Jaccard matching, mean over max(k_t, k_p) pairs."""
    denom = max(n_pred, n_truth)
    return (
        _greedy_match_ctes(n_pred, n_truth, jaccard=True)
        + f"""
SELECT ROUND(SUM(s) / {denom}, 6) AS max_jaccard FROM matched"""
    )


def maximal_matching_accuracy_sql(n_pred: int, n_truth: int) -> str:
    """Q9: OPTIMAL assignment value on the truth×pred intersection
    matrix, / n — the Hungarian result reproduced as an unrolled
    assignment-problem DP over pred-label subsets (f_i(S) = best value
    assigning the first i truth labels to distinct pred labels in
    bitmask S): level i joins f_{i-1} with the score row of truth label
    i and folds MAX per new mask. State ≤ 2^k_p rows per level —
    driver-trivial for any real community count, exact optimum (no
    greedy)."""
    steps = min(n_pred, n_truth)
    # truth labels processed in sorted order 0..steps-1 (id % n covers all)
    parts = [
        labels_pair_cte_sql(n_pred, n_truth),
        """ct AS (
    SELECT t.label AS t_label, p.label AS p_label, COUNT(*) AS cnt
    FROM truth t JOIN pred p ON t.id = p.id GROUP BY 1, 2
),
nn AS (SELECT COUNT(*)::DOUBLE AS n FROM verts),
cols AS MATERIALIZED (SELECT DISTINCT p_label FROM ct),
f0 AS (SELECT 0::BIGINT AS mask, 0.0 AS v)""",
    ]
    for i in range(1, steps + 1):
        t = i - 1
        parts.append(
            f"""f{i} AS MATERIALIZED (
    SELECT f.mask | (1::BIGINT << c.p_label) AS mask,
           MAX(f.v + COALESCE(ct.cnt, 0)) AS v
    FROM f{i - 1} f
    JOIN cols c ON (f.mask & (1::BIGINT << c.p_label)) = 0
    LEFT JOIN ct ON ct.t_label = {t} AND ct.p_label = c.p_label
    GROUP BY 1
)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT ROUND(MAX(v) / (SELECT n FROM nn), 6) AS matching_accuracy FROM f{steps}"""
    )


def sbm_block_matrix_sql(n_labels: int) -> str:
    """k×k SBM connectivity-matrix MLE (mirror of metrics.sbm_block_matrix):
    (r_label, s_label, block_edges, block_pairs, p_hat) for r <= s over the
    symmetrized unweighted `edges` CTE with derived labels id % n."""
    return f"""labels AS (SELECT DISTINCT src AS id, src % {n_labels} AS label FROM edges),
el AS (
    SELECT ls.label AS sl, ld.label AS dl
    FROM edges e JOIN labels ls ON e.src = ls.id JOIN labels ld ON e.dst = ld.id
),
obs AS (
    SELECT sl AS r_label, dl AS s_label,
           CAST(SUM(CASE WHEN sl = dl THEN 0.5 ELSE 1.0 END) AS BIGINT) AS block_edges
    FROM el WHERE sl <= dl GROUP BY 1, 2
),
sizes AS (SELECT label, COUNT(*) AS c FROM labels GROUP BY label),
bpairs AS (
    SELECT a.label AS r_label, b.label AS s_label,
           CAST(CASE WHEN a.label = b.label THEN a.c * (a.c - 1) / 2
                ELSE a.c * b.c END AS BIGINT) AS block_pairs
    FROM sizes a, sizes b WHERE a.label <= b.label
)
SELECT p.r_label, p.s_label,
       COALESCE(o.block_edges, 0)::BIGINT AS block_edges,
       p.block_pairs,
       CASE WHEN p.block_pairs > 0
            THEN ROUND(COALESCE(o.block_edges, 0) / CAST(p.block_pairs AS DOUBLE), 8)
            ELSE 0.0 END AS p_hat
FROM bpairs p LEFT JOIN obs o ON p.r_label = o.r_label AND p.s_label = o.s_label"""


def embeddedness_sql(n_labels: int) -> str:
    """Q5: Σ_v intra-neighbor-entries / total-neighbor-entries."""
    return f"""labels AS (SELECT DISTINCT src AS id, src % {n_labels} AS label FROM edges),
el AS (
    SELECT e.src, ls.label AS sl, ld.label AS dl
    FROM edges e JOIN labels ls ON e.src = ls.id JOIN labels ld ON e.dst = ld.id
),
per AS (
    SELECT src, SUM(CASE WHEN sl = dl THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE) AS emb
    FROM el GROUP BY src
)
SELECT ROUND(SUM(emb), 6) AS embeddedness FROM per"""


def edge_cls_acc_sql(n_pred: int, n_truth: int) -> str:
    """Q8: weighted fraction of edge entries with agreeing intra/inter status."""
    return (
        labels_pair_cte_sql(n_pred, n_truth)
        + """,
el AS (
    SELECT e.weight,
           (ps.label = pd.label) AS p_same, (ts.label = td.label) AS t_same
    FROM edges e
    JOIN pred ps ON e.src = ps.id JOIN pred pd ON e.dst = pd.id
    JOIN truth ts ON e.src = ts.id JOIN truth td ON e.dst = td.id
)
SELECT ROUND(SUM(CASE WHEN p_same = t_same THEN weight ELSE 0 END)
             / CAST(SUM(weight) AS DOUBLE), 8) AS edge_cls_acc
FROM el"""
    )


def log_likelihood_sql(n_labels: int) -> str:
    """Q4: SBM Bernoulli MLE plug-in log-likelihood."""
    return f"""labels AS (SELECT DISTINCT src AS id, src % {n_labels} AS label FROM edges),
el AS (
    SELECT ls.label AS sl, ld.label AS dl
    FROM edges e JOIN labels ls ON e.src = ls.id JOIN labels ld ON e.dst = ld.id
),
ec AS (
    SELECT SUM(CASE WHEN sl = dl THEN 1 ELSE 0 END) / 2.0 AS intra_e,
           SUM(CASE WHEN sl <> dl THEN 1 ELSE 0 END) / 2.0 AS inter_e
    FROM el
),
pr AS (
    SELECT SUM(c * (c - 1) / 2.0) AS intra_pairs,
           SUM(c) * (SUM(c) - 1) / 2.0 - SUM(c * (c - 1) / 2.0) AS inter_pairs
    FROM (SELECT COUNT(*) AS c FROM labels GROUP BY label)
)
SELECT ROUND(
    (CASE WHEN intra_pairs <= 0 OR intra_e <= 0 THEN 0.0
          WHEN intra_e >= intra_pairs THEN intra_e * ln(intra_e / intra_pairs)
          ELSE intra_e * ln(intra_e / intra_pairs)
               + (intra_pairs - intra_e) * ln(1.0 - intra_e / intra_pairs) END)
  + (CASE WHEN inter_pairs <= 0 OR inter_e <= 0 THEN 0.0
          WHEN inter_e >= inter_pairs THEN inter_e * ln(inter_e / inter_pairs)
          ELSE inter_e * ln(inter_e / inter_pairs)
               + (inter_pairs - inter_e) * ln(1.0 - inter_e / inter_pairs) END), 6)
  AS log_likelihood
FROM ec, pr"""


def community_stats_sql(n_labels: int) -> str:
    """A4/A6 bookkeeping: (label, e_in, e_out, size)."""
    return f"""labels AS (SELECT DISTINCT src AS id, src % {n_labels} AS label FROM edges),
el AS (
    SELECT e.weight, ls.label AS sl, ld.label AS dl
    FROM edges e JOIN labels ls ON e.src = ls.id JOIN labels ld ON e.dst = ld.id
),
stats AS (
    SELECT sl AS label,
           SUM(CASE WHEN sl = dl THEN weight ELSE 0 END) / 2.0 AS e_in,
           CAST(SUM(CASE WHEN sl <> dl THEN weight ELSE 0 END) AS DOUBLE) AS e_out
    FROM el GROUP BY sl
),
sizes AS (SELECT label, COUNT(*) AS size FROM labels GROUP BY label)
SELECT s.label, COALESCE(st.e_in, 0.0) AS e_in, COALESCE(st.e_out, 0.0) AS e_out, s.size
FROM sizes s LEFT JOIN stats st ON s.label = st.label"""


def coarsen_sql(n_labels: int) -> str:
    """C1 Louvain coarsening: super-graph grouped by (src_label, dst_label)."""
    return f"""labels AS (SELECT DISTINCT src AS id, src % {n_labels} AS label FROM edges)
SELECT ls.label AS src, ld.label AS dst, SUM(e.weight)::BIGINT AS weight
FROM edges e JOIN labels ls ON e.src = ls.id JOIN labels ld ON e.dst = ld.id
GROUP BY 1, 2"""


def canonical_relabel_sql(n_labels: int) -> str:
    """C4: dense labels 0..k-1 ordered by each community's min member id."""
    return f"""labels AS (SELECT DISTINCT src AS id, src % {n_labels} AS label FROM edges),
remap AS (
    SELECT label, ROW_NUMBER() OVER (ORDER BY MIN(id), label) - 1 AS new_label
    FROM labels GROUP BY label
)
SELECT l.id, CAST(r.new_label AS BIGINT) AS label
FROM labels l JOIN remap r ON l.label = r.label"""


def edge_removal_sql() -> str:
    """G5: anti-join removal of a deterministic undirected edge subset."""
    return """rem AS (
    SELECT src, dst FROM edges WHERE (src * 31 + dst) % 13 = 0
    UNION
    SELECT dst AS src, src AS dst FROM edges WHERE (src * 31 + dst) % 13 = 0
)
SELECT e.src, e.dst, e.weight
FROM edges e ANTI JOIN rem r ON e.src = r.src AND e.dst = r.dst"""


def node_removal_sql() -> str:
    """G8: drop vertices id%97=0 and all incident edges."""
    return """gone AS (SELECT DISTINCT src AS id FROM edges WHERE src % 97 = 0)
SELECT e.src, e.dst, e.weight
FROM edges e
ANTI JOIN gone gs ON e.src = gs.id
ANTI JOIN gone gd ON e.dst = gd.id"""


def edge_lookup_sql() -> str:
    """G6 batch point lookup: all (src,dst) probes with src<5, 0 if absent."""
    return """probes AS (
    SELECT s.id AS src, d.id AS dst
    FROM (SELECT DISTINCT src AS id FROM edges WHERE src < 5) s,
         (SELECT DISTINCT src AS id FROM edges WHERE src < 20) d
)
SELECT p.src, p.dst, COALESCE(e.weight, 0) AS weight
FROM probes p LEFT JOIN edges e ON p.src = e.src AND p.dst = e.dst"""


def modularity_sql(n_labels: int) -> str:
    """Modularity of the label=id%n_labels partition (A4 community form,
    utils/utilities.cpp:25-78): Q = Σ_c [e_in2_c/2m − (deg_c/2m)²]."""
    return f"""labels AS (SELECT DISTINCT src AS id, src % {n_labels} AS label FROM edges),
el AS (
    SELECT e.weight, ls.label AS sl, ld.label AS dl
    FROM edges e
    JOIN labels ls ON e.src = ls.id
    JOIN labels ld ON e.dst = ld.id
),
tot AS (SELECT SUM(weight)::DOUBLE AS two_m FROM edges),
per AS (
    SELECT sl AS label,
           SUM(CASE WHEN sl = dl THEN weight ELSE 0 END)::DOUBLE AS e_in2,
           SUM(weight)::DOUBLE AS deg
    FROM el GROUP BY sl
)
SELECT ROUND(SUM(e_in2 / t.two_m - (deg / t.two_m) * (deg / t.two_m)), 8) AS modularity
FROM per, tot t"""


def modularity_density_sql(
    n_labels: int, use_split_penalty: bool = True, use_density: bool = True
) -> str:
    """A5 newmansModularity_ (utils/utilities.cpp:80-141) with density
    weighting + split penalty, on the label=id%n_labels partition."""
    d_ci_cj = "(w / (n_src * n_dst))" if use_density else "1.0"
    penalty = (
        f"SUM(CASE WHEN sl <> dl THEN w * {d_ci_cj} ELSE 0 END) / (2.0 * ANY_VALUE(m))"
        if use_split_penalty
        else "0.0"
    )
    d_ci = (
        "CASE WHEN n_ci <= 1 THEN 0.0 ELSE 2.0 * e_in / (n_ci * (n_ci - 1)) END"
        if use_density
        else "1.0"
    )
    return f"""labels AS (SELECT DISTINCT src AS id, src % {n_labels} AS label FROM edges),
el AS (
    SELECT e.weight, ls.label AS sl, ld.label AS dl
    FROM edges e JOIN labels ls ON e.src = ls.id JOIN labels ld ON e.dst = ld.id
),
pair AS (
    SELECT sl, dl,
           CASE WHEN sl = dl THEN SUM(weight) / 2.0 ELSE SUM(weight)::DOUBLE END AS w
    FROM el GROUP BY sl, dl
),
sizes AS (SELECT label, COUNT(*)::DOUBLE AS n FROM labels GROUP BY label),
mm AS (SELECT SUM(weight) / 2.0 AS m FROM edges),
wsz AS (
    SELECT p.sl, p.dl, p.w, ss.n AS n_src, sd.n AS n_dst, mm.m
    FROM pair p JOIN sizes ss ON p.sl = ss.label JOIN sizes sd ON p.dl = sd.label, mm
),
per AS (
    SELECT sl,
           SUM(CASE WHEN sl = dl THEN w ELSE 0 END) AS e_in,
           SUM(CASE WHEN sl <> dl THEN w ELSE 0 END) AS e_out,
           {penalty} AS penalty,
           ANY_VALUE(m) AS m,
           ANY_VALUE(n_src) AS n_ci
    FROM wsz GROUP BY sl
),
scored AS (SELECT *, {d_ci} AS d_ci FROM per)
SELECT ROUND(SUM(e_in * d_ci / m
                 - POWER((2.0 * e_in + e_out) * d_ci / (2.0 * m), 2)
                 - penalty), 8) AS modularity_variant
FROM scored"""


def main_community_sql(n_labels: int) -> str:
    """T3 getMainCommunity (src/approximate_community_detection.cpp:439-461):
    max size, tie-break max priority (0.0 — no heap here) then MIN label."""
    return f"""labels AS (SELECT DISTINCT src AS id, src % {n_labels} AS label FROM edges),
per AS (SELECT label, COUNT(*)::BIGINT AS size, 0.0 AS priority FROM labels GROUP BY label)
SELECT label, size, priority FROM per
ORDER BY size DESC, priority DESC, label ASC LIMIT 1"""


def bp_unrolled_sql(
    n_iterations: int,
    k: int,
    p_in: float,
    p_out: float,
    noise: float,
    n_obs: int,
) -> str:
    """Fixed-iteration synchronous SBM belief propagation over the `edges`
    CTE, unrolled in the EXPLODED scalar representation (src, dst, s, val)
    — the SQL mirror of operators/belief_propagation.py's Arrow kernel.
    Observed side-info labels are the deterministic id % n_obs partition;
    returns (id, label) by per-vertex logit argmax (min-s tie-break)."""
    diff = p_in - p_out
    hi = 1.0 - noise + noise / k
    lo = noise / k
    parts = [
        f"comps AS (SELECT range AS s FROM range({k}))",
        "verts AS (SELECT DISTINCT src AS id FROM edges)",
        f"""prior AS (
    SELECT v.id, c.s,
           CASE WHEN c.s = v.id % {n_obs} THEN {hi!r} ELSE {lo!r} END AS p
    FROM verts v CROSS JOIN comps c
)""",
        f"m0 AS (SELECT e.src, e.dst, c.s, {1.0 / k!r} AS val FROM edges e CROSS JOIN comps c)",
    ]
    for i in range(1, n_iterations + 1):
        parts.append(
            f"""t{i} AS (
    SELECT m.src, m.dst, m.s, e.weight * ln({p_out!r} + {diff!r} * m.val) AS lt
    FROM m{i - 1} m JOIN edges e ON m.src = e.src AND m.dst = e.dst
),
n{i} AS (SELECT dst AS id, s, SUM(lt) AS tot FROM t{i} GROUP BY dst, s),
u{i} AS (
    SELECT e.src, e.dst, p.s, ln(p.p) + n.tot - t.lt AS logit
    FROM edges e
    JOIN prior p ON p.id = e.src
    JOIN n{i} n ON n.id = e.src AND n.s = p.s
    JOIN t{i} t ON t.src = e.dst AND t.dst = e.src AND t.s = p.s
),
m{i} AS (
    SELECT src, dst, s,
           exp(logit - mx) / SUM(exp(logit - mx)) OVER (PARTITION BY src, dst) AS val
    FROM (SELECT *, MAX(logit) OVER (PARTITION BY src, dst) AS mx FROM u{i})
)"""
        )
    T = n_iterations
    parts.append(
        f"""tf AS (
    SELECT m.src, m.dst, m.s, e.weight * ln({p_out!r} + {diff!r} * m.val) AS lt
    FROM m{T} m JOIN edges e ON m.src = e.src AND m.dst = e.dst
),
nf AS (SELECT dst AS id, s, SUM(lt) AS tot FROM tf GROUP BY dst, s),
bf AS (
    SELECT p.id, p.s, ln(p.p) + COALESCE(n.tot, 0.0) AS logit
    FROM prior p LEFT JOIN nf n ON n.id = p.id AND n.s = p.s
),
lab AS (
    -- tolerance argmax (smallest s within 1e-9 of the max) — mirrors the
    -- engine's tie rule so exact structural ties broken by float noise
    -- resolve identically in both engines
    SELECT id, s,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY near_max DESC, s ASC) AS rn
    FROM (
        SELECT *, (logit >= MAX(logit) OVER (PARTITION BY id) - 1e-9) AS near_max
        FROM bf
    )
)"""
    )
    return ",\n".join(parts) + "\nSELECT id, CAST(s AS BIGINT) AS label FROM lab WHERE rn = 1"


def k_core_unrolled_sql(k: int, rounds: int) -> str:
    """Fixed-round synchronous k-core peel over the `edges` CTE —
    (id, degree) of vertices surviving `rounds` peel rounds (equals the
    true k-core once the peel has converged; round-for-round identical
    to operators/kcore.k_core(rounds=R))."""
    parts = [
        "kp AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)",
        "s0 AS (SELECT DISTINCT src AS id FROM kp)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"d{i} AS (SELECT p.src AS id, COUNT(*)::BIGINT AS degree FROM kp p "
            f"JOIN s{i-1} a ON p.src = a.id JOIN s{i-1} b ON p.dst = b.id "
            f"GROUP BY p.src)"
        )
        parts.append(f"s{i} AS (SELECT id, degree FROM d{i} WHERE degree >= {k})")
    return ",\n".join(parts) + f"\nSELECT id, degree FROM s{rounds}"


def hits_unrolled_sql(n_iterations: int, round_to: int = 8) -> str:
    """Fixed-iteration HITS over a DIRECTED `edges` CTE, mirroring
    operators/hits.py exactly: Jacobi simultaneous update, L1 norms of
    iteration i-1 folded into iteration i's multiply, final L1-normalized
    select. Expression association order matches the Spark side
    (((weight * score) / norm), left-assoc) for float-exact parity.
    ``s{i}`` and ``norm{i}`` are MATERIALIZED: each ``s{i}`` reads
    ``s{i-1}`` three times, and an inlined CTE chain grows as 3^i."""
    parts = [
        """verts AS (
    SELECT src AS id FROM edges UNION SELECT dst FROM edges
)""",
        "nv AS (SELECT COUNT(*)::DOUBLE AS n FROM verts)",
        "s0 AS (SELECT id, 1.0 / (SELECT n FROM nv) AS hub, 1.0 / (SELECT n FROM nv) AS auth FROM verts)",
    ]
    for i in range(1, n_iterations + 1):
        parts.append(
            f"norm{i} AS MATERIALIZED (SELECT SUM(hub) AS sh, SUM(auth) AS sa FROM s{i - 1})"
        )
        parts.append(
            f"""s{i} AS MATERIALIZED (
    SELECT v.id,
           COALESCE(h.c, 0.0) AS hub,
           COALESCE(a.c, 0.0) AS auth
    FROM verts v
    LEFT JOIN (
        SELECT e.src AS id, SUM(e.weight * s.auth / (SELECT sa FROM norm{i})) AS c
        FROM edges e JOIN s{i - 1} s ON e.dst = s.id GROUP BY e.src
    ) h ON v.id = h.id
    LEFT JOIN (
        SELECT e.dst AS id, SUM(e.weight * s.hub / (SELECT sh FROM norm{i})) AS c
        FROM edges e JOIN s{i - 1} s ON e.src = s.id GROUP BY e.dst
    ) a ON v.id = a.id
)"""
        )
    parts.append(
        f"normf AS (SELECT SUM(hub) AS sh, SUM(auth) AS sa FROM s{n_iterations})"
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT id,
       ROUND(hub / (SELECT sh FROM normf), {round_to}) AS hub,
       ROUND(auth / (SELECT sa FROM normf), {round_to}) AS auth
FROM s{n_iterations}"""
    )


def ppr_unrolled_sql(
    n_iterations: int, damping: float = 0.85, src_mod: int = 100, round_to: int = 8
) -> str:
    """Fixed-iteration PERSONALIZED PageRank over the `edges` CTE with
    reset set S = {id : id % src_mod = 0}; valid on the symmetric
    (dangling-free) gate graph where the dangling term is exactly 0."""
    parts = _ppr_cte_parts(n_iterations, damping, src_mod)
    return (
        ",\n".join(parts)
        + f"\nSELECT id, ROUND(rank, {round_to}) AS rank FROM r{n_iterations}"
    )


def _ppr_cte_parts(
    n_iterations: int, damping: float = 0.85, src_mod: int = 100
) -> list[str]:
    """The ppr_unrolled_sql chain as reusable CTE parts (final rank table
    ``r{n_iterations}``) so composite readouts (ppr_sweep_cut_sql) replay
    the identical trajectory."""
    parts = [
        "verts AS (SELECT DISTINCT src AS id FROM edges)",
        f"members AS (SELECT id FROM verts WHERE id % {src_mod} = 0)",
        "ns AS (SELECT COUNT(*)::DOUBLE AS s FROM members)",
        "outw AS (SELECT src, SUM(weight)::DOUBLE AS out_w FROM edges GROUP BY src)",
        "adj AS (SELECT e.src, e.dst, e.weight / o.out_w AS frac FROM edges e JOIN outw o ON e.src = o.src)",
        """resets AS (
    SELECT v.id, CASE WHEN m.id IS NOT NULL THEN 1.0 / (SELECT s FROM ns) ELSE 0.0 END AS r
    FROM verts v LEFT JOIN members m ON v.id = m.id
)""",
        "r0 AS (SELECT id, r AS rank FROM resets)",
    ]
    for i in range(1, n_iterations + 1):
        parts.append(
            f"""r{i} AS (
    SELECT v.id,
           (1.0 - {damping}) * rs.r + {damping} * COALESCE(s.c, 0.0) AS rank
    FROM verts v
    JOIN resets rs ON v.id = rs.id
    LEFT JOIN (
        SELECT a.dst AS id, SUM(a.frac * r.rank) AS c
        FROM adj a JOIN r{i - 1} r ON a.src = r.id
        GROUP BY a.dst
    ) s ON v.id = s.id
)"""
        )
    return parts


def ppr_sweep_cut_sql(
    n_iterations: int, damping: float = 0.85, src_mod: int = 100, round_to: int = 8
) -> str:
    """Sweep-cut twin over the identical unrolled PPR trajectory (see
    operators/pagerank.ppr_sweep_cut): rank vertices by ppr/degree,
    take the prefix with minimum conductance.  All cut/volume math is
    exact int64; the conductance division and ppr/deg ordering are the
    only float steps and operate on identical inputs in both engines."""
    parts = _ppr_cte_parts(n_iterations, damping, src_mod)
    parts.append(
        f"""swdeg AS (SELECT src AS id, SUM(weight)::BIGINT AS deg FROM edges GROUP BY src),
swrank AS (
    SELECT d.id, d.deg,
           ROW_NUMBER() OVER (
               ORDER BY ROUND(r.rank, {round_to}) / d.deg DESC, d.id ASC
           )::BIGINT AS rnk
    FROM swdeg d JOIN r{n_iterations} r ON r.id = d.id
)""",
    )
    parts.append(
        """swedge AS (
    SELECT GREATEST(rs.rnk, rd.rnk) AS mr, e.weight
    FROM edges e
    JOIN swrank rs ON rs.id = e.src
    JOIN swrank rd ON rd.id = e.dst
    WHERE e.src <> e.dst
),
swin AS (SELECT mr, SUM(weight)::BIGINT AS w_at FROM swedge GROUP BY mr),
swtot AS (SELECT SUM(deg)::BIGINT AS vol_tot, COUNT(*)::BIGINT AS n FROM swrank),
swpfx AS (
    SELECT r.rnk,
           SUM(r.deg) OVER (ORDER BY r.rnk) AS vol,
           COALESCE(SUM(i.w_at) OVER (ORDER BY r.rnk), 0) AS internal
    FROM swrank r LEFT JOIN swin i ON i.mr = r.rnk
),
swphi AS (
    SELECT p.rnk,
           (p.vol - p.internal)::DOUBLE
           / LEAST(p.vol, t.vol_tot - p.vol) AS phi
    FROM swpfx p, swtot t
    WHERE p.rnk < t.n
),
swbest AS (SELECT rnk AS best_k, phi FROM swphi ORDER BY phi ASC, rnk ASC LIMIT 1)"""
    )
    return (
        ",\n".join(parts)
        + """
SELECT r.id, r.rnk, ROUND(b.phi, 6) AS phi
FROM swrank r, swbest b
WHERE r.rnk <= b.best_k"""
    )


def components_decremental_sql(removed_coin_expr: str) -> str:
    """Exact components after removing edges where the canonical coin
    fires, on the ORIGINAL vertex set (vertices losing all edges stay as
    singletons) — the oracle for decremental_components' scoped repair."""
    return f"""kept AS (
    SELECT src, dst FROM edges WHERE ({removed_coin_expr}) <> 0
),
verts AS (SELECT DISTINCT src AS id FROM edges),
reach(u, v) AS (
    SELECT id, id FROM verts
    UNION
    SELECT r.u, k.dst FROM reach r JOIN kept k ON r.v = k.src
)
SELECT u AS id, MIN(v) AS component FROM reach GROUP BY u"""


def bipartite_check_sql() -> str:
    """Per-component bipartiteness via the double cover (mirror of
    operators/components.bipartite_check) on the symmetric `edges` CTE."""
    return """verts AS (SELECT DISTINCT src AS id FROM edges),
reach(u, v) AS (
    SELECT id, id FROM verts
    UNION
    SELECT r.u, e.dst FROM reach r JOIN edges e ON r.v = e.src
),
ocomp AS (SELECT u AS id, MIN(v) AS component FROM reach GROUP BY u),
cover AS (
    SELECT 2 * src AS src, 2 * dst + 1 AS dst FROM edges WHERE src <> dst
    UNION ALL
    SELECT 2 * src + 1, 2 * dst FROM edges WHERE src <> dst
),
cverts AS (SELECT DISTINCT src AS id FROM cover),
creach(u, v) AS (
    SELECT id, id FROM cverts
    UNION
    SELECT r.u, c.dst FROM creach r JOIN cover c ON r.v = c.src
),
ccomp AS (SELECT u AS id, MIN(v) AS comp FROM creach GROUP BY u)
SELECT o.component, BOOL_AND(c0.comp <> c1.comp) AS is_bipartite
FROM ocomp o
JOIN ccomp c0 ON c0.id = 2 * o.id
JOIN ccomp c1 ON c1.id = 2 * o.id + 1
GROUP BY o.component"""


def stream_triangles_sql(boundaries: list[int], seq_expr: str) -> str:
    """Per-batch cumulative triangle counts over the `edges` CTE:
    full recount per prefix (the incremental Spark fold must equal it
    batch by batch).  ``seq_expr`` is the canonical undirected edge_seq
    SQL expression over columns a/b."""
    parts = [
        f"""sq AS MATERIALIZED (
    SELECT a, b, {seq_expr} AS sq FROM (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst
    )
)"""
    ]
    selects = []
    for k, bound in enumerate(boundaries):
        parts.append(
            f"""p{k} AS MATERIALIZED (SELECT a, b FROM sq WHERE sq < {bound}),
t{k} AS (
    SELECT COUNT(*)::BIGINT AS triangles
    FROM p{k} p1 JOIN p{k} p2 ON p1.b = p2.a
    JOIN p{k} p3 ON p3.a = p1.a AND p3.b = p2.b
)"""
        )
        selects.append(f"SELECT {k} AS batch_id, triangles FROM t{k}")
    return (
        ",\n".join(parts)
        + "\nSELECT batch_id::INT AS batch_id, triangles FROM ("
        + "\nUNION ALL\n".join(selects)
        + ")"
    )


def rwr_multi_seed_sql(
    rounds: int = 3,
    damping: float = 0.85,
    seed_mod: int = 100,
    seed_rem: int = 0,
    eps: float = 1e-6,
    k: int = 5,
) -> str:
    """DuckDB twin of operators/pagerank.rwr_multi_seed over the `edges`
    CTE — unrolled per-seed RWR with the identical per-round 8 dp
    rounding and eps support truncation."""
    parts = [
        "rwr_outw AS (SELECT src, SUM(weight)::DOUBLE AS out_w FROM edges GROUP BY src)",
        """rwr_adj AS MATERIALIZED (
    SELECT e.src, e.dst, e.weight / o.out_w AS frac
    FROM edges e JOIN rwr_outw o ON e.src = o.src
)""",
        f"""rwr_seeds AS (
    SELECT DISTINCT src AS seed FROM edges WHERE src % {seed_mod} = {seed_rem}
)""",
        "rwr_s0 AS (SELECT seed, seed AS id, 1.0 AS rank FROM rwr_seeds)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""rwr_s{i} AS MATERIALIZED (
    SELECT seed, id, rank FROM (
        SELECT COALESCE(c.seed, b.seed) AS seed,
               COALESCE(c.id, b.id) AS id,
               ROUND(COALESCE(c.c, 0.0) + COALESCE(b.base, 0.0), 8) AS rank
        FROM (
            SELECT s.seed, a.dst AS id, {damping} * SUM(a.frac * s.rank) AS c
            FROM rwr_s{i - 1} s JOIN rwr_adj a ON a.src = s.id
            GROUP BY s.seed, a.dst
        ) c
        FULL OUTER JOIN (
            SELECT seed, seed AS id, {1.0 - damping} AS base FROM rwr_seeds
        ) b ON b.seed = c.seed AND b.id = c.id
    ) WHERE rank >= {eps}
)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT seed, id, rank, rnk::BIGINT AS rnk FROM (
    SELECT seed, id, rank,
           ROW_NUMBER() OVER (PARTITION BY seed ORDER BY rank DESC, id ASC) AS rnk
    FROM rwr_s{rounds}
) WHERE rnk <= {k}"""
    )
