"""North-star algorithms vs pure-Python oracles + planted-SBM recovery.

Mirrors the reference's test strategy (tests/test_algorithms.cpp: shared
fixture runs algorithms once, metric tests assert) but with EXACT oracle
comparison instead of range sanity, per BASELINE.md.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sbm_communitydetection_spark.operators.components import connected_components
from sbm_communitydetection_spark.operators.graph_ops import canonical_relabel, symmetrize
from sbm_communitydetection_spark.operators.label_propagation import label_propagation
from sbm_communitydetection_spark.operators.pagerank import pagerank
from sbm_communitydetection_spark.operators.triangles import triangle_count, triangle_counts_per_vertex
from sbm_communitydetection_spark.sources.sbm import generate_sbm

from oracles import components_oracle, lpa_oracle, pagerank_oracle, triangles_oracle


@pytest.fixture(scope="module")
def sbm_graph(spark):
    """n=60, k=3 well-separated SBM (p_in=0.9/p_out=0.1): vertices + sym edges."""
    vertices, stream = generate_sbm(spark, n=60, k=3, m=400, p_in=0.9, p_out=0.1, seed=42)
    edges = symmetrize(stream.select("src", "dst", F.lit(1).cast("long").alias("weight")))
    edges = edges.localCheckpoint(eager=True)
    return vertices.localCheckpoint(eager=True), edges


def _edge_tuples(edges):
    return [(r.src, r.dst, r.weight) for r in edges.collect()]


def test_pagerank_allclose_oracle(spark, sbm_graph):
    vertices, edges = sbm_graph
    ranks = {r.id: r.rank for r in pagerank(spark, edges, vertices=vertices, tolerance=1e-10).collect()}
    oracle = pagerank_oracle(_edge_tuples(edges), tol=1e-10, vertices=[r.id for r in vertices.collect()])
    assert set(ranks) == set(oracle)
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    for v, r in oracle.items():
        assert abs(ranks[v] - r) < 1e-6, f"vertex {v}: {ranks[v]} vs {r}"


def test_pagerank_dangling_vertices(spark):
    # directed chain with dangling sink + isolated vertex
    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 3, 1)], "src long, dst long, weight long"
    )
    verts = spark.createDataFrame([(i,) for i in range(5)], "id long")
    ranks = {r.id: r.rank for r in pagerank(spark, edges, vertices=verts, tolerance=1e-12).collect()}
    oracle = pagerank_oracle([(0, 1, 1), (1, 2, 1), (2, 3, 1)], tol=1e-12, vertices=list(range(5)))
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    for v in oracle:
        assert abs(ranks[v] - oracle[v]) < 1e-6


def test_connected_components_exact(spark):
    # two components + isolated vertex; ids deliberately non-contiguous
    e = [(10, 20), (20, 30), (30, 10), (40, 50), (99, 40)]
    edges = spark.createDataFrame([(s, d, 1) for s, d in e], "src long, dst long, weight long")
    verts = spark.createDataFrame([(i,) for i in [10, 20, 30, 40, 50, 99, 777]], "id long")
    got = {r.id: r.component for r in connected_components(spark, edges, vertices=verts).collect()}
    exp = components_oracle(e, vertices=[10, 20, 30, 40, 50, 99, 777])
    assert got == exp
    assert got[777] == 777  # isolated singleton


def test_connected_components_path_graph(spark):
    # long path stresses the O(log n) convergence
    n = 200
    edges = spark.createDataFrame([(i, i + 1, 1) for i in range(n - 1)], "src long, dst long, weight long")
    got = {r.id: r.component for r in connected_components(spark, edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_lpa_plain_matches_oracle(spark, sbm_graph):
    """Plain synchronous LPA: exact per-vertex parity with the pinned-seed
    oracle (the operational meaning of 'labels exact at convergence' —
    the reference itself is nondeterministic, SURVEY.md §5)."""
    vertices, edges = sbm_graph
    result = label_propagation(spark, edges, vertices=vertices, max_iterations=12)
    got = {r.id: r.label for r in result.state.collect()}
    oracle_labels, _, _ = lpa_oracle(
        _edge_tuples(edges), vertices=[r.id for r in vertices.collect()], max_iter=12
    )
    assert got == oracle_labels


def test_lpa_keep_own_recovers_planted(spark, sbm_graph):
    """keep_own variant converges and recovers the planted partition on the
    well-separated n=60 k=3 SBM, verified via canonical relabel equality
    (C4, src/dynamic_community_detection.cpp:345-357)."""
    vertices, edges = sbm_graph
    result = label_propagation(spark, edges, vertices=vertices, max_iterations=30, variant="keep_own")
    assert result.converged
    got = {r.id: r.label for r in result.state.collect()}
    oracle_labels, _, conv = lpa_oracle(
        _edge_tuples(edges),
        vertices=[r.id for r in vertices.collect()],
        max_iter=30,
        variant="keep_own",
    )
    assert conv and got == oracle_labels  # exact parity with the oracle

    got_canon = {r.id: r.label for r in canonical_relabel(result.state).collect()}
    truth_canon = {r.id: r.label for r in canonical_relabel(vertices.select("id", "label")).collect()}
    assert got_canon == truth_canon, "LPA failed to recover planted SBM partition"
    assert len(set(truth_canon.values())) == 3


def test_lpa_min_label_tiebreak(spark):
    # square: every vertex sees two neighbors with distinct labels, equal weight
    e = [(0, 1), (1, 2), (2, 3), (3, 0)]
    edges = symmetrize(spark.createDataFrame([(s, d, 1) for s, d in e], "src long, dst long, weight long"))
    result = label_propagation(spark, edges, max_iterations=10)
    got = {r.id: r.label for r in result.state.collect()}
    oracle_labels, _, _ = lpa_oracle([(s, d, 1) for s, d in e] + [(d, s, 1) for s, d in e], max_iter=10)
    assert got == oracle_labels


def test_triangles_exact(spark, sbm_graph):
    _, edges = sbm_graph
    pairs = [(r.src, r.dst) for r in edges.collect()]
    per, total = triangles_oracle(pairs)
    assert triangle_count(edges).collect()[0].triangles == total
    got = {r.id: r.tri_count for r in triangle_counts_per_vertex(edges).collect()}
    for v in got:
        assert got[v] == per.get(v, 0)
    assert total > 0


def test_triangles_tiny_known(spark):
    # K4 has 4 triangles, each vertex in 3
    e = [(a, b, 1) for a in range(4) for b in range(4) if a < b]
    edges = symmetrize(spark.createDataFrame(e, "src long, dst long, weight long"))
    assert triangle_count(edges).collect()[0].triangles == 4
    got = {r.id: r.tri_count for r in triangle_counts_per_vertex(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_k_core_matches_python_peel(spark):
    from collections import defaultdict

    from sbm_communitydetection_spark.operators.kcore import k_core

    raw = spark.range(400).select(
        (F.xxhash64("id") % 60).alias("src"),
        (F.xxhash64("id", F.lit(3)) % 60).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    rows = [(r.src, r.dst) for r in raw.collect() if r.src != r.dst]
    adj = defaultdict(set)
    for s, d in rows:
        adj[s].add(d)
        adj[d].add(s)
    for k in (2, 3, 4):
        # python oracle: sequential peel to fixpoint
        alive = set(adj)
        changed = True
        while changed:
            changed = False
            for v in list(alive):
                if len(adj[v] & alive) < k:
                    alive.discard(v)
                    changed = True
        got = {r.id: r.degree for r in k_core(spark, raw, k=k).collect()}
        assert set(got) == alive, f"k={k}"
        for v, deg in got.items():
            assert deg == len(adj[v] & alive), f"k={k} vertex {v}"


def test_k_core_fixed_rounds_converges_on_gate_graph(spark):
    """The gate's fixed-round unroll must have converged at sf0.001 so the
    oracle equals the true fixpoint (KCORE_ROUNDS is chosen with margin)."""
    import __spark_entry__ as entry
    from sbm_communitydetection_spark.operators.kcore import k_core
    from sbm_communitydetection_spark.sources.tpch_graph import lineitem_edges

    edges = lineitem_edges(spark, "/root/testdata/sf0.001")
    fixed = {(r.id, r.degree) for r in k_core(spark, edges, k=entry.KCORE_K, rounds=entry.KCORE_ROUNDS).collect()}
    converged = {(r.id, r.degree) for r in k_core(spark, edges, k=entry.KCORE_K).collect()}
    assert fixed == converged


def test_personalized_pagerank_reduces_to_plain_and_localizes(spark):
    from sbm_communitydetection_spark.operators.graph_ops import symmetrize
    from sbm_communitydetection_spark.operators.pagerank import pagerank

    raw = spark.range(500).select(
        (F.xxhash64("id") % 80).alias("src"),
        (F.xxhash64("id", F.lit(5)) % 80).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    edges = symmetrize(raw).localCheckpoint(eager=True)
    all_ids = edges.select(F.col("src").alias("id")).distinct()
    plain = {r.id: r.rank for r in pagerank(spark, edges, tolerance=-1.0, max_iterations=6).collect()}
    # reset over ALL vertices == uniform teleport == plain PageRank
    ppr_all = {
        r.id: r.rank
        for r in pagerank(
            spark, edges, tolerance=-1.0, max_iterations=6, reset_ids=all_ids
        ).collect()
    }
    assert plain.keys() == ppr_all.keys()
    assert all(abs(plain[k] - ppr_all[k]) < 1e-12 for k in plain)

    # single-source PPR: the source outranks everything and mass sums to 1
    src0 = all_ids.orderBy("id").limit(1)
    src0_id = src0.collect()[0].id
    ppr1 = {
        r.id: r.rank
        for r in pagerank(
            spark, edges, tolerance=-1.0, max_iterations=10, reset_ids=src0
        ).collect()
    }
    assert abs(sum(ppr1.values()) - 1.0) < 1e-9
    assert ppr1[src0_id] == max(ppr1.values())


def test_hits_star_digraph_and_symmetric_collapse(spark):
    from sbm_communitydetection_spark.operators.hits import hits

    # star digraph: spokes 1..5 all point AT vertex 0 -> 0 is the pure
    # authority (auth=1), spokes are the pure hubs (hub=1/5 each)
    rows = [(i, 0, 1) for i in range(1, 6)]
    star = spark.createDataFrame(rows, "src long, dst long, weight long")
    s = {r.id: (r.hub, r.auth) for r in hits(spark, star, tolerance=-1.0, max_iterations=3).collect()}
    assert abs(s[0][1] - 1.0) < 1e-12 and abs(s[0][0]) < 1e-12
    for i in range(1, 6):
        assert abs(s[i][0] - 0.2) < 1e-12 and abs(s[i][1]) < 1e-12

    # on a SYMMETRIZED table hub == auth everywhere (the reason the gate
    # query runs on the directed derivation)
    raw = spark.range(300).select(
        (F.xxhash64("id") % 40).alias("src"),
        (F.xxhash64("id", F.lit(7)) % 40).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    sym = symmetrize(raw).localCheckpoint(eager=True)
    out = hits(spark, sym, tolerance=-1.0, max_iterations=4).collect()
    assert all(abs(r.hub - r.auth) < 1e-12 for r in out)
    assert abs(sum(r.auth for r in out) - 1.0) < 1e-9


def test_local_clustering_and_adamic_adar_hand_graph(spark):
    import math

    from sbm_communitydetection_spark.operators.linkpred import adamic_adar
    from sbm_communitydetection_spark.operators.triangles import local_clustering_coefficient

    # square 0-1-2-3-0 with chord 0-2: tri = {0:2, 1:1, 2:2, 3:1}
    raw = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 3, 1), (3, 0, 1), (0, 2, 1)],
        "src long, dst long, weight long",
    )
    edges = symmetrize(raw)
    lcc = {r.id: r.lcc for r in local_clustering_coefficient(edges).collect()}
    assert abs(lcc[0] - 2 / 3) < 1e-12 and abs(lcc[2] - 2 / 3) < 1e-12
    assert lcc[1] == 1.0 and lcc[3] == 1.0

    # only non-adjacent pair is (1,3); common neighbors {0,2}
    aa = adamic_adar(edges).collect()
    assert len(aa) == 1
    r = aa[0]
    assert (r.a, r.b, r.cn_count) == (1, 3, 2)
    assert abs(r.aa_score - 2 / math.log(3)) < 1e-12

    # degree_cap excludes hub centers: cap=2 keeps only centers 1 and 3
    # (degree 2) — pair (0,2) is adjacent, so nothing survives
    capped = adamic_adar(edges, degree_cap=2).collect()
    assert capped == []


def test_sssp_path_graph_and_fixpoint(spark):
    from sbm_communitydetection_spark.operators.sssp import shortest_paths

    # weighted path 0 -2- 1 -3- 2 -1- 3 -5- 4, source {0}
    raw = spark.createDataFrame(
        [(0, 1, 2), (1, 2, 3), (2, 3, 1), (3, 4, 5)],
        "src long, dst long, weight long",
    )
    edges = symmetrize(raw)
    src = spark.createDataFrame([(0,)], "id long")
    d = {r.id: r.dist for r in shortest_paths(spark, edges, src).collect()}
    assert d == {0: 0.0, 1: 2.0, 2: 5.0, 3: 6.0, 4: 11.0}

    # fixed rounds >= diameter reproduces the fixpoint
    d4 = {r.id: r.dist for r in shortest_paths(spark, edges, src, rounds=4).collect()}
    assert d4 == d
    # too few rounds: vertex 4 not yet reached
    d1 = {r.id: r.dist for r in shortest_paths(spark, edges, src, rounds=1).collect()}
    assert 4 not in d1 and d1[1] == 2.0


def test_degree_assortativity_star_is_minus_one(spark):
    from sbm_communitydetection_spark.operators.graph_ops import degree_assortativity

    star = symmetrize(
        spark.createDataFrame([(0, i, 1) for i in range(1, 6)], "src long, dst long, weight long")
    )
    r = degree_assortativity(star).collect()[0].assortativity
    assert abs(r - (-1.0)) < 1e-12


_CHAIN = 120  # old components chained by one delta path


@pytest.mark.parametrize(
    "base, delta, partitions, spot",
    [
        (
            [(10, 20), (30, 40), (50, 60), (70, 70)],  # 3 comps + self-loop singleton
            [(20, 30), (40, 50), (60, 800), (801, 802), (900, 900)],
            None,
            # chain-merge folds the new vertex into the min id; the delta
            # self-loop vertex survives as a singleton
            {800: 10, 900: 900},
        ),
        (
            [(10 * i, 10 * i + 1) for i in range(_CHAIN)],
            [(10 * i + 1, 10 * i + 10) for i in range(_CHAIN - 1)],
            8,
            {10 * _CHAIN - 9: 0},
        ),
        (
            [(10, 20)],
            [(5, 20)],
            None,
            # a new vertex below the old root becomes the merged root
            {5: 5, 10: 5, 20: 5},
        ),
    ],
    ids=[
        "mixed_merges",
        "chain_of_120_components_in_8_partitions",
        "new_vertex_below_old_root",
    ],
)
def test_incremental_components_equals_full_recompute(spark, base, delta, partitions, spot):
    """Delta repair must equal full CC over base ∪ delta, including
    chain-merges across several old components, brand-new vertices, and
    a delta-only self-loop singleton. The chain case spreads one merge
    path over 8 partitions: no partition alone sees the whole chain, so
    only a pass over the whole merge graph labels it right."""
    from sbm_communitydetection_spark.operators.components import incremental_components

    mk = lambda e: spark.createDataFrame(
        [(s, d, 1) for s, d in e], "src long, dst long, weight long"
    )
    labels = connected_components(spark, mk(base))
    delta_df = mk(delta) if partitions is None else mk(delta).repartition(partitions)
    # AQE would coalesce this tiny merge graph into one partition on its
    # own; keep every shuffle partition so the repair itself must join them
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = {
            r.id: r.component
            for r in incremental_components(spark, labels, delta_df).collect()
        }
    finally:
        spark.conf.set(key, prev)
    exp = components_oracle(base + delta)
    assert got == exp
    assert {v: got[v] for v in spot} == spot


def test_decremental_components_split_and_carryover(spark):
    """Removal repair must equal full CC over the surviving edges: a
    removed bridge SPLITS its component, a removed cycle edge does not,
    untouched components carry their labels over unchanged, and a vertex
    losing its last edge survives as a singleton."""
    from sbm_communitydetection_spark.operators.components import decremental_components

    base = [
        (1, 2), (2, 3), (3, 4), (4, 5),  # path: bridge (3,4) will split it
        (10, 11), (11, 12), (12, 10),    # triangle: removal keeps it connected
        (20, 21),                        # untouched component
        (30, 31),                        # vertex 31 loses its only edge
    ]
    removed = [(4, 3), (10, 12), (31, 30)]  # reversed orientations on purpose
    mk = lambda e: spark.createDataFrame(
        [(s, d, 1) for s, d in e], "src long, dst long, weight long"
    )
    labels = connected_components(spark, mk(base))
    got = {
        r.id: r.component
        for r in decremental_components(spark, labels, mk(base), mk(removed)).collect()
    }
    surviving = [e for e in base if e not in [(3, 4), (12, 10), (30, 31)]]
    exp = components_oracle(surviving, vertices=[v for e in base for v in e])
    assert got == exp
    assert got[4] == 4 and got[5] == 4 and got[3] == 1  # bridge split
    assert got[12] == 10  # cycle stays whole
    assert got[21] == 20  # untouched carry-over
    assert got[31] == 31  # orphaned vertex keeps a singleton label


def test_decremental_components_empty_removal_is_identity(spark):
    from sbm_communitydetection_spark.operators.components import decremental_components

    base = [(1, 2), (3, 4)]
    edges = spark.createDataFrame([(s, d, 1) for s, d in base], "src long, dst long, weight long")
    labels = connected_components(spark, edges)
    empty = spark.createDataFrame([], "src long, dst long, weight long")
    got = {
        r.id: r.component
        for r in decremental_components(spark, labels, edges, empty).collect()
    }
    assert got == {r.id: r.component for r in labels.collect()}


def _plan_nodes(plan) -> list[str]:
    """Class names of every node of an executed plan, through adaptive
    plan wrappers."""
    names, todo = [], [plan]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        names.append(kind)
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return names


def test_incremental_components_plan_has_no_shuffle(spark):
    """The repair folds the delta on the driver: the returned table is
    the label scan, one broadcast join, a union and a coalesce, with no
    ShuffleExchange — and the labels are still exact."""
    from sbm_communitydetection_spark.operators.components import incremental_components
    from sbm_communitydetection_spark.plans.iterate import materialize

    mk = lambda e: spark.createDataFrame(
        [(s, d, 1) for s, d in e], "src long, dst long, weight long"
    )
    base, delta = [(10, 20), (30, 40), (50, 60)], [(20, 30), (60, 70), (80, 81)]
    labels = materialize(connected_components(spark, mk(base)))
    out = incremental_components(spark, labels, mk(delta))
    nodes = _plan_nodes(out._jdf.queryExecution().executedPlan())
    assert "BroadcastExchangeExec" in nodes, nodes
    assert "ShuffleExchangeExec" not in nodes, nodes
    assert {r.id: r.component for r in out.collect()} == components_oracle(base + delta)


def test_incremental_components_empty_delta_is_identity(spark):
    from sbm_communitydetection_spark.operators.components import incremental_components

    base = [(1, 2), (3, 4)]
    edges = spark.createDataFrame([(s, d, 1) for s, d in base], "src long, dst long, weight long")
    labels = connected_components(spark, edges)
    empty = spark.createDataFrame([], "src long, dst long, weight long")
    got = {r.id: r.component for r in incremental_components(spark, labels, empty).collect()}
    assert got == {r.id: r.component for r in labels.collect()}


def test_node2vec_walks_are_valid_paths(spark):
    """Every step-to-step transition must traverse a real edge, walks are
    deterministic run-to-run, and a dead end truncates the walk."""
    from sbm_communitydetection_spark.operators.walks import node2vec_walks

    edges = symmetrize(
        spark.createDataFrame(
            [(0, 1, 1), (1, 2, 1), (2, 3, 1), (3, 0, 1), (1, 3, 2), (100, 101, 1)],
            "src long, dst long, weight long",
        )
    ).unionByName(
        # directed dangling edge: 200 -> 201, 201 has no out-neighbors
        spark.createDataFrame([(200, 201, 1)], "src long, dst long, weight long")
    )
    run = lambda: node2vec_walks(
        spark, edges, start_mod=100, walks_per_vertex=2, length=3
    )
    rows = run().collect()
    edge_set = {(r.src, r.dst) for r in edges.collect()}
    walks: dict = {}
    for r in rows:
        walks.setdefault((r.start_id, r.walk_idx), {})[r.step] = r.vertex
    for (sid, wi), path in walks.items():
        assert path[0] == sid
        for s in range(1, max(path) + 1):
            assert (path[s - 1], path[s]) in edge_set
    # start 200 reaches the dead end 201 at step 1 and stops there
    p200 = walks[(200, 0)]
    assert p200[1] == 201 and max(p200) == 1
    # deterministic replay
    assert sorted(map(tuple, rows)) == sorted(map(tuple, run().collect()))


def test_maximal_independent_set_properties(spark):
    """Structural MIS contract on a mixed graph: no edge joins two
    selected vertices (independence), every unselected vertex has a
    selected neighbor (maximality), isolated/self-loop-only vertices are
    always in, and the selection replays identically."""
    from sbm_communitydetection_spark.operators.mis import maximal_independent_set

    e = (
        [(a, b, 1) for a in range(6) for b in range(6) if a < b]  # K6
        + [(10 + i, 11 + i, 1) for i in range(8)]  # path
        + [(50, 50, 1)]  # self-loop-only vertex
    )
    edges = spark.createDataFrame(e, "src long, dst long, weight long")
    run = lambda: maximal_independent_set(spark, edges)
    rows = run().collect()
    mis = {r.id for r in rows}
    adj: dict = {}
    verts = set()
    for s, d, _ in e:
        verts |= {s, d}
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    for v in mis:
        assert not (adj.get(v, set()) & mis), f"edge inside MIS at {v}"
    for v in verts - mis:
        assert adj.get(v, set()) & mis, f"{v} excluded without a MIS neighbor"
    assert 50 in mis
    assert sorted(map(tuple, rows)) == sorted(map(tuple, run().collect()))


def test_densest_subgraph_finds_planted_clique(spark):
    """Peeling must strip the sparse path and return exactly the planted
    K8 (density 3.5); edgeless input yields an empty result."""
    from sbm_communitydetection_spark.operators.densest import densest_subgraph

    clique = [(a, b, 1) for a in range(8) for b in range(8) if a < b]
    path = [(100 + i, 101 + i, 1) for i in range(20)]
    edges = spark.createDataFrame(clique + path, "src long, dst long, weight long")
    rows = densest_subgraph(spark, edges).collect()
    assert {r.id for r in rows} == set(range(8))
    assert all(r.best_density == 3.5 for r in rows)

    empty = spark.createDataFrame([], "src long, dst long, weight long")
    assert densest_subgraph(spark, empty).count() == 0


def test_maximal_matching_properties(spark):
    """No two matched edges share a vertex; every unmatched edge has a
    matched endpoint (maximality); deterministic replay; empty input."""
    from sbm_communitydetection_spark.operators.matching import maximal_matching

    e = (
        [(a, b, 1) for a in range(6) for b in range(6) if a < b]  # K6
        + [(10 + i, 11 + i, 1) for i in range(7)]  # odd path
        + [(50, 50, 1)]  # self-loop: never matchable
    )
    edges = spark.createDataFrame(e, "src long, dst long, weight long")
    run = lambda: maximal_matching(spark, edges)
    rows = run().collect()
    used: set = set()
    for r in rows:
        assert r.a not in used and r.b not in used, "vertex matched twice"
        used |= {r.a, r.b}
    pairs = {(min(s, d), max(s, d)) for s, d, _ in e if s != d}
    matched = {(r.a, r.b) for r in rows}
    for a, b in pairs - matched:
        assert a in used or b in used, f"edge ({a},{b}) unmatched with free ends"
    assert 50 not in used
    assert sorted(map(tuple, rows)) == sorted(map(tuple, run().collect()))

    empty = spark.createDataFrame([], "src long, dst long, weight long")
    assert maximal_matching(spark, empty).count() == 0


def test_bipartite_check_even_vs_odd_cycles(spark):
    """Even cycle → bipartite, odd cycle → not, tree → bipartite; one
    verdict per component with the CC min-id component key."""
    from sbm_communitydetection_spark.operators.components import bipartite_check

    even = [(i, (i + 1) % 4, 1) for i in range(4)]  # C4 on 0-3
    odd = [(10 + i, 10 + (i + 1) % 5, 1) for i in range(5)]  # C5 on 10-14
    tree = [(20, 21, 1), (21, 22, 1), (20, 23, 1)]
    edges = symmetrize(
        spark.createDataFrame(even + odd + tree, "src long, dst long, weight long")
    )
    got = {r.component: r.is_bipartite for r in bipartite_check(spark, edges).collect()}
    assert got == {0: True, 10: False, 20: True}


def test_seeded_lpa_frontier_and_frozen_seeds(spark):
    """Path 0-1-2-3-4-5 with seeds at the ends: labels meet in the middle
    (min-label tie at vertex reached by both), seeds never move, and a
    vertex beyond the k-round frontier stays null."""
    from sbm_communitydetection_spark.operators.label_propagation import (
        seeded_label_propagation,
    )

    e = [(i, i + 1) for i in range(5)] + [(10, 11)]  # detached 10-11 edge
    edges = symmetrize(
        spark.createDataFrame([(s, d, 1) for s, d in e], "src long, dst long, weight long")
    )
    seeds = spark.createDataFrame([(0, 100), (5, 200)], "id long, label long")
    got = {
        r.id: r.label
        for r in seeded_label_propagation(spark, edges, seeds, n_iterations=2)
        .state.collect()
    }
    # seeds frozen
    assert got[0] == 100 and got[5] == 200
    # 2 rounds reach distance 2 from each seed
    assert got[1] == 100 and got[2] == 100
    assert got[4] == 200 and got[3] == 200
    # disconnected unlabeled component: never reached
    assert got[10] is None and got[11] is None


def test_condensation_layers_two_cycles_and_tail(spark):
    """Two 3-cycles bridged by one directed edge, plus a sink tail:
    condensation = cycleA(layer 0) -> cycleB(layer 1) -> tail(layer 2)."""
    from sbm_communitydetection_spark.operators.components import condensation_layers

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0),          # cycle A = {0,1,2}, scc 0
         (10, 11), (11, 12), (12, 10),    # cycle B = {10,11,12}, scc 10
         (2, 10),                          # A -> B
         (12, 99)],                        # B -> tail
        "src long, dst long",
    )
    got = {r.scc: (r.layer, r.n_members)
           for r in condensation_layers(spark, edges).collect()}
    assert got == {0: (0, 3), 10: (1, 3), 99: (2, 1)}


def test_condensation_layers_depth_guard_raises(spark):
    """A DAG chain deeper than max_depth must raise, never return a
    partial layering (ADVICE r2 convergence stance)."""
    import pytest as _pytest

    from sbm_communitydetection_spark.operators.components import condensation_layers

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="max_depth"):
        condensation_layers(spark, chain, max_depth=3)


def test_katz_centrality_path_graph_hand_values(spark):
    """a->b->c with alpha=0.5, beta=1, 3 iters: x(a)=1, x(b)=1.5,
    x(c)=1+0.5*x(b)=1.75 (walk counts of length 1 and 2 damped)."""
    from sbm_communitydetection_spark.operators.katz import katz_centrality

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r.id: r.katz
           for r in katz_centrality(spark, edges, alpha=0.5, beta=1.0,
                                    iterations=3).collect()}
    assert got == {0: 1.0, 1: 1.5, 2: 1.75}


def test_rich_club_star_vs_clique(spark):
    """4-clique + pendant leaves: at k=2 the club is exactly the clique
    (leaves have degree 1, clique members 3+) and phi = 1.0."""
    from sbm_communitydetection_spark.operators.graph_ops import rich_club, symmetrize

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    leaves = [(0, 10), (1, 11), (2, 12)]
    e = spark.createDataFrame(
        [(a, b, 1) for a, b in clique + leaves], "src long, dst long, weight long"
    )
    got = {r.k: (r.n_club, r.e_club, r.phi)
           for r in rich_club(symmetrize(e), ks=(2, 100)).collect()}
    assert got[2] == (4, 6, 1.0)
    assert got[100] == (0, 0, 0.0)  # empty club still emits a row


def test_four_cliques_known_graphs(spark):
    """K5 has C(5,4)=5 four-cliques; K4 + pendant vertex has exactly 1;
    a 4-cycle (no chords) has 0."""
    from sbm_communitydetection_spark.operators.triangles import four_clique_count

    def g(pairs):
        return symmetrize(
            spark.createDataFrame(
                [(a, b, 1) for a, b in pairs], "src long, dst long, weight long"
            )
        )

    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    assert four_clique_count(g(k5)).collect()[0].four_cliques == 5

    k4_pendant = [(a, b) for a in range(4) for b in range(4) if a < b] + [(3, 9)]
    assert four_clique_count(g(k4_pendant)).collect()[0].four_cliques == 1

    c4 = [(0, 1), (1, 2), (2, 3), (3, 0)]
    assert four_clique_count(g(c4)).collect()[0].four_cliques == 0


def test_label_assortativity_extremes(spark):
    """Two disjoint same-label cliques → r = 1; perfect bipartite
    cross-label mixing → r < 0; the coefficient is computed on the
    symmetrized directed edge-end counts."""
    from sbm_communitydetection_spark.operators.graph_ops import label_assortativity

    def sym(pairs):
        return spark.createDataFrame(
            [(a, b, 1) for a, b in pairs] + [(b, a, 1) for a, b in pairs],
            "src long, dst long, weight long",
        )

    # labels: id % 2
    labels2 = lambda e: e.select(F.col("src").alias("id")).distinct().select(
        "id", (F.col("id") % 2).alias("label")
    )
    homo = sym([(0, 2), (2, 4), (0, 4), (1, 3), (3, 5), (1, 5)])  # even/odd cliques
    r1 = label_assortativity(homo, labels2(homo)).collect()[0]
    assert r1.assortativity == 1.0 and r1.tr_e == 1.0

    hetero = sym([(0, 1), (0, 3), (2, 1), (2, 3)])  # even↔odd only
    r2 = label_assortativity(hetero, labels2(hetero)).collect()[0]
    assert r2.tr_e == 0.0 and r2.assortativity < 0
