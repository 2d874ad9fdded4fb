"""Connected components via large-star / small-star hashing.

The alternating large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) — the
north-star CC algorithm (BASELINE.json).  Each round is two grouped
min-aggregations + joins; converges in O(log n) rounds to a star graph
whose centers are the component minima, so component ids are EXACT
(= min vertex id in the component), matching the determinism contract.

The reference has no explicit CC operator (its "components" are the
planted SBM communities); this is north-star scope (SURVEY.md §2.13).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.iterate import IterationDriver, materialize, unpersist_checkpoint


def _large_star(pairs: DataFrame) -> DataFrame:
    """For every u: connect all strictly-larger neighbors to min(N(u) ∪ {u}).

    Output is NOT deduplicated: the algorithm operates on the edge SET,
    duplicates are harmless to small-star's min-aggregate, and its final
    distinct dedups anyway — skipping the dedup here removes one full
    exchange of the pair set per round (measured ~15% off the CC wall).
    """
    sym = pairs.unionByName(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    m = m.select("src", F.least("src", "mn").alias("m"))
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _min_roots(pairs) -> dict:
    """Union-by-min over ``(u, v)`` pairs: every vertex touched → the
    minimum id of its set.  Union-by-min keeps each root at its set's
    minimum, so the roots are the exact min-id component labels of the
    pairs' graph.  Pure Python; the one union-find of the package,
    run per partition by :func:`_partition_local_contract` and on the
    driver by :func:`incremental_components`."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for s, d in pairs:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {v: find(v) for v in parent}


def _partition_local_contract(pairs: DataFrame) -> DataFrame:
    """Contract components WITHIN each partition before the global rounds
    (VERDICT r2 #4): one Arrow-batched :func:`_min_roots` pass per
    partition replaces each partition's edge multiset with a
    member→local-min star.

    Why this shape: the output pair count is bounded by the number of
    DISTINCT vertices the partition touches — on multigraphs / dense
    partitions that is a 10-1000× reduction of the pair set the global
    large/small-star rounds must shuffle — and the pass itself is
    exchange-free (rides the scan: no distinct(), no repartition; the
    union-find absorbs duplicate edges for free, so the up-front
    full-edge-set distinct() shuffle is dropped entirely).

    Correctness: within a partition the star has exactly the local
    connectivity of the partition's edges; the union across partitions
    glues local stars on shared vertices, so global connectivity — and
    the exact min-id component labels — are unchanged.
    """
    schema = pairs.schema

    def contract(batches):
        roots = _min_roots(
            pair
            for pdf in batches
            for pair in zip(pdf["src"].tolist(), pdf["dst"].tolist())
        )
        star = [(v, r) for v, r in roots.items() if r != v]
        yield pd.DataFrame(star, columns=["src", "dst"])

    return pairs.mapInPandas(contract, schema)


def _small_star(pairs: DataFrame) -> DataFrame:
    """Orient (u=max, v=min); connect all smaller neighbors AND u itself to
    the minimum of u's smaller neighborhood."""
    oriented = pairs.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).filter(F.col("u") != F.col("v"))
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    linked = oriented.join(m, "u")
    out = linked.select(F.col("v").alias("src"), F.col("m").alias("dst")).unionByName(
        m.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    driver: IterationDriver | None = None,
    max_iterations: int = 30,
    resume: bool = False,
) -> DataFrame:
    """components(id, component) with component = min id in the component.

    `edges` may be directed or symmetrized; weights are ignored.
    `vertices` (optional, column `id`) contributes isolated vertices,
    which form singleton components.
    """
    # no state_key: the CC state is an unkeyed PAIR SET re-shuffled on
    # different keys each half-round — no partitioning to preserve (wall
    # time measured equal either way)
    driver = driver or IterationDriver(spark, run_id="cc")
    pairs = _partition_local_contract(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    )

    # the pair set's (count, Σ xxhash64) checksum rides each round's
    # persist job; a round converges when its checksum equals the
    # previous round's, read from the driver's observed values
    checksum = {
        "n": F.count(F.lit(1)),
        "h": F.coalesce(F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)),
    }

    def step(state: DataFrame, i: int):
        prev = driver.observed
        changed = (checksum["n"] != F.lit(prev["n"])) | (checksum["h"] != F.lit(prev["h"]))
        return _small_star(_large_star(state)), changed.cast("double")

    result = driver.run(
        pairs,
        step,
        max_iterations=max_iterations,
        tolerance=0.0,
        resume=resume,  # north_rule: a durable-driver run continues
        # mid-iteration from the latest complete star-pair snapshot (the
        # driver observes the resumed snapshot's checksum once)
        metric_name="edge_set_changed",
        observe=checksum,
    )
    stars = result.state  # (member, center) pairs; centers are component minima

    comp = stars.select(F.col("src").alias("id"), F.col("dst").alias("component")).unionByName(
        stars.select(F.col("dst").alias("id"), F.col("dst").alias("component"))
    )
    comp = comp.groupBy("id").agg(F.min("component").alias("component"))

    # from the UNFILTERED edges: a vertex mentioned only in self-loops
    # still exists and forms its own singleton component
    all_ids = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    if vertices is not None:
        all_ids = all_ids.unionByName(vertices.select("id"))
    all_ids = all_ids.distinct()
    return all_ids.join(comp, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


# ---------------------------------------------------------------------------
# strongly connected components (directed) — forward-coloring + backward reach
# ---------------------------------------------------------------------------


def _min_forward_labels(
    spark: SparkSession,
    dedges: DataFrame,
    verts: DataFrame,
    run_id: str,
    max_iterations: int = 50,
    delta: bool = False,
) -> DataFrame:
    """(id, lbl) fixpoint of lbl(v) = min(lbl(v), min_{u->v} lbl(u)),
    lbl0 = id — i.e. lbl(v) = min vertex that can REACH v. Each superstep
    is one keyed join + min-aggregate (CC-shaped); O(directed diameter)
    rounds.

    ``delta=True`` is the frontier-delta variant (the named remaining
    SCC lever from the round-4 measurement, docs/SCALE.md): min-label
    propagation is monotone, so only vertices whose label CHANGED last
    superstep can lower a neighbor this superstep — the edge join probes
    the changed-vertex frontier instead of the full remaining vertex
    set, and per-round shuffled rows collapse with the frontier once
    the min labels flood out (hub graphs: a few rounds).  Exact same
    fixpoint, same round count, strictly less data moved per round;
    the default stays the full-join variant the driver gate has a
    CORRECTNESS row against (the bench runner A/Bs the two)."""
    driver = IterationDriver(spark, run_id=run_id)

    def step(state: DataFrame, i: int):
        incoming = (
            dedges.join(state.select(F.col("id").alias("src"), "lbl"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("in_lbl"))
        )
        # the old label stays in the row as a working column
        new = state.join(incoming, "id", "left").select(
            "id",
            F.least("lbl", F.coalesce("in_lbl", "lbl")).alias("lbl"),
            F.col("lbl").alias("old"),
        )
        changed = F.count(F.when(F.col("lbl") != F.col("old"), 1))
        # the first superstep never counts as converged: a later one that
        # changes no label confirms the fixpoint
        return new, changed + 1 if i == 1 else changed

    def step_delta(state: DataFrame, i: int):
        # state carries (id, lbl, chg): chg = did lbl change last round
        frontier = state.filter(F.col("chg") == 1).select(
            F.col("id").alias("src"), "lbl"
        )
        incoming = (
            dedges.join(frontier, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("in_lbl"))
        )
        new = state.join(incoming, "id", "left").select(
            "id",
            F.least("lbl", F.coalesce("in_lbl", "lbl")).alias("lbl"),
            (F.coalesce("in_lbl", "lbl") < F.col("lbl")).cast("int").alias("chg"),
        )
        return new, F.sum("chg")

    if delta:
        init = verts.select("id", F.col("id").alias("lbl"), F.lit(1).alias("chg"))
    else:
        init = verts.select("id", F.col("id").alias("lbl"))
    result = driver.run(
        init,
        step_delta if delta else step,
        max_iterations=max_iterations,
        tolerance=0.0,
        metric_name="label_set_changed",
    )
    if not result.converged:
        # an unconverged coloring is not an approximation — downstream it
        # mislabels whole SCCs, so fail loudly (ADVICE r2)
        raise RuntimeError(
            f"{run_id}: forward min-label coloring still changing after "
            f"{max_iterations} supersteps (graph deeper than max_inner; raise it)"
        )
    return result.state.select("id", "lbl") if delta else result.state


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_outer: int | None = None,
    max_inner: int = 50,
    forward_delta: bool = False,
) -> DataFrame:
    """scc(id, scc) over a DIRECTED edge table, scc = min id in the SCC.

    The distributed coloring algorithm (Orzan 2004 / FW-BW family):

    1. colors: forward min-label fixpoint — color(v) = min vertex
       reaching v. Every SCC lies inside one color, and any v->color(v)
       path stays inside the color (min-ancestor argument), so
    2. within each color, the backward frontier fixpoint from the color
       ROOT along intra-color edges marks exactly SCC(root);
    3. assign those, drop them from the graph, repeat. Each round
       retires >= 1 SCC per color class (always the global minimum's),
       so rounds are few on real graphs (hub-heavy reply graphs resolve
       in 2-3).

    Convergence is EXACT, never silent (ADVICE r2): the outer loop runs
    until every vertex is assigned (``max_outer=None``, the default —
    each round provably retires at least one SCC, so it terminates); a
    caller-set ``max_outer`` that exhausts with vertices unresolved
    RAISES instead of returning singleton labels, as do a forward
    coloring or backward reach still changing at ``max_inner``.

    The backward phase is frontier-delta: each round expands only the
    NEWLY reached vertices (anti-join against the reached set) instead
    of re-distincting and re-counting the whole reached set — per-round
    shuffled rows are proportional to the frontier, not the cumulative
    reach (VERDICT r2 #5).

    Every superstep is a keyed equi-join + aggregate on (src|dst|id) —
    the same shuffle shape as large-star/small-star CC; nothing is ever
    collected to the driver. No reference analogue (the reference graph
    is undirected); north-star §2.13 scope: reply graphs are directed,
    and "mutual-reply cores" are their natural community primitive.
    """
    dedges = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    remaining = (
        dedges.select(F.col("src").alias("id"))
        .unionByName(dedges.select(F.col("dst").alias("id")))
        .distinct()
    )
    assigned_parts: list[DataFrame] = []

    outer = 0
    while max_outer is None or outer < max_outer:
        if remaining.limit(1).count() == 0:
            break
        colors = _min_forward_labels(
            spark,
            dedges,
            remaining,
            run_id=f"scc_f{outer}",
            max_iterations=max_inner,
            delta=forward_delta,
        )
        # intra-color directed edges only (SCC paths never leave the color)
        ic = materialize(
            dedges.join(colors.select(F.col("id").alias("src"), F.col("lbl").alias("cs")), "src")
            .join(colors.select(F.col("id").alias("dst"), F.col("lbl").alias("cd")), "dst")
            .filter(F.col("cs") == F.col("cd"))
            .select("src", "dst")
        )
        # backward reach from each color root: reached = can reach root.
        # Frontier-delta: expand only vertices reached LAST round.
        reached = materialize(colors.filter(F.col("id") == F.col("lbl")).select("id"))
        frontier = reached
        for _ in range(max_inner):
            step_up = (
                ic.join(frontier.select(F.col("id").alias("dst")), "dst")
                .select(F.col("src").alias("id"))
                .distinct()
            )
            frontier = materialize(step_up.join(reached, "id", "left_anti"))
            if frontier.limit(1).count() == 0:
                break
            reached = materialize(reached.unionByName(frontier))
        else:
            raise RuntimeError(
                f"scc round {outer}: backward reach frontier still non-empty "
                f"after {max_inner} supersteps (graph deeper than max_inner; raise it)"
            )
        done = colors.join(reached, "id").select("id", F.col("lbl").alias("scc"))
        assigned_parts.append(materialize(done))
        remaining = materialize(remaining.join(done.select("id"), "id", "left_anti"))
        dedges = materialize(
            dedges.join(remaining.select(F.col("id").alias("src")), "src", "left_semi")
            .join(remaining.select(F.col("id").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
        )
        outer += 1

    if remaining.limit(1).count() != 0:
        raise RuntimeError(
            f"scc: {remaining.count()} vertices unresolved after max_outer={max_outer} "
            "rounds — returning would mislabel multi-vertex SCCs as singletons; "
            "raise max_outer or pass max_outer=None"
        )
    out = remaining.select("id", F.col("id").alias("scc"))  # empty, keeps schema
    for part in assigned_parts:
        out = out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# incremental repair after edge additions (dynamic-graph path)
# ---------------------------------------------------------------------------


def incremental_components(
    spark: SparkSession,
    labels: DataFrame,
    delta_edges: DataFrame,
) -> DataFrame:
    """Repair a ``(id, component)`` labeling after edge ADDITIONS without
    touching the original edge set — the CC analogue of the reference's
    dynamic addEdge path (src/dynamic_community_detection.cpp:51-76
    repairs communities per arriving edge; here a whole delta batch is
    folded in one pass).

    Only the delta participates: each delta edge (u, v) merges the
    components ``label(u)`` and ``label(v)``, so the merge graph has at
    most ``|delta|`` distinct component pairs — never the corpus.  At
    100 TB this is the difference between re-clustering 10^12 edges and
    clustering the day's arrivals.

    Semantics: the result is EXACTLY ``connected_components(old ∪ delta)``
    (min-id labels), provided ``labels`` itself came from
    :func:`connected_components` or this function (min-id invariant).
    Vertices seen only in the delta enter as their own singleton label
    first.

    Plan shape: the delta is folded on the driver in two delta-sized
    round trips and no Python task —

    1. one Arrow collect of the delta's ``(src, dst)`` rows;
    2. one collect of the labels of the delta's endpoints: ``labels``
       semi-joined against a broadcast local relation of the endpoint
       ids, so only endpoint rows leave the label scan (the batch's
       endpoint set is a data-induced predicate, PAPERS: *Pushing
       Data-Induced Predicates Through Joins*);
    3. one :func:`_min_roots` pass over ``(label(u) or u, label(v) or v)``
       for the non-self-loop delta edges — the merge graph's exact min-id
       components, no iteration;
    4. one local ``(key, root)`` relation holding the old-component →
       root merges and the new vertices' labels.  The returned table is
       ``labels ⋈ broadcast(merges)`` (a map-side relabel) plus the
       new-vertex rows, coalesced to ``defaultParallelism`` partitions so
       a fold's table does not gain partitions per call.  The coalesce
       merges partitions by count, not by size, so the partition count is
       bounded but the rows are not balanced across partitions.

    No step shuffles: the returned plan is ``labels``' own plan, one
    broadcast join, a union and a coalesce.  The relabel still rewrites
    every label row (vertex-scale, map-side).  Condition: the driver
    holds one call's delta, so callers bound it
    (``stream_connected_components`` via ``n_batches``); corpus-scale
    graphs go through :func:`connected_components`.
    """
    delta = delta_edges.select("src", "dst").toPandas()
    endpoints = pd.unique(pd.concat([delta["src"], delta["dst"]]))
    if len(endpoints) == 0:
        return labels.select("id", "component")

    ids = spark.createDataFrame(pd.DataFrame({"id": endpoints}), "id long")
    known = labels.join(F.broadcast(ids), "id", "left_semi").select("id", "component")
    known = known.toPandas()
    label = dict(zip(known["id"].tolist(), known["component"].tolist()))

    # vertices seen only in the delta are their own component until merged
    # — from the UNFILTERED delta, so a self-loop's vertex still appears.
    # A new id is never an old component key: those are ids in ``labels``.
    new = [v for v in endpoints.tolist() if v not in label]
    roots = _min_roots(
        (label.get(s, s), label.get(d, d))
        for s, d in zip(delta["src"].tolist(), delta["dst"].tolist())
        if s != d
    )
    new_ids = set(new)
    rows = [(c, r, False) for c, r in roots.items() if r != c and c not in new_ids]
    rows += [(v, roots.get(v, v), True) for v in new]
    if not rows:
        return labels.select("id", "component")
    m = spark.createDataFrame(
        pd.DataFrame(rows, columns=["key", "root", "new"]),
        "key long, root long, new boolean",
    )
    merges = m.filter(~F.col("new")).select(F.col("key").alias("component"), "root")
    relabeled = labels.join(F.broadcast(merges), "component", "left").select(
        "id", F.coalesce("root", "component").alias("component")
    )
    added = m.filter(F.col("new")).select(
        F.col("key").alias("id"), F.col("root").alias("component")
    )
    return relabeled.unionByName(added).coalesce(spark.sparkContext.defaultParallelism)


def decremental_components(
    spark: SparkSession,
    labels: DataFrame,
    edges: DataFrame,
    removed_edges: DataFrame,
    max_iterations: int = 30,
) -> DataFrame:
    """Repair a ``(id, component)`` labeling after edge REMOVALS — the CC
    analogue of the reference's removeEdge path (src/graph.cpp removeEdge
    + src/dynamic_community_detection.cpp repair-on-removal semantics).

    Removal can SPLIT a component, and connectivity loss is a property of
    the whole surviving component — no delta-local merge can decide it.
    The scalable middle ground: recompute ONLY the components that lost an
    edge and reuse every other label untouched.  At 100 TB a removal batch
    touches a vanishing fraction of components, so the star rounds run on
    the affected induced subgraph, never the corpus.

    Semantics: result is EXACTLY ``connected_components(edges − removed)``
    (min-id labels), provided ``labels == connected_components(edges)``.
    Affected components are vertex-disjoint from the rest, and min-id is a
    per-component property, so the scoped recompute and the unaffected
    carry-over agree with the global recompute label-for-label.

    Plan shape: edges and removals are canonicalized to undirected
    (least, greatest) pairs (an anti-join removes BOTH orientations); the
    affected-component set is a semi-join against the removal endpoints
    (removal-scale, broadcastable); the surviving subgraph is one
    semi-join of the edge set against the affected vertex list, and only
    that subgraph iterates.
    """
    removed = (
        removed_edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    canon = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    surviving = canon.join(removed, ["a", "b"], "left_anti")

    # components containing at least one removal endpoint (removal-scale)
    removed_ids = (
        removed.select(F.col("a").alias("id"))
        .unionByName(removed.select(F.col("b").alias("id")))
        .distinct()
    )
    affected_comps = (
        labels.join(removed_ids, "id", "left_semi").select("component").distinct()
    )
    affected_verts = labels.join(
        F.broadcast(affected_comps), "component", "left_semi"
    ).select("id")

    # surviving edges inside affected components: an edge's endpoints share
    # the OLD component (it existed pre-removal), so one endpoint suffices
    sub = surviving.join(
        affected_verts.select(F.col("id").alias("a")), "a", "left_semi"
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"))

    recomputed = connected_components(
        spark, sub, vertices=affected_verts, max_iterations=max_iterations
    )
    untouched = labels.join(F.broadcast(affected_comps), "component", "left_anti")
    return untouched.select("id", "component").unionByName(
        recomputed.select("id", "component")
    )


def bipartite_check(
    spark: SparkSession,
    edges: DataFrame,
    max_iterations: int = 30,
) -> DataFrame:
    """(component, is_bipartite) — per connected component, whether the
    component is bipartite (= contains no odd cycle), decided by the
    DOUBLE-COVER construction: lift each undirected edge (u, v) to
    (u₀, v₁) and (u₁, v₀) on two copies of the vertex set.  A component
    is bipartite iff no vertex's two copies land in the same cover
    component (an odd cycle is exactly a walk that returns to the other
    side).  Pure composition of connected_components — the whole check
    is two CC runs plus two component-scale joins, no new shuffle
    shapes, and it inherits CC's O(log n) rounds at any scale.

    Vertex ids must fit 62 bits (the lift encodes copies as 2·id and
    2·id + 1); the id domain here is 60-bit portable hashes at most.
    """
    comps = connected_components(spark, edges, max_iterations=max_iterations)
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    cover = e.select(
        (F.col("src") * 2).alias("src"), (F.col("dst") * 2 + 1).alias("dst")
    ).unionByName(
        e.select((F.col("src") * 2 + 1).alias("src"), (F.col("dst") * 2).alias("dst"))
    )
    cover_cc = connected_components(spark, cover, max_iterations=max_iterations)
    side0 = cover_cc.filter(F.col("id") % 2 == 0).select(
        F.floor(F.col("id") / 2).cast("long").alias("id"), F.col("component").alias("c0")
    )
    side1 = cover_cc.filter(F.col("id") % 2 == 1).select(
        F.floor(F.col("id") / 2).cast("long").alias("id"), F.col("component").alias("c1")
    )
    return (
        comps.join(side0, "id")
        .join(side1, "id")
        .groupBy("component")
        .agg(
            (F.min((F.col("c0") != F.col("c1")).cast("int")) == 1).alias("is_bipartite")
        )
    )


def condensation_layers(
    spark: SparkSession, edges: DataFrame, max_depth: int = 200
) -> DataFrame:
    """(scc, layer, n_members) — contract a digraph to its SCC
    condensation DAG and assign every condensed node its LONGEST-path
    layer from the DAG's sources (layer 0 = no incoming condensation
    edge; layer(v) = 1 + max over predecessors).  The layering is the
    standard topological stratification: layer-k nodes depend only on
    layers < k, so it orders reply-graph cores into "who can influence
    whom" strata and is the scheduling order for any downstream
    per-SCC computation.

    Scale shape: one SCC run (see strongly_connected_components), then
    per round ONE keyed equi-join + max-aggregate on the CONDENSED
    node set — which is orders of magnitude smaller than the input
    graph (every nontrivial SCC collapses).  Rounds = DAG depth; the
    fixpoint raises at ``max_depth`` rather than returning a partial
    layering (ADVICE r2 convergence stance).  No driver-side data.
    """
    scc = strongly_connected_components(spark, edges)
    m_src = scc.select(F.col("id").alias("src"), F.col("scc").alias("cs"))
    m_dst = scc.select(F.col("id").alias("dst"), F.col("scc").alias("cd"))
    cedges = materialize(
        edges.select("src", "dst")
        .join(m_src, "src")
        .join(m_dst, "dst")
        .filter(F.col("cs") != F.col("cd"))
        .select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        .distinct()
    )
    layers = materialize(scc.select("scc").distinct().withColumn("layer", F.lit(0).cast("long")))
    for _ in range(max_depth):
        prop = (
            cedges.join(layers.withColumnRenamed("scc", "src"), "src")
            .groupBy(F.col("dst").alias("scc"))
            .agg((F.max("layer") + 1).alias("cand"))
        )
        new = materialize(
            layers.join(prop, "scc", "left")
            .select(
                "scc",
                F.greatest("layer", F.coalesce("cand", F.lit(0))).cast("long").alias("layer"),
            )
        )
        changed = (
            new.join(layers.withColumnRenamed("layer", "old"), "scc")
            .filter(F.col("layer") != F.col("old"))
            .limit(1)
            .count()
        )
        layers = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"condensation_layers: layering still changing after max_depth="
            f"{max_depth} rounds (DAG deeper than max_depth; raise it)"
        )
    members = scc.groupBy("scc").agg(F.count("*").alias("n_members"))
    return layers.join(members, "scc")


ROBUSTNESS_CUTS = (0, 10, 50, 100)


def robustness_profile(
    spark: SparkSession,
    edges: DataFrame,
    cuts: tuple[int, ...] = ROBUSTNESS_CUTS,
) -> DataFrame:
    """(n_removed, n_vertices, n_components, giant_size) — targeted-attack
    robustness curve (Albert-Jeong-Barabási, Nature 406, 2000): remove
    the top-``f`` vertices by distinct-neighbor degree (id tie-break)
    for each f in ``cuts`` and measure how the graph shatters — the
    resilience readout for reply/tool graphs where a few hub actors
    hold the topology together ("what if the coordinator agent / the
    search tool disappears?"), and the planner's stress test for how
    partition layouts behave when hot vertices are quarantined.

    One degree ranking is shared by all cuts; each cut is a semi-join
    filter + the north-star CC operator on the surviving subgraph —
    linear passes, no new join shapes.  Surviving isolated vertices
    count as singleton components (vertices= is passed), so
    n_components + giant_size together describe the shatter.  The
    ranking window is global (fine at any realistic cut size: you
    remove the TOP hubs, not a fraction of 10^12 — for fractional cuts
    switch to approx_quantile on degree and filter by threshold)."""
    d = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    deg = d.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("deg")
    )
    w = Window.orderBy(F.desc("deg"), F.asc("id"))
    ranked = deg.select("id", F.row_number().over(w).cast("long").alias("rnk"))
    ranked = materialize(ranked)

    rows = []
    for f in cuts:
        keep = ranked.filter(F.col("rnk") > f).select("id")
        sub = (
            d.join(keep.select(F.col("id").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("id").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
        )
        comp = connected_components(spark, sub, vertices=keep)
        stats = comp.groupBy("component").agg(F.count("*").alias("sz")).agg(
            F.count("*").cast("long").alias("n_components"),
            F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias("giant_size"),
            F.coalesce(F.sum("sz"), F.lit(0)).cast("long").alias("n_vertices"),
        ).collect()[0]
        rows.append(
            (f, stats["n_vertices"], stats["n_components"], stats["giant_size"])
        )

    unpersist_checkpoint(ranked)
    return spark.createDataFrame(
        rows, "n_removed long, n_vertices long, n_components long, giant_size long"
    )


def robustness_profile_sql(cuts: tuple[int, ...] = ROBUSTNESS_CUTS) -> str:
    """DuckDB twin over the symmetric `edges` CTE (recursive min-reach
    closure per cut — oracle-scale only; requires WITH RECURSIVE)."""
    parts = [
        "rb_d AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)",
        """rb_rank AS MATERIALIZED (
    SELECT id, ROW_NUMBER() OVER (ORDER BY deg DESC, id ASC)::BIGINT AS rnk
    FROM (SELECT src AS id, COUNT(*)::BIGINT AS deg FROM rb_d GROUP BY src)
)""",
    ]
    selects = []
    for f in cuts:
        parts.append(
            f"""rb_keep{f} AS MATERIALIZED (SELECT id FROM rb_rank WHERE rnk > {f}),
rb_e{f} AS MATERIALIZED (
    SELECT d.src, d.dst FROM rb_d d
    JOIN rb_keep{f} a ON a.id = d.src
    JOIN rb_keep{f} b ON b.id = d.dst
),
rb_reach{f} AS (
    SELECT id AS u, id AS v FROM rb_keep{f}
    UNION
    SELECT r.u, e.dst FROM rb_reach{f} r JOIN rb_e{f} e ON r.v = e.src
),
rb_comp{f} AS (SELECT u AS id, MIN(v) AS component FROM rb_reach{f} GROUP BY u),
rb_sz{f} AS (SELECT component, COUNT(*)::BIGINT AS sz FROM rb_comp{f} GROUP BY component)"""
        )
        selects.append(
            f"""SELECT {f}::BIGINT AS n_removed,
       COALESCE(SUM(sz), 0)::BIGINT AS n_vertices,
       COUNT(*)::BIGINT AS n_components,
       COALESCE(MAX(sz), 0)::BIGINT AS giant_size
FROM rb_sz{f}"""
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


PERCOLATION_PERMILLES = (250, 500, 750, 1000)


def percolation_curve(
    spark: SparkSession,
    edges: DataFrame,
    permilles: tuple[int, ...] = PERCOLATION_PERMILLES,
    seed: int = 0,
) -> DataFrame:
    """(permille, n_edges_kept, n_components, giant_size) — bond-
    percolation curve: keep each undirected edge independently with
    probability p (the portable canonical-pair coin, so both engines
    keep the IDENTICAL subgraph) and measure how the graph connects as
    p rises — the phase-transition readout complementing
    robustness_profile's targeted-attack curve (random failure vs
    attack, the Albert-Jeong-Barabási pairing).  Operationally: "how
    much of the reply traffic can we sample/lose before the actor graph
    fragments?" — the principled sizing input for edge-sampled motif
    estimation (sample_edges / triangle_estimate_sampled).

    The vertex set is held fixed across thresholds (isolated survivors
    are singleton components), so the giant-size series is comparable
    point to point.  One coin column serves every threshold: the kept
    set at a lower permille is a SUBSET of every higher one (coupled
    percolation, the standard construction), so the curve is monotone
    by construction, not by luck."""
    d = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    from ..textops.portable import md5_long

    coin = F.pmod(
        md5_long(
            F.concat_ws(":", F.lit(f"perc{seed}"), F.col("a"), F.col("b"))
        ),
        F.lit(1000),
    )
    d = materialize(d.select("a", "b", coin.alias("coin")))
    verts = materialize(
        d.select(F.col("a").alias("id"))
        .unionByName(d.select(F.col("b").alias("id")))
        .distinct()
    )
    rows = []
    for p in permilles:
        kept = d.filter(F.col("coin") < p)
        sub = kept.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
            kept.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        n_kept = kept.count()
        comp = connected_components(spark, sub, vertices=verts)
        stats = (
            comp.groupBy("component")
            .agg(F.count("*").alias("sz"))
            .agg(
                F.count("*").cast("long").alias("n_components"),
                F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias("giant_size"),
            )
            .collect()[0]
        )
        rows.append((p, n_kept, stats["n_components"], stats["giant_size"]))

    unpersist_checkpoint(d)
    unpersist_checkpoint(verts)
    return spark.createDataFrame(
        rows, "permille long, n_edges_kept long, n_components long, giant_size long"
    )


def percolation_curve_sql(
    permilles: tuple[int, ...] = PERCOLATION_PERMILLES, seed: int = 0
) -> str:
    """DuckDB twin over the symmetric `edges` CTE (recursive closure per
    threshold; requires WITH RECURSIVE)."""
    from ..textops.portable import md5_long_sql

    coin = md5_long_sql(f"concat('perc{seed}', ':', a, ':', b)") + " % 1000"
    parts = [
        f"""pc_d AS MATERIALIZED (
    SELECT a, b, ({coin}) AS coin FROM (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst
    )
)""",
        """pc_verts AS MATERIALIZED (
    SELECT a AS id FROM pc_d UNION SELECT b FROM pc_d
)""",
    ]
    selects = []
    for p in permilles:
        parts.append(
            f"""pc_e{p} AS MATERIALIZED (
    SELECT a AS src, b AS dst FROM pc_d WHERE coin < {p}
    UNION ALL
    SELECT b, a FROM pc_d WHERE coin < {p}
),
pc_reach{p} AS (
    SELECT id AS u, id AS v FROM pc_verts
    UNION
    SELECT r.u, e.dst FROM pc_reach{p} r JOIN pc_e{p} e ON r.v = e.src
),
pc_comp{p} AS (SELECT u, MIN(v) AS component FROM pc_reach{p} GROUP BY u),
pc_sz{p} AS (SELECT component, COUNT(*)::BIGINT AS sz FROM pc_comp{p} GROUP BY component)"""
        )
        selects.append(
            f"""SELECT {p}::BIGINT AS permille,
       (SELECT COUNT(*) FROM pc_d WHERE coin < {p})::BIGINT AS n_edges_kept,
       COUNT(*)::BIGINT AS n_components,
       COALESCE(MAX(sz), 0)::BIGINT AS giant_size
FROM pc_sz{p}"""
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)
