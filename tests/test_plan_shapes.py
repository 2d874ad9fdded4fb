"""Physical-plan regression guards for the superstep join shape.

Round-1's scaling failure was SILENT: `localCheckpoint` under AQE
recorded UnknownPartitioning, so every superstep re-exchanged the whole
adjacency and nothing was wrong in the RESULTS — only the plan. These
tests pin the property the scaling number depends on: a superstep
against a partition-preserving-checkpointed adjacency moves ONLY the
state vector and the re-aggregation (2 exchanges), never the edge side.
PageRank, HITS, and SSSP all compile their inner loops to this shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sbm_communitydetection_spark.plans.iterate import materialize, unpersist_checkpoint
from sbm_communitydetection_spark.sources.bucketed import physical_exchange_count


@pytest.fixture(scope="module")
def adj(spark):
    edges = spark.range(20000).select(
        (F.xxhash64("id") % 1000).alias("src"),
        (F.xxhash64("id", F.lit(1)) % 1000).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    a = materialize(edges.repartition("src"), "src")
    yield a
    unpersist_checkpoint(a)


def _state(spark):
    return spark.range(1000).select(F.col("id").alias("src"), F.lit(1.0).alias("rank"))


def test_checkpointed_superstep_has_two_exchanges(spark, adj):
    # PR/HITS/SSSP shape: probe join on src + re-aggregate on dst.
    # Exchange 1: the state vector to hash(src); exchange 2: the
    # partial aggregates to hash(dst). The adjacency must NOT move.
    plan = (
        adj.join(_state(spark).hint("SHUFFLE_HASH"), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("rank") * F.col("weight")).alias("contrib"))
    )
    assert physical_exchange_count(plan) == 2


def test_plain_checkpoint_would_add_a_third_exchange(spark, adj):
    # the failure mode the preserving checkpoint exists to prevent:
    # an adjacency with UNKNOWN partitioning re-exchanges itself.
    # (localCheckpoint under AQE reproduces this; an un-checkpointed
    # repartition-less scan is the stable stand-in here.)
    raw = spark.range(20000).select(
        (F.xxhash64("id") % 1000).alias("src"),
        (F.xxhash64("id", F.lit(1)) % 1000).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    plan = (
        raw.join(_state(spark).hint("SHUFFLE_HASH"), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("rank") * F.col("weight")).alias("contrib"))
    )
    assert physical_exchange_count(plan) == 3


def test_co_partitioned_state_update_join_is_exchange_free(spark, adj):
    # the OTHER superstep join: new_state = state ⋈ contribs on id.
    # Both sides arrive hash(id)-partitioned (state from the previous
    # checkpoint, contribs from the groupBy(dst)) — zero NEW exchanges
    # beyond the two counted above.
    contribs = (
        adj.join(_state(spark).hint("SHUFFLE_HASH"), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("rank") * F.col("weight")).alias("contrib"))
        .withColumnRenamed("dst", "id")
    )
    state = materialize(
        spark.range(1000).select("id", F.lit(0.001).alias("rank")).repartition("id"), "id"
    )
    try:
        plan = state.join(contribs.hint("SHUFFLE_HASH"), "id", "left")
        # exchanges: state->hash(src) probe + partials->hash(dst); the
        # update join itself adds NONE (both sides already hash-aligned)
        assert physical_exchange_count(plan) == 2
    finally:
        unpersist_checkpoint(state)


def test_conv_influence_broadcasts_rank_side(spark):
    """The actor-rank side of conv_influence must broadcast: the turn
    table is the 10^12-row side and may only be touched by scan +
    hash-aggregate."""
    import datetime as dt

    from sbm_communitydetection_spark.operators.extract import conv_influence

    t0 = dt.datetime(2026, 1, 1)
    t = spark.createDataFrame(
        [("c1", 0, "a", "x", None, t0)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    ranks = spark.createDataFrame([("a", 1.0)], "id string, rank double")
    plan = conv_influence(t, ranks)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontamination_probe_is_broadcast(spark):
    """The benchmark shingle set must broadcast — the training-side
    inverted index may never shuffle on the shingle."""
    from sbm_communitydetection_spark.textops.dedup import decontamination_flags

    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "g h i j k l")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "a b c d e f")], "doc_id long, text string")
    plan = (
        decontamination_flags(docs, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_pii_scrub_is_exchange_free(spark):
    """pii_scrub is a pure per-row map: zero exchanges, rides the scan."""
    from sbm_communitydetection_spark.textops.analysis import pii_scrub

    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    assert physical_exchange_count(pii_scrub(docs)) == 0


def test_lsh_verify_is_candidate_restricted(spark):
    """The batch LSH verify must semi-join the shingle table down to
    candidate doc ids BEFORE the intersection self-join (VERDICT r2 #2):
    without the LeftSemi restriction the full-corpus quadratic shingle
    join the banding exists to avoid runs anyway."""
    from sbm_communitydetection_spark.textops.dedup import minhash_lsh_dup_pairs

    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "a b c d e g"), (2, "p q r s t u")],
        "doc_id long, text string",
    )
    plan = (
        minhash_lsh_dup_pairs(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "LeftSemi" in plan


def test_decontamination_big_benchmark_not_broadcast(spark):
    """Above max_broadcast_shingles the benchmark side must NOT broadcast
    (ADVICE r2: an unbounded broadcast blows the driver at scale)."""
    from sbm_communitydetection_spark.textops.dedup import decontamination_flags

    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "g h i j k l")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "a b c d e f")], "doc_id long, text string")
    plan = (
        decontamination_flags(docs, bench, max_broadcast_shingles=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin" in plan


def test_semantic_decontamination_big_benchmark_not_broadcast(spark):
    """Above max_broadcast_rows the benchmark matrix must NOT ride a
    corpus-proportional broadcast (VERDICT r3 #2): the fallback is the
    IVF-cell-restricted equi-join — no BroadcastNestedLoopJoin over the
    bench matrix, no CartesianProduct anywhere."""
    from sbm_communitydetection_spark.textops.similarity import (
        label_centroids,
        semantic_decontamination,
    )

    embs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5], i % 2) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    plan = (
        semantic_decontamination(
            embs, max_broadcast_rows=0, centroids=label_centroids(embs, dim=3)
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dsir_importance_no_cartesian_blowup(spark):
    """DSIR's only cross join is the 1-row totals broadcast; the scoring
    join against the bucket models must be an equi-join (never a
    cartesian over the corpus) and the totals side must broadcast."""
    from sbm_communitydetection_spark.textops.analysis import dsir_importance

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b x y"), (2, "p q r s")], "doc_id long, text string"
    )
    plan = (
        dsir_importance(docs, docs.filter("doc_id = 0"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row totals only


def test_conv_novelty_has_no_self_join_on_transcripts(spark):
    """Novelty ownership must come from the vocab-bounded owner aggregate
    — the optimized plan may scan the (tiny, in-memory) transcript
    relation for bigrams and start times, but never joins bigram rows
    against bigram rows without the owner aggregate in between (no
    cartesian, no broadcast-nested-loop)."""
    from sbm_communitydetection_spark.operators.extract import conv_novelty

    t = spark.createDataFrame(
        [("c1", 0, "user", "a b c", None, 0)],
        "conv_id string, turn_idx int, role string, text string, tool string, ms long",
    ).select("conv_id", "turn_idx", "role", "text", "tool", F.timestamp_millis("ms").alias("ts"))
    plan = conv_novelty(t)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_gram_set_is_broadcast(spark):
    """The high-DF gram set must broadcast onto the positional gram
    table (it is bounded by total_grams/min_df); the corpus may never
    shuffle on the gram."""
    from sbm_communitydetection_spark.textops.analysis import boilerplate_strip

    docs = spark.createDataFrame(
        [(i, "a b c d e f") for i in range(4)], "doc_id long, text string"
    )
    plan = (
        boilerplate_strip(docs, min_df=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_rich_club_filters_via_semi_joins(spark):
    """Club membership must restrict the edge table with semi-joins —
    no hub×hub join output is ever materialized."""
    from sbm_communitydetection_spark.operators.graph_ops import rich_club

    e = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a != b],
        "src long, dst long",
    )
    plan = rich_club(e, ks=(2,))._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan


def test_agent_loops_single_exchange(spark):
    """Both gaps-and-islands row_numbers AND the two run aggregates must
    all ride ONE hashpartitioning(conv_id) exchange — partitioning by
    conv_id clusters every (conv_id, tool[, run_id]) key too."""
    import datetime as dt

    from sbm_communitydetection_spark.operators.extract import agent_loops

    t = spark.createDataFrame(
        [("c1", 0, "a", "x", "f", dt.datetime(2026, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    assert physical_exchange_count(agent_loops(t)) == 1


def test_tool_chains_two_exchanges(spark):
    """Minimal shape: one conv-window exchange + one chain-agg exchange;
    the n-1 lead()s must NOT add per-lead exchanges."""
    import datetime as dt

    from sbm_communitydetection_spark.operators.extract import tool_chains

    t = spark.createDataFrame(
        [("c1", 0, "a", "x", "f", dt.datetime(2026, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    assert physical_exchange_count(tool_chains(t, n=4)) == 2


def test_embedding_covariance_single_exchange(spark):
    # the partial-Gram kernel's only shuffle is the (i, j)-keyed sum of
    # per-batch partials; the final mean-adjustment joins must broadcast
    # (d- and 1-row sides), adding no hash exchange.
    from sbm_communitydetection_spark.textops.similarity import embedding_covariance

    embs = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(i) for i in range(4)]).cast("array<float>").alias("embedding"),
    )
    plan = embedding_covariance(embs, dim=4)
    pstr = plan._jdf.queryExecution().executedPlan().toString()
    # the corpus kernel pass happened ONCE, at the moments checkpoint —
    # the downstream plan reads the materialized d^2-row aggregate and
    # must contain no Arrow kernel and no hash exchange at all
    assert "MapInPandas" not in pstr
    assert physical_exchange_count(plan) == 0
    assert "BroadcastHashJoin" in pstr  # the d-row stats sides broadcast


def test_kmeans_lloyd_assignment_broadcasts_centroids(spark):
    # the corpus side must never shuffle for assignment: the k x d
    # centroid table rides a broadcast join.
    from sbm_communitydetection_spark.textops.similarity import kmeans_lloyd

    embs = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(i) for i in range(3)]).cast("array<float>").alias("embedding"),
    )
    out = kmeans_lloyd(embs, n_cells=2, iters=1)
    assert out.count() == 6  # smoke: ran through; broadcast asserted below
    # recompile one assignment round explicitly to inspect the plan
    vexp = embs.select(
        "vec_id", F.posexplode(F.transform(F.col("embedding"), lambda x: x.cast("double")))
    ).select("vec_id", F.col("pos").alias("d"), F.col("col").alias("val"))
    cents = out
    d2 = (
        vexp.join(F.broadcast(cents), "d")
        .groupBy("vec_id", "cell")
        .agg(F.sum((F.col("val") - F.col("c")) ** 2).alias("d2"))
    )
    pstr = d2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in pstr
    assert "SortMergeJoin" not in pstr  # the corpus side never sorts/shuffles to assign
    assert physical_exchange_count(d2) <= 1  # at most the (vec_id, cell) agg


def test_walk_cooccurrence_no_self_join(spark):
    # the engine side pairs steps via window lead() — the compiled plan
    # must contain NO join at all downstream of the walk table.
    from pyspark.sql import Window

    walks = spark.range(1000).select(
        (F.col("id") % 50).alias("start_id"),
        (F.col("id") % 3).alias("walk_idx"),
        (F.col("id") % 7).alias("step"),
        F.xxhash64("id").alias("vertex"),
    )
    w = Window.partitionBy("start_id", "walk_idx").orderBy("step")
    leads = walks.select(
        "vertex",
        F.array([F.lead("vertex", o).over(w) for o in (1, 2)]).alias("ctxs"),
    )
    fwd = leads.select(
        F.col("vertex").alias("center"),
        F.explode(F.filter(F.col("ctxs"), lambda c: c.isNotNull())).alias("context"),
    )
    pairs = fwd.unionByName(
        fwd.select(F.col("context").alias("center"), F.col("center").alias("context"))
    )
    plan = pairs.groupBy("center", "context").agg(F.count("*").alias("n_pairs"))
    pstr = plan._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in pstr


def test_readability_is_exchange_free(spark):
    """readability_scores is per-row regex math: zero exchanges."""
    from sbm_communitydetection_spark.textops.analysis import readability_scores

    docs = spark.createDataFrame([(0, "a b.")], "doc_id long, text string")
    assert physical_exchange_count(readability_scores(docs)) == 0


def test_turn_segments_single_exchange(spark):
    """turn_segments partitions ONE window by conv_id and reuses that
    exchange for lag, the running segment sum, and the final
    (conv_id, segment) aggregate — a second shuffle would mean the
    rollup re-partitioned what the window already co-located."""
    from sbm_communitydetection_spark.operators.extract import turn_segments

    t = spark.createDataFrame(
        [("c", 0, "r", "x", None, 0)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts long",
    )
    assert physical_exchange_count(turn_segments(t)) == 1


def test_rrf_fusion_has_no_corpus_sized_shuffle(spark):
    """The fusion stage operates on two bounded top-depth lists; the
    plan may shuffle those lists but must not re-aggregate the corpus
    beyond what bm25/cosine already do.  Guard: the fused plan's
    exchange count equals the two primitives' combined count + the
    bounded fusion exchanges (ranking windows + fusion join), i.e.
    adding fusion does not multiply corpus passes."""
    from sbm_communitydetection_spark.textops.bm25 import bm25_topk
    from sbm_communitydetection_spark.textops.fusion import rrf_fused_topk
    from sbm_communitydetection_spark.textops.similarity import cosine_topk

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a c"), (2, "b c")], "doc_id long, text string"
    )
    embs = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 0), (2, [1.0, 1.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    qs = docs.filter(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    base = physical_exchange_count(bm25_topk(docs, qs, k=3)) + physical_exchange_count(
        cosine_topk(embs, k=2)
    )
    fused = physical_exchange_count(rrf_fused_topk(docs, embs, qs, k=2, depth=2))
    assert fused <= base + 4
