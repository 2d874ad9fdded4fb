"""IterationDriver: durable checkpointing, lineage metrics, resume (north_rule)."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from sbm_communitydetection_spark.plans.iterate import IterationDriver


def _inc_step(state, i):
    new = state.withColumn("v", F.col("v") + 1)
    # converge when v reaches 5 everywhere
    return new, F.sum((F.col("v") < 5).cast("long"))


def test_parquet_checkpoint_and_metrics(spark, tmp_path):
    d = IterationDriver(spark, run_id="t1", checkpoint_dir=str(tmp_path))
    state = spark.createDataFrame([(i, 0) for i in range(10)], "id long, v long")
    res = d.run(state, _inc_step, max_iterations=10, metric_name="remaining")
    assert res.converged and res.iterations == 5
    assert sorted(r.v for r in res.state.collect()) == [5] * 10
    # durable snapshots exist per iteration
    for i in range(6):
        assert os.path.exists(str(tmp_path / "t1" / f"batch={i}" / "state" / "_SUCCESS"))
    # lineage/metrics log has one row per iteration incl. init
    lines = [json.loads(x) for x in open(tmp_path / "t1" / "_metrics.jsonl")]
    assert len(lines) == 6
    assert lines[0]["phase"] == "init"
    assert all("snapshot" in x and "partitions" in x for x in lines)
    assert [x["iteration"] for x in lines] == list(range(6))
    # per-partition lineage: part-file rows sum to the snapshot's row count
    for x in lines:
        pl = x["partition_lineage"]
        assert pl and sum(p["rows"] for p in pl) == 10
        assert all(p["bytes"] > 0 and p["file"].endswith(".parquet") for p in pl)
    # Q10 resource probes: every iteration row carries RSS + CPU of the
    # driver-plus-JVM process tree (reference quality_measures.cpp:190-220)
    assert all(x["rss_bytes"] > 0 and x["cpu_sec"] > 0 for x in lines[1:])


def test_resume_from_latest_snapshot(spark, tmp_path):
    d = IterationDriver(spark, run_id="t2", checkpoint_dir=str(tmp_path))
    state = spark.createDataFrame([(i, 0) for i in range(10)], "id long, v long")
    # run only 2 iterations (simulated interruption)
    partial = d.run(state, _inc_step, max_iterations=2, metric_name="remaining")
    assert not partial.converged
    assert d.latest_complete_iteration() == 2

    # a NEW driver resumes mid-run from the durable snapshot and finishes
    d2 = IterationDriver(spark, run_id="t2", checkpoint_dir=str(tmp_path))
    calls = []

    def counting_step(s, i):
        calls.append(i)
        return _inc_step(s, i)

    res = d2.run(state, counting_step, max_iterations=10, resume=True, metric_name="remaining")
    assert res.converged
    assert calls and calls[0] == 3  # continued at iteration 3, not 1
    assert sorted(r.v for r in res.state.collect()) == [5] * 10


def test_checkpoint_dir_alone_selects_the_fold_layout(spark, tmp_path):
    """A checkpoint_dir is enough for a durable driver: every superstep
    is a FoldCheckpointer batch with one full-snapshot table ``state``
    under a layout-2 manifest, and a NEW driver resumes from it — a
    stray non-numeric batch=* directory in the run dir is ignored."""
    d = IterationDriver(spark, run_id="fold", checkpoint_dir=str(tmp_path))
    state = spark.createDataFrame([(i, 0) for i in range(6)], "id long, v long")
    partial = d.run(state, _inc_step, max_iterations=2, metric_name="remaining")
    assert not partial.converged
    run_dir = tmp_path / "fold"
    for i in range(3):
        assert (run_dir / f"batch={i}" / "state" / "_SUCCESS").exists()
    assert json.loads((run_dir / "manifest.json").read_text()) == {"layout": 2}
    assert partial.metrics[-1]["snapshot"].endswith(os.path.join("batch=2", "state"))

    (run_dir / "batch=tmp" / "state").mkdir(parents=True)
    (run_dir / "batch=tmp" / "state" / "_SUCCESS").touch()
    d2 = IterationDriver(spark, run_id="fold", checkpoint_dir=str(tmp_path))
    assert d2.latest_complete_iteration() == 2
    calls = []

    def counting_step(s, i):
        calls.append(i)
        return _inc_step(s, i)

    res = d2.run(state, counting_step, max_iterations=10, resume=True, metric_name="remaining")
    assert res.converged and calls[0] == 3
    assert sorted(r.v for r in res.state.collect()) == [5] * 6
    assert d2.latest_complete_iteration() == 5


def test_local_checkpoint_mode(spark):
    d = IterationDriver(spark, run_id="t3")
    state = spark.createDataFrame([(i, 0) for i in range(4)], "id long, v long")
    res = d.run(state, _inc_step, max_iterations=10, metric_name="remaining")
    assert res.converged and sorted(r.v for r in res.state.collect()) == [5] * 4


def test_canonical_relabel_distributed_path_matches_window_path(spark):
    from pyspark.sql import functions as F

    from sbm_communitydetection_spark.operators.graph_ops import canonical_relabel

    labels = spark.createDataFrame(
        [(i, (i * 7) % 5 + 100) for i in range(50)], "id long, label long"
    )
    a = sorted((r.id, r.label) for r in canonical_relabel(labels).collect())
    b = sorted(
        (r.id, r.label)
        for r in canonical_relabel(labels, distributed_threshold=1).collect()
    )
    assert a == b
    assert {lbl for _, lbl in a} == {0, 1, 2, 3, 4}


def test_superseded_state_blocks_released(spark):
    """Back-to-back operators must not pile up their iteration history in
    the block manager (measured r2: LPA 15s fresh vs 47s after PageRank at
    local[32] before the unpersist discipline)."""
    from sbm_communitydetection_spark.operators.graph_ops import symmetrize
    from sbm_communitydetection_spark.operators.label_propagation import label_propagation
    from sbm_communitydetection_spark.operators.pagerank import pagerank

    raw = spark.range(3000).select(
        (F.xxhash64("id") % 200).alias("src"),
        (F.xxhash64("id", F.lit(1)) % 200).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    edges = symmetrize(raw).localCheckpoint(eager=True)
    sc = spark.sparkContext._jsc.sc()
    base = len(sc.getRDDStorageInfo())
    pagerank(spark, edges, tolerance=-1.0, max_iterations=6).count()
    label_propagation(spark, edges, max_iterations=4, variant="plain", tolerance=-1.0).state.count()
    after = len(sc.getRDDStorageInfo())
    # 10 supersteps ran; only the two operators' FINAL states may remain
    # cached beyond what existed before (plus nothing from statics)
    assert after - base <= 2, f"cached RDDs grew {base} -> {after}"

    # a stream fold releases each batch's superseded state too: only the
    # labeling it returns stays
    from sbm_communitydetection_spark.plans.iterate import unpersist_checkpoint
    from sbm_communitydetection_spark.streaming.stream_driver import stream_connected_components

    stream = raw.withColumn("edge_seq", F.col("src") * 1000 + F.col("dst")).localCheckpoint(eager=True)
    base = len(sc.getRDDStorageInfo())
    labels = stream_connected_components(spark, stream, n_batches=8)
    labels.count()
    after = len(sc.getRDDStorageInfo())
    unpersist_checkpoint(labels)
    assert after - base <= 1, f"stream CC: cached RDDs grew {base} -> {after}"

    # so do the other folds over 8 batches, their intra-batch supersteps
    # included, and the Katz loops: only the tables they return stay
    from sbm_communitydetection_spark.operators.katz import (
        eigenvector_centrality,
        katz_centrality,
    )
    from sbm_communitydetection_spark.streaming.stream_driver import (
        stream_community_detection,
        stream_pagerank,
    )

    def communities(**kw):
        res = stream_community_detection(spark, stream, n_batches=8, **kw)
        return [res.labels, res.edges]

    runs = {
        "stream LPA": communities,
        "stream LPA, r-hop repair": lambda: communities(locality_radius=1),
        "stream PageRank": lambda: [stream_pagerank(spark, stream, n_batches=8)],
        "Katz": lambda: [katz_centrality(spark, edges)],
        "eigenvector": lambda: [eigenvector_centrality(spark, edges)],
    }
    for name, run in runs.items():
        base = len(sc.getRDDStorageInfo())
        returned = run()
        for df in returned:
            df.count()
        after = len(sc.getRDDStorageInfo())
        for df in returned:
            unpersist_checkpoint(df)
        assert after - base <= len(returned), f"{name}: cached RDDs grew {base} -> {after}"


def test_sync_communities_equals_full_recompute(spark):
    """C2 incremental coarsen repair == full C1 recompute after disband
    (src/dynamic_community_detection.cpp:249-276 semantics)."""
    from pyspark.sql import functions as F

    from sbm_communitydetection_spark.operators.graph_ops import (
        coarsen,
        sync_communities,
        symmetrize,
    )
    from sbm_communitydetection_spark.operators.label_propagation import label_propagation

    raw = spark.range(600).select(
        (F.xxhash64("id") % 50).alias("src"),
        (F.xxhash64("id", F.lit(1)) % 50).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    edges = symmetrize(raw).localCheckpoint(eager=True)
    # an LPA labeling satisfies the label-is-a-member-id invariant
    labels = label_propagation(
        spark, edges, max_iterations=3, variant="keep_own", tolerance=-1.0
    ).state.localCheckpoint(eager=True)
    coarse = coarsen(edges, labels)
    touched = labels.select("label").distinct().orderBy("label").limit(2)

    repaired, new_labels = sync_communities(coarse, edges, labels, touched)
    expected = coarsen(edges, new_labels)

    got = {(r.src, r.dst): r.weight for r in repaired.collect()}
    want = {(r.src, r.dst): r.weight for r in expected.collect()}
    assert got == want
    # disbanded members are singletons; everyone else unchanged
    moved = new_labels.join(labels.withColumnRenamed("label", "old"), "id").filter(
        F.col("label") != F.col("old")
    )
    assert moved.filter(F.col("label") != F.col("id")).count() == 0


def test_pagerank_resumes_mid_iteration(spark, tmp_path):
    """north_rule sentence, verified literally for the flagship op: a
    PageRank run killed after 3 durable snapshots resumes mid-iteration
    from the checkpoint and finishes bit-compatibly (parquet doubles
    round-trip exactly; only partial-sum order may differ -> 1e-12)."""
    from pyspark.sql import functions as F

    from sbm_communitydetection_spark.operators.pagerank import pagerank

    edges = spark.range(4000).select(
        (F.xxhash64("id") % 300).alias("src"),
        (F.xxhash64("id", F.lit(1)) % 300).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    ).filter(F.col("src") != F.col("dst"))
    edges = edges.localCheckpoint(eager=True)

    # one uninterrupted 6-iteration run (the ground truth)
    d_full = IterationDriver(
        spark, run_id="prfull", checkpoint_dir=str(tmp_path / "full")
    )
    full = {
        r.id: r.rank
        for r in pagerank(
            spark, edges, tolerance=-1.0, max_iterations=6, driver=d_full
        ).collect()
    }

    # interrupted run: 3 iterations, then a NEW driver resumes to 6
    d1 = IterationDriver(
        spark, run_id="pr", checkpoint_dir=str(tmp_path / "r")
    )
    pagerank(spark, edges, tolerance=-1.0, max_iterations=3, driver=d1)
    assert d1.latest_complete_iteration() == 3
    d2 = IterationDriver(
        spark, run_id="pr", checkpoint_dir=str(tmp_path / "r")
    )
    resumed = {
        r.id: r.rank
        for r in pagerank(
            spark, edges, tolerance=-1.0, max_iterations=6, driver=d2, resume=True
        ).collect()
    }
    assert set(resumed) == set(full)
    assert all(abs(resumed[i] - full[i]) < 1e-12 for i in resumed)
    assert d2.latest_complete_iteration() == 6


def test_pagerank_with_dangling_vertices_resumes_mid_iteration(spark, tmp_path):
    """The dangling mass rides each state's persist job as an observed
    metric; a resumed run has no such job for the state it resumes from
    and computes the mass once with an aggregate. Both runs match the
    uninterrupted, non-durable one."""
    from sbm_communitydetection_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 2), (2, 0, 1), (2, 3, 1), (3, 4, 1), (0, 5, 3)],
        "src long, dst long, weight long",
    )  # 4 and 5 have no out-edges
    full = {r.id: r.rank for r in pagerank(spark, edges, tolerance=-1.0, max_iterations=5).collect()}
    assert abs(sum(full.values()) - 1.0) < 1e-12
    for resume_after in (0, 2):
        ckpt = str(tmp_path / f"after{resume_after}")
        d1 = IterationDriver(spark, run_id="prd", checkpoint_dir=ckpt)
        pagerank(spark, edges, tolerance=-1.0, max_iterations=resume_after, driver=d1)
        assert d1.latest_complete_iteration() == resume_after
        d2 = IterationDriver(spark, run_id="prd", checkpoint_dir=ckpt)
        resumed = pagerank(
            spark, edges, tolerance=-1.0, max_iterations=5, driver=d2, resume=True
        ).collect()
        assert {r.id for r in resumed} == set(full)
        assert all(abs(r.rank - full[r.id]) < 1e-12 for r in resumed), resume_after


def test_lpa_resumes_mid_iteration(spark, tmp_path):
    """Resume parity for the LPA superstep state: a run killed after 2
    durable label snapshots resumes with a NEW driver and lands on the
    IDENTICAL label vector as the uninterrupted 4-iteration run (labels
    are longs — the parquet round-trip is exact, so equality is exact)."""
    from sbm_communitydetection_spark.operators.graph_ops import symmetrize
    from sbm_communitydetection_spark.operators.label_propagation import label_propagation

    raw = spark.range(3000).select(
        (F.xxhash64("id") % 200).alias("src"),
        (F.xxhash64("id", F.lit(7)) % 200).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    edges = symmetrize(raw.filter(F.col("src") != F.col("dst"))).localCheckpoint(eager=True)

    d_full = IterationDriver(
        spark, run_id="lpafull", checkpoint_dir=str(tmp_path / "full")
    )
    full = {
        r.id: r.label
        for r in label_propagation(
            spark, edges, tolerance=-1.0, max_iterations=4, driver=d_full
        ).state.collect()
    }

    d1 = IterationDriver(
        spark, run_id="lpa", checkpoint_dir=str(tmp_path / "r")
    )
    label_propagation(spark, edges, tolerance=-1.0, max_iterations=2, driver=d1)
    assert d1.latest_complete_iteration() == 2
    d2 = IterationDriver(
        spark, run_id="lpa", checkpoint_dir=str(tmp_path / "r")
    )
    resumed = {
        r.id: r.label
        for r in label_propagation(
            spark, edges, tolerance=-1.0, max_iterations=4, driver=d2, resume=True
        ).state.collect()
    }
    assert resumed == full
    assert d2.latest_complete_iteration() == 4


def test_lpa_resume_rejected_for_gain_variant(spark, tmp_path):
    import pytest

    from sbm_communitydetection_spark.operators.label_propagation import label_propagation

    edges = spark.createDataFrame([(0, 1, 1), (1, 0, 1)], "src long, dst long, weight long")
    with pytest.raises(ValueError, match="resume"):
        label_propagation(spark, edges, variant="gain", resume=True)


def test_cc_resumes_mid_iteration(spark, tmp_path):
    """Resume parity for connected components' star-pair state on a long
    path (needs >2 star rounds): kill after 2 durable rounds, resume with
    a NEW driver, and the final component labeling is exactly the full
    run's (= min id per path segment)."""
    from sbm_communitydetection_spark.operators.components import connected_components

    # two disjoint 150-vertex paths: 0..149 and 1000..1149
    rows = [(i, i + 1) for i in range(149)] + [(1000 + i, 1001 + i) for i in range(149)]
    edges = spark.createDataFrame(rows, "src long, dst long").withColumn(
        "weight", F.lit(1).cast("long")
    )

    full = {
        r.id: r.component
        for r in connected_components(
            spark,
            edges,
            driver=IterationDriver(
                spark,
                run_id="ccfull",
                checkpoint_dir=str(tmp_path / "full"),
            ),
        ).collect()
    }
    assert set(full.values()) == {0, 1000}

    d1 = IterationDriver(
        spark, run_id="cc", checkpoint_dir=str(tmp_path / "r")
    )
    connected_components(spark, edges, driver=d1, max_iterations=2)
    assert d1.latest_complete_iteration() == 2
    d2 = IterationDriver(
        spark, run_id="cc", checkpoint_dir=str(tmp_path / "r")
    )
    resumed = {
        r.id: r.component
        for r in connected_components(spark, edges, driver=d2, resume=True).collect()
    }
    assert resumed == full


def test_bp_resumes_mid_iteration(spark, tmp_path):
    """Resume parity for the BP message state (agg impl): a run killed
    after 2 durable snapshots resumes with a NEW driver and lands on the
    identical belief argmax as the uninterrupted 4-iteration run (the
    array<double> message state round-trips parquet exactly; only
    partial-sum order may differ -> 1e-9 on the belief values)."""
    from sbm_communitydetection_spark.operators.belief_propagation import (
        belief_propagation,
    )
    from sbm_communitydetection_spark.operators.graph_ops import symmetrize

    raw = spark.range(1500).select(
        (F.xxhash64("id") % 120).alias("src"),
        (F.xxhash64("id", F.lit(3)) % 120).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    edges = symmetrize(raw.filter(F.col("src") != F.col("dst"))).localCheckpoint(
        eager=True
    )
    k = 2
    priors = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.array(F.lit(0.6), F.lit(0.4)).alias("prior")
    )

    d_full = IterationDriver(
        spark, run_id="bpfull", checkpoint_dir=str(tmp_path / "full")
    )
    full = {
        r.id: (r.label, r.belief)
        for r in belief_propagation(
            spark, edges, priors, k, 0.9, 0.1,
            tolerance=-1.0, max_iterations=4, driver=d_full,
        ).collect()
    }

    d1 = IterationDriver(
        spark, run_id="bp", checkpoint_dir=str(tmp_path / "r")
    )
    belief_propagation(
        spark, edges, priors, k, 0.9, 0.1,
        tolerance=-1.0, max_iterations=2, driver=d1,
    )
    assert d1.latest_complete_iteration() == 2
    d2 = IterationDriver(
        spark, run_id="bp", checkpoint_dir=str(tmp_path / "r")
    )
    resumed = {
        r.id: (r.label, r.belief)
        for r in belief_propagation(
            spark, edges, priors, k, 0.9, 0.1,
            tolerance=-1.0, max_iterations=4, driver=d2, resume=True,
        ).collect()
    }
    assert set(resumed) == set(full)
    for i in resumed:
        assert resumed[i][0] == full[i][0]
        assert all(
            abs(a - b) < 1e-9 for a, b in zip(resumed[i][1], full[i][1])
        )
    assert d2.latest_complete_iteration() == 4


def _sbm_edge_stream(spark):
    from sbm_communitydetection_spark.sources.sbm import generate_sbm

    _, raw = generate_sbm(spark, n=200, k=4, m=1000, p_in=0.9, p_out=0.1, seed=1)
    return raw.withColumn("weight", F.lit(1).cast("long")).localCheckpoint(eager=True)


def _run_stream_cc(spark, stream):
    from sbm_communitydetection_spark.streaming.stream_driver import stream_connected_components

    return stream_connected_components(spark, stream, n_batches=6)


def _run_pagerank(spark, stream):
    from sbm_communitydetection_spark.operators.pagerank import pagerank

    return pagerank(spark, stream.select("src", "dst", "weight"), tolerance=-1.0, max_iterations=20)


def _run_lpa(spark, stream):
    from sbm_communitydetection_spark.operators.graph_ops import symmetrize
    from sbm_communitydetection_spark.operators.label_propagation import label_propagation

    edges = symmetrize(stream.select("src", "dst", "weight"))
    return label_propagation(spark, edges, max_iterations=5, tolerance=-1.0).state


def _run_cc(spark, stream):
    from sbm_communitydetection_spark.operators.components import connected_components

    return connected_components(spark, stream.select("src", "dst", "weight"))


def _run_stream_lpa(spark, stream):
    from sbm_communitydetection_spark.streaming.stream_driver import stream_community_detection

    return stream_community_detection(spark, stream, n_batches=4).labels


@pytest.mark.parametrize(
    "run", [_run_stream_cc, _run_pagerank, _run_lpa, _run_cc, _run_stream_lpa],
    ids=["stream_cc_6_batches", "pagerank_20", "lpa_5", "cc", "stream_lpa_4_batches"],
)
def test_materialized_state_keeps_plan_statistics_flat(spark, run):
    """Every materialized state carries statistics for the stored table,
    not the product of its defining query's estimates: a fold or loop
    that reads the previous state several times per step would otherwise
    double the sizeInBytes digit count per step (stream CC: 923 digits
    after 6 batches), and Catalyst's planning time with it. Checks plan
    size, not wall time."""
    out = run(spark, _sbm_edge_stream(spark))
    digits = len(str(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert digits <= 20, digits


def _count_jobs(spark, run) -> tuple:
    """(Spark jobs ``run()`` starts, its result). Jobs are counted under a
    unique job group: the status store's job list is capped at
    spark.ui.retainedJobs, so a before/after difference would read near 0
    late in a session."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count guard")
    try:
        out = run()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_stream_cc_folds_each_batch_in_few_jobs(spark):
    """A stream-CC batch is folded on the driver, not by a distributed
    fixpoint or a Python task: two delta-sized collects, one broadcast
    and the materialize — ≤ 6 Spark jobs per batch (the union-find task
    and its shuffles cost 10; star rounds per batch ~37)."""
    stream = _sbm_edge_stream(spark)
    jobs, _ = _count_jobs(spark, lambda: _run_stream_cc(spark, stream))
    assert jobs <= 6 * 6, f"{jobs} jobs for 6 batches ({jobs / 6:.1f} per batch)"


def test_stream_cc_label_partitions_stay_bounded(spark):
    """Each batch unions its new vertices' rows into the label table; the
    coalesce after that union keeps the partition count flat instead of
    growing by defaultParallelism per batch."""
    from sbm_communitydetection_spark.streaming.stream_driver import stream_connected_components

    stream = _sbm_edge_stream(spark)
    parts = {
        n: stream_connected_components(spark, stream, n_batches=n).rdd.getNumPartitions()
        for n in (2, 12)
    }
    assert parts[12] == parts[2], parts


def test_non_durable_run_builds_no_init_row(spark):
    """Without ``checkpoint_dir`` the init metrics row has nowhere to go,
    so its row count is never taken: a one-superstep run is two jobs,
    the initial and the step's materialize."""
    d = IterationDriver(spark, run_id="init_row")
    state = spark.createDataFrame([(i, 0) for i in range(4)], "id long, v long")
    jobs, res = _count_jobs(
        spark,
        lambda: d.run(
            state,
            lambda s, i: (s.withColumn("v", F.col("v") + 1), F.max(F.lit(0.0))),
            max_iterations=1,
        ),
    )
    assert res.converged and res.iterations == 1
    assert jobs == 2, jobs


def test_a_step_metric_is_an_aggregate_column_or_none(spark):
    """The metric rides the persist job: a step returning a callable or a
    float (each an action of its own when the step computes it) raises
    TypeError; None runs the superstep with no convergence test, and a
    working column the metric reads is not kept in the state."""
    d = IterationDriver(spark, run_id="typed")
    state = spark.createDataFrame([(i, 0) for i in range(4)], "id long, v long")
    for bad in (0.0, lambda persisted: 0.0):
        with pytest.raises(TypeError, match="aggregate Column"):
            d.run(state, lambda s, i, bad=bad: (s, bad), max_iterations=1)
    res = d.run(state, lambda s, i: (s.withColumn("v", F.col("v") + 1), None), max_iterations=2)
    assert not res.converged and res.iterations == 2
    assert [m["delta"] for m in res.metrics] == [None, None]

    def step(s, i):
        new = s.select("id", (F.col("v") + 1).alias("v"), F.col("v").alias("old"))
        return new, F.max(F.col("v") - F.col("old") - 1)

    res = d.run(state, step, max_iterations=3)
    assert res.converged and res.iterations == 1
    assert res.state.columns == ["id", "v"]
    assert sorted(r.v for r in res.state.collect()) == [1] * 4


def test_materialize_rejects_a_false_partitioning_key(spark):
    """A key the executed plan is not hash-partitioned on raises instead
    of being recorded: a later join would trust it and skip a needed
    exchange."""
    from sbm_communitydetection_spark.plans.iterate import materialize

    by_label = spark.range(100).select("id", (F.col("id") % 7).alias("label")).repartition("label")
    with pytest.raises(ValueError, match="not hash-partitioned on 'id'"):
        materialize(by_label, "id")
    with pytest.raises(ValueError, match="not hash-partitioned on 'id'"):
        materialize(spark.range(100), "id")  # range-partitioned, not hashed
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_materialize_accepts_the_aliased_lpa_init(spark):
    """LPA's singleton init ``select(id, id AS label)`` is hash-partitioned
    on both aliases; the key check accepts it and records hash(id), not
    whichever alias the checkpoint would keep first."""
    from sbm_communitydetection_spark.plans.iterate import materialize, unpersist_checkpoint

    init = spark.range(100).repartition("id").select("id", F.col("id").alias("label"))
    state = materialize(init, "id")
    try:
        recorded = state._jdf.queryExecution().logical().outputPartitioning().toString()
        assert recorded.startswith("hashpartitioning(id#"), recorded
        assert sorted(r.label for r in state.collect()) == list(range(100))
    finally:
        unpersist_checkpoint(state)


def test_materialize_accepts_a_single_partition_state(spark):
    """Spark plans a 1-partition hash exchange as SinglePartition: a
    session (or superstep) at one shuffle partition must still
    materialize keyed state, recorded as hashpartitioning(key, 1)."""
    from sbm_communitydetection_spark.plans.iterate import materialize, unpersist_checkpoint

    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        states = [
            materialize(spark.range(100).repartition("id").select("id", (F.col("id") * 2).alias("v")), "id"),
            materialize(spark.range(100).repartition(1, "id"), "id"),
        ]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        for state in states:
            recorded = state._jdf.queryExecution().logical().outputPartitioning()
            assert recorded.toString().startswith("hashpartitioning(id#"), recorded.toString()
            assert recorded.numPartitions() == 1
        assert sorted(r.v for r in states[0].collect()) == list(range(0, 200, 2))
    finally:
        for state in states:
            unpersist_checkpoint(state)


def test_keyed_partitions_follow_aqe_min_partition_size(spark):
    """k = clamp(ceil(edges × 24 B / minPartitionSize), 1, shuffle
    partitions), read from AQE's own conf."""
    from sbm_communitydetection_spark.plans.iterate import keyed_partitions

    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert keyed_partitions(spark, 0) == 1
    assert keyed_partitions(spark, 8_000) == 1  # 192 KB under the 1 MB default
    assert keyed_partitions(spark, 19_200_000) == cap
    old = spark.conf.get(key)
    spark.conf.set(key, "64k")
    try:
        assert keyed_partitions(spark, 8_000) == 3  # ceil(192000 / 65536)
        assert 1 < keyed_partitions(spark, 20_000) <= cap
        assert keyed_partitions(spark, 10**9) == cap
    finally:
        spark.conf.set(key, old)


def _superstep_jobs(spark, run, iterations: int, fewer: int) -> list:
    """Job ids of the supersteps of ``run(iterations)``, after checking
    that ``iterations - fewer`` more supersteps cost exactly that many
    more jobs (one job per superstep; the supersteps are the last jobs)."""
    import uuid

    sc = spark.sparkContext
    groups = []
    for n in (fewer, iterations):
        groups.append(f"jobs_{uuid.uuid4().hex}")
        sc.setJobGroup(groups[-1], "jobs per superstep")
        try:
            run(n)
        finally:
            sc._jsc.clearJobGroup()
    short, full = (sorted(sc.statusTracker().getJobIdsForGroup(g)) for g in groups)
    assert len(full) - len(short) == iterations - fewer, (len(short), len(full))
    return full[-iterations:]


def test_small_graph_supersteps_run_one_single_task_job_each(spark):
    """On a graph far under AQE's 1 MB partition floor the keyed state
    gets k = 1: a fixed-iteration PageRank or LPA superstep is ONE job
    (no broadcast, no metric action) whose stages each run one task,
    instead of spark.sql.shuffle.partitions tasks per stage."""
    from sbm_communitydetection_spark.operators.graph_ops import symmetrize
    from sbm_communitydetection_spark.operators.label_propagation import label_propagation
    from sbm_communitydetection_spark.operators.pagerank import pagerank

    raw = spark.range(3000).select(
        (F.xxhash64("id") % 200).alias("src"),
        (F.xxhash64("id", F.lit(3)) % 200).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    directed = raw.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=True)
    edges = symmetrize(directed).localCheckpoint(eager=True)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) > 1
    runs = {
        "pagerank": (
            lambda n: pagerank(spark, directed, tolerance=-1.0, max_iterations=n), 10, 4
        ),
        "lpa": (
            lambda n: label_propagation(spark, edges, tolerance=-1.0, max_iterations=n), 5, 2
        ),
    }
    st = spark.sparkContext.statusTracker()
    for name, (run, iterations, fewer) in runs.items():
        for job in _superstep_jobs(spark, run, iterations, fewer):
            stages = [st.getStageInfo(s) for s in st.getJobInfo(job).stageIds]
            ran = [s for s in stages if s is not None and s.numCompletedTasks > 0]
            assert ran, (name, job)
            assert all(s.numTasks == 1 for s in ran), (name, [s.numTasks for s in ran])
    # the session count is restored after the runs
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) > 1


def _jobs_per_superstep(spark, run) -> float:
    """Spark jobs of one superstep of ``run(n)``: (jobs(4) − jobs(2)) / 2,
    each run counted in a job group of its own, so everything but the
    two extra supersteps cancels."""
    return (_count_jobs(spark, lambda: run(4))[0] - _count_jobs(spark, lambda: run(2))[0]) / 2


def test_convergence_metric_rides_the_persist_job(spark):
    """Every operator's convergence metric is observed on the job that
    persists its state: with a tolerance, a PageRank, LPA or HITS
    superstep is still ONE job, SSSP and k-core supersteps cost what
    their fixed-round ones do, and BP's old-message join adds at most
    the two map stages of its unkeyed state. A CC round is its unkeyed
    materialize alone, one job per AQE stage: ≤ 7.5 jobs a round here,
    where a checksum collect on the persisted pairs cost 2 more."""
    from sbm_communitydetection_spark.operators.belief_propagation import (
        belief_propagation,
        noisy_priors,
    )
    from sbm_communitydetection_spark.operators.components import connected_components
    from sbm_communitydetection_spark.operators.graph_ops import symmetrize
    from sbm_communitydetection_spark.operators.hits import hits
    from sbm_communitydetection_spark.operators.kcore import k_core
    from sbm_communitydetection_spark.operators.label_propagation import label_propagation
    from sbm_communitydetection_spark.operators.pagerank import pagerank
    from sbm_communitydetection_spark.operators.sssp import shortest_paths

    raw = spark.range(3000).select(
        (F.xxhash64("id") % 200).alias("src"),
        (F.xxhash64("id", F.lit(3)) % 200).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    directed = raw.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=True)
    edges = symmetrize(directed).localCheckpoint(eager=True)
    sources = directed.select(F.col("src").alias("id")).distinct().filter(F.col("id") % 50 == 0)
    verts = edges.select(F.col("src").alias("id")).distinct()
    priors = noisy_priors(verts.select("id", (F.col("id") % 2).alias("label")), 2, 0.4)

    def bp(impl, tol):
        return lambda n: belief_propagation(
            spark, edges, priors, 2, 0.6, 0.4, max_iterations=n, tolerance=tol, impl=impl
        )

    # (fixed mode, convergence mode); no run stops before its 4th superstep
    runs = {
        "pagerank": [
            lambda n, t=t: pagerank(spark, directed, tolerance=t, max_iterations=n)
            for t in (-1.0, 1e-30)
        ],
        "lpa": [
            lambda n, t=t: label_propagation(spark, edges, tolerance=t, max_iterations=n)
            for t in (-1.0, 0.0)
        ],
        "hits": [
            lambda n, t=t: hits(spark, directed, tolerance=t, max_iterations=n)
            for t in (-1.0, 1e-30)
        ],
        "sssp": [
            lambda n: shortest_paths(spark, directed, sources, rounds=n),
            lambda n: shortest_paths(spark, directed, sources, max_iterations=n),
        ],
        "k_core": [
            lambda n: k_core(spark, edges, k=9, rounds=n),
            lambda n: k_core(spark, edges, k=9, max_iterations=n),
        ],
        "bp_agg": [bp("agg", -1.0), bp("agg", 1e-30)],
        "bp_kernel": [bp("kernel", -1.0), bp("kernel", 1e-30)],
    }
    per = {name: [_jobs_per_superstep(spark, run) for run in modes] for name, modes in runs.items()}
    rows = [(i, i + 1, 1) for i in range(149)] + [(1000 + i, 1001 + i, 1) for i in range(149)]
    paths = spark.createDataFrame(rows, "src long, dst long, weight long")
    per["cc"] = _jobs_per_superstep(
        spark, lambda n: connected_components(spark, paths, max_iterations=n)
    )
    for name in ("pagerank", "lpa", "hits"):
        assert per[name] == [1, 1], (name, per)
    for name in ("sssp", "k_core"):
        assert per[name][1] == per[name][0], (name, per)
    for name in ("bp_agg", "bp_kernel"):
        assert per[name][1] <= per[name][0] + 2, (name, per)
    assert per["cc"] <= 7.5, per


def test_label_propagation_materializes_its_init_once(spark, monkeypatch):
    """The init labels are materialized by the driver only: one init
    materialize plus one per superstep, and no count of them."""
    import sbm_communitydetection_spark.operators.label_propagation as lpa_mod
    import sbm_communitydetection_spark.plans.iterate as iterate_mod

    calls = []
    real = iterate_mod.materialize

    def recording(df, key=None):
        calls.append(key)
        return real(df, key)

    monkeypatch.setattr(iterate_mod, "materialize", recording)
    monkeypatch.setattr(lpa_mod, "materialize", recording)
    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 0, 1), (1, 2, 1), (2, 1, 1), (3, 4, 1), (4, 3, 1)],
        "src long, dst long, weight long",
    )
    res = lpa_mod.label_propagation(spark, edges, tolerance=-1.0, max_iterations=3)
    assert res.iterations == 3
    assert calls == ["id"] * 4, calls


def test_only_materialize_calls_local_checkpoint():
    """The package has ONE checkpoint seam: ``.localCheckpoint(`` may
    appear only inside plans/iterate.materialize."""
    import ast
    import pathlib

    import sbm_communitydetection_spark

    root = pathlib.Path(sbm_communitydetection_spark.__file__).parent
    seam = root / "plans" / "iterate.py"
    fn = next(
        n for n in ast.parse(seam.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "materialize"
    )
    offenders = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line
        and not (path == seam and fn.lineno <= i <= fn.end_lineno)
    ]
    assert offenders == []


def test_durable_pagerank_superstep_keeps_the_cached_adjacency_in_place(spark, tmp_path):
    """A caller-built durable driver knows nothing of PageRank's key; the
    operator passes it at ``run``, so its supersteps are planned at the
    state's k and the cached, src-partitioned adjacency is scanned with
    no exchange above it (only the parquet-read state moves)."""
    from sbm_communitydetection_spark.operators.pagerank import pagerank

    raw = spark.range(3000).select(
        (F.xxhash64("id") % 200).alias("src"),
        (F.xxhash64("id", F.lit(3)) % 200).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )
    directed = raw.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=True)
    driver = IterationDriver(spark, run_id="pr_plan", checkpoint_dir=str(tmp_path))
    plans = []
    run = driver.run

    def recording_run(state, step, **kw):
        def recording_step(s, i):
            new, metric = step(s, i)
            plans.append(new._jdf.queryExecution().executedPlan().toString().splitlines())
            return new, metric

        return run(state, recording_step, **kw)

    driver.run = recording_run
    pagerank(spark, directed, tolerance=-1.0, max_iterations=2, driver=driver).count()
    assert len(plans) == 2
    for lines in plans:
        scans = [i for i, line in enumerate(lines) if "InMemoryTableScan" in line]
        assert scans, lines
        assert all("Exchange" not in lines[i - 1] for i in scans), "\n".join(lines)


def test_convergence_mode_pagerank_runs_two_jobs_per_superstep(spark):
    """With a tolerance a PageRank superstep runs no count job: at most
    two jobs (``test_convergence_metric_rides_the_persist_job`` pins it
    at one, the persist job observing the delta)."""
    from sbm_communitydetection_spark.operators.pagerank import pagerank

    edges = spark.range(8000).select(
        (F.xxhash64("id") % 200).alias("src"),
        (F.xxhash64("id", F.lit(5)) % 200).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    ).localCheckpoint(eager=True)
    jobs = {
        n: _count_jobs(spark, lambda n=n: pagerank(spark, edges, tolerance=1e-30, max_iterations=n))[0]
        for n in (3, 6)
    }
    assert jobs[6] - jobs[3] <= 2 * 3, jobs


def test_only_the_fold_store_branches_on_durability():
    """Persist, resume and release have one seam, FoldCheckpointer: no
    package module but plans/iterate.py branches on a checkpoint
    directory or resumes a store by hand."""
    import pathlib

    import sbm_communitydetection_spark

    root = pathlib.Path(sbm_communitydetection_spark.__file__).parent
    seam = root / "plans" / "iterate.py"
    forks = ("if checkpoint_dir", "ckpt is None", "ckpt is not None", ".resume_state(")
    offenders = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        if path != seam
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if any(f in line for f in forks)
    ]
    assert offenders == []
