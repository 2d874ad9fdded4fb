"""Edge-stream batched driver (§2.10) + Structured Streaming ingestion."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from sbm_communitydetection_spark.operators.graph_ops import symmetrize, total_edges
from sbm_communitydetection_spark.sources.sbm import generate_sbm
from sbm_communitydetection_spark.streaming.stream_driver import stream_community_detection
from sbm_communitydetection_spark.streaming.structured import (
    read_edge_state,
    start_edge_ingest,
)


def test_stream_driver_tracks_planted_sbm(spark, tmp_path):
    vertices, stream = generate_sbm(spark, n=40, k=2, m=300, p_in=0.9, p_out=0.05, seed=5)
    edge_stream = stream.select(
        "src", "dst", F.lit(1).cast("long").alias("weight"), F.col("edge_seq")
    )
    truth = vertices.select("id", "label")
    mp = str(tmp_path / "stream_metrics.jsonl")
    res = stream_community_detection(
        spark, edge_stream, n_batches=4, supersteps_per_batch=6, truth=truth, metrics_path=mp
    )
    assert res.batches == 4
    assert len(res.metrics) == 4
    # S6 sink written, one row per batch, monotone edges_seen
    seen = [m["edges_seen"] for m in res.metrics]
    assert seen == sorted(seen)
    # final quality: on a well-separated SBM the tracked partition must be
    # strongly intra-community (edge classification accuracy vs truth)
    assert res.metrics[-1]["edge_cls_acc"] > 0.9, res.metrics[-1]
    # final edge table equals the full symmetrized stream
    full = symmetrize(edge_stream.select("src", "dst", "weight"))
    assert total_edges(res.edges).collect()[0][0] == total_edges(full).collect()[0][0]
    with open(mp) as f:
        assert len(f.readlines()) == 4


def _land_file(df, staging: str, feed: str, name: str) -> None:
    """Land one flat parquet file in the feed dir (file-source semantics:
    the stream lists files directly in the source directory)."""
    import glob
    import os
    import shutil

    df.coalesce(1).write.mode("overwrite").parquet(staging)
    os.makedirs(feed, exist_ok=True)
    shutil.copy(glob.glob(f"{staging}/part-*.parquet")[0], f"{feed}/{name}.parquet")


def test_structured_ingest_accumulates_weights(spark, tmp_path):
    src_dir = str(tmp_path / "feed")
    staging = str(tmp_path / "staging")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    b1 = spark.createDataFrame(
        [(0, 1, 1, 0), (1, 2, 1, 1)], "src long, dst long, weight long, edge_seq long"
    )
    b2 = spark.createDataFrame(
        [(0, 1, 2, 2), (2, 3, 1, 3)], "src long, dst long, weight long, edge_seq long"
    )
    _land_file(b1, staging, src_dir, "b1")
    q = start_edge_ingest(spark, src_dir, state_dir, ckpt)
    q.awaitTermination(120)
    _land_file(b2, staging, src_dir, "b2")
    q2 = start_edge_ingest(spark, src_dir, state_dir, ckpt)
    q2.awaitTermination(120)

    state = {(r.src, r.dst): r.weight for r in read_edge_state(spark, state_dir).collect()}
    # G2 accumulate semantics: (0,1) seen with weight 1 then 2 → 3, both directions
    assert state[(0, 1)] == 3 and state[(1, 0)] == 3
    assert state[(1, 2)] == 1 and state[(2, 1)] == 1
    assert state[(2, 3)] == 1 and state[(3, 2)] == 1
    assert len(state) == 6


def test_stream_resume_from_durable_checkpoint(spark, tmp_path):
    """north_rule: a killed streaming run resumes from the latest complete
    per-batch snapshot and ends bit-identical to an uninterrupted run."""
    import shutil

    vertices, stream = generate_sbm(spark, n=40, k=2, m=300, p_in=0.9, p_out=0.05, seed=5)
    edge_stream = stream.select(
        "src", "dst", F.lit(1).cast("long").alias("weight"), F.col("edge_seq")
    )

    full = stream_community_detection(
        spark, edge_stream, n_batches=4, supersteps_per_batch=4,
        checkpoint_dir=str(tmp_path), run_id="full",
    )
    want = sorted(map(tuple, full.labels.collect()))
    # durable per-batch lineage rows present
    assert all(m["partition_lineage"]["labels"] for m in full.metrics)

    # same run under run_id="crash", then simulate a crash after batch 1
    stream_community_detection(
        spark, edge_stream, n_batches=4, supersteps_per_batch=4,
        checkpoint_dir=str(tmp_path), run_id="crash",
    )
    for b in (2, 3):
        shutil.rmtree(tmp_path / "crash" / f"batch={b}")

    res = stream_community_detection(
        spark, edge_stream, n_batches=4, supersteps_per_batch=4,
        checkpoint_dir=str(tmp_path), run_id="crash", resume=True,
    )
    assert [m["batch"] for m in res.metrics] == [2, 3]  # only the re-run batches
    assert sorted(map(tuple, res.labels.collect())) == want


def test_locality_radius_stream_matches_planted(spark):
    """C2-style locality: bounding each batch's repair to the r-hop ball
    around affected vertices must still track the planted partition on a
    well-separated SBM (frozen labels outside the ball; full neighbor
    visibility inside)."""
    vertices, stream = generate_sbm(spark, n=40, k=2, m=300, p_in=0.9, p_out=0.05, seed=5)
    edge_stream = stream.select(
        "src", "dst", F.lit(1).cast("long").alias("weight"), F.col("edge_seq")
    )
    truth = vertices.select("id", "label")
    res = stream_community_detection(
        spark,
        edge_stream,
        n_batches=4,
        supersteps_per_batch=6,
        truth=truth,
        locality_radius=2,
    )
    assert res.metrics[-1]["edge_cls_acc"] > 0.9, res.metrics[-1]


def test_windowed_sink_epoch_replay_is_exactly_once(spark, tmp_path):
    """Checkpoint-replay semantics (ADVICE r2): re-delivering the SAME
    epoch must rewrite, not duplicate — the sink writes each epoch to its
    own partition directory with overwrite."""
    from sbm_communitydetection_spark.streaming.windowed import epoch_sink

    out = str(tmp_path / "rates")
    df = spark.createDataFrame(
        [("2026-01-01 12:00:00", "user", 2)],
        "window_start string, role string, n_turns long",
    )

    # foreachBatch delivers epoch 0 twice (failure between the sink write
    # and the checkpoint commit -> Structured Streaming replays the epoch)
    write_batch = epoch_sink(out)
    write_batch(df, 0)
    write_batch(df, 0)  # replay
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0].n_turns == 2
    # a distinct epoch is additive, not destructive
    write_batch(df, 1)
    assert spark.read.parquet(out).count() == 2


def test_windowed_turn_rates_drop_late_data(spark, tmp_path):
    """Watermarked windowed agg: finalized windows are emitted once, and a
    row arriving later than the watermark horizon is DROPPED."""
    import datetime as dt

    from sbm_communitydetection_spark.streaming.windowed import start_turn_rate_sink

    feed = str(tmp_path / "turns")
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "rates")
    ckpt = str(tmp_path / "wckpt")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def turns(rows):
        return spark.createDataFrame(
            [(c, i, r, "x", None, ts) for c, i, r, ts in rows],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )

    # batch 1: three turns in the 12:00 window, one in 12:05
    b1 = turns([
        ("c1", 0, "user", t0),
        ("c1", 1, "agent", t0 + dt.timedelta(minutes=1)),
        ("c2", 0, "user", t0 + dt.timedelta(minutes=2)),
        ("c2", 1, "user", t0 + dt.timedelta(minutes=6)),
    ])
    _land_file(b1, staging, feed, "b1")
    start_turn_rate_sink(spark, feed, out, ckpt).awaitTermination()

    # batch 2: event time jumps to 12:40 — the ENACTED watermark lags one
    # trigger (it is computed from the PREVIOUS batch's max event time), so
    # this batch advances it to 12:30 for the next one
    b2 = turns([("c3", 0, "user", t0 + dt.timedelta(minutes=40))])
    _land_file(b2, staging, feed, "b2")
    start_turn_rate_sink(spark, feed, out, ckpt).awaitTermination()

    # batch 3: one LATE row for the 12:00 window — behind the 12:30
    # watermark, must be dropped; the 13:00 row advances the watermark on
    # this batch closes both early windows (their counts exclude the late row)
    b3 = turns([
        ("c1", 2, "user", t0 + dt.timedelta(seconds=30)),  # late — dropped
        ("c4", 0, "user", t0 + dt.timedelta(minutes=60)),
    ])
    _land_file(b3, staging, feed, "b3")
    start_turn_rate_sink(spark, feed, out, ckpt).awaitTermination()

    # batch 4: advance the enacted watermark past 12:45 → 12:40 finalizes
    b4 = turns([("c5", 0, "user", t0 + dt.timedelta(minutes=90))])
    _land_file(b4, staging, feed, "b4")
    start_turn_rate_sink(spark, feed, out, ckpt).awaitTermination()

    got = {
        (r.window_start.minute, r.role): r.n_turns
        for r in spark.read.parquet(out).collect()
    }
    # 12:00 window finalized from batch 1 data ONLY (late row dropped)
    assert got[(0, "user")] == 2 and got[(0, "agent")] == 1
    assert got[(5, "user")] == 1
    assert got[(40, "user")] == 1


def test_stream_sessionize_matches_batch_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionizer: state (last_ts, session ordinal)
    carries across micro-batches, and the drained output equals the batch
    operators/extract.sessionize row-for-row."""
    import datetime as dt

    from sbm_communitydetection_spark.operators.extract import sessionize
    from sbm_communitydetection_spark.streaming.stateful import stream_sessionize

    gap_ms = 60_000  # 1 minute
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def turns(rows):
        return spark.createDataFrame(
            [(c, i, "user", "x", None, t0 + dt.timedelta(seconds=s)) for c, i, s in rows],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )

    # c1: gap INSIDE batch 1, gap ACROSS the batch boundary (state must
    # carry last_ms); c2: no gaps at all; c3 appears only in batch 2
    b1 = turns([("c1", 0, 0), ("c1", 1, 10), ("c1", 2, 100), ("c2", 0, 0)])
    b2 = turns([("c1", 3, 300), ("c1", 4, 310), ("c2", 1, 30), ("c3", 0, 0)])

    feed = str(tmp_path / "turns")
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "sckpt")

    _land_file(b1, staging, feed, "b1")
    stream_sessionize(spark, feed, out, ckpt, gap_ms).awaitTermination()
    _land_file(b2, staging, feed, "b2")
    stream_sessionize(spark, feed, out, ckpt, gap_ms).awaitTermination()

    got = {
        (r.conv_id, r.turn_idx): r.session_idx
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        (r.conv_id, r.turn_idx): r.session_idx
        for r in sessionize(b1.unionByName(b2), gap_ms=gap_ms).collect()
    }
    assert got == expected
    # the cross-batch gap (100s -> 300s > 60s) did open a new session
    assert got[("c1", 2)] == 1 and got[("c1", 3)] == 2


def test_stream_connected_components_equals_batch(spark):
    """Folding an edge stream batch-by-batch through incremental repair
    ends at exactly the one-shot CC labeling, across batch-boundary
    merges (the path graph only connects once the last batch lands)."""
    from sbm_communitydetection_spark.operators.components import connected_components
    from sbm_communitydetection_spark.streaming.stream_driver import (
        stream_connected_components,
    )

    n = 60
    rows = [(i, i + 1, 1, n - 2 - i) for i in range(n - 1)]  # reverse arrival order
    stream = spark.createDataFrame(rows, "src long, dst long, weight long, edge_seq long")
    got = {
        r.id: r.component
        for r in stream_connected_components(spark, stream, n_batches=4).collect()
    }
    exp = {
        r.id: r.component
        for r in connected_components(spark, stream.select("src", "dst", "weight")).collect()
    }
    assert got == exp == {i: 0 for i in range(n)}


def test_stream_novelty_fold_equals_batch(spark):
    """Folding start-ordered micro-batches through the bigram owner store
    emits each conversation's FINAL novelty at its arrival batch; the
    union equals the one-shot conv_novelty, including a cross-batch
    ownership claim (batch-1 'red green' beats the batch-2 copy)."""
    from pyspark.sql import functions as F
    from sbm_communitydetection_spark.operators.extract import conv_novelty
    from sbm_communitydetection_spark.streaming.stream_novelty import stream_conv_novelty

    rows = [
        ("a", 0, "user", "red green blue", None, 1000),
        ("c", 0, "user", "totally fresh words", None, 1500),
        ("b", 0, "user", "red green blue", None, 2000),  # later copy of a
        ("d", 0, "user", "red green yellow", None, 3000),
        ("e", 0, "user", "late but unique text", None, 4000),
        ("f", 0, "user", "red green yellow", None, 5000),  # copy of d
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ms long",
    ).select(
        "conv_id", "turn_idx", "role", "text", "tool", F.timestamp_millis("ms").alias("ts")
    )
    got = {
        r.conv_id: (r.n_bigrams, r.n_novel, r.novelty)
        for r in stream_conv_novelty(spark, t, n_batches=3).collect()
    }
    exp = {
        r.conv_id: (r.n_bigrams, r.n_novel, r.novelty)
        for r in conv_novelty(t).collect()
    }
    assert got == exp
    assert got["b"] == (2, 0, 0.0) and got["f"][1] == 0  # cross-batch losses


def test_stream_pagerank_kill_restart_parity(spark, tmp_path):
    """VERDICT r3 #9: a killed stream_pagerank resumes from its latest
    durable rank snapshot and ends bit-identical to an uninterrupted
    run."""
    import shutil

    from sbm_communitydetection_spark.streaming.stream_driver import stream_pagerank

    rows = [(i % 50, (i * 7 + 1) % 50, 1, i) for i in range(400) if i % 50 != (i * 7 + 1) % 50]
    stream = spark.createDataFrame(rows, "src long, dst long, weight long, edge_seq long")

    want = sorted(
        map(tuple, stream_pagerank(spark, stream, n_batches=3,
                                   checkpoint_dir=str(tmp_path), run_id="full").collect())
    )
    stream_pagerank(spark, stream, n_batches=3,
                    checkpoint_dir=str(tmp_path), run_id="crash")
    shutil.rmtree(tmp_path / "crash" / "batch=2")  # simulate a mid-run kill
    got = sorted(
        map(tuple, stream_pagerank(spark, stream, n_batches=3,
                                   checkpoint_dir=str(tmp_path), run_id="crash",
                                   resume=True).collect())
    )
    assert got == want


def test_stream_cc_kill_restart_parity(spark, tmp_path):
    """A killed stream_connected_components resumes from the latest
    complete labels snapshot; final labeling equals the uninterrupted
    run AND the one-shot batch CC."""
    import shutil

    from sbm_communitydetection_spark.operators.components import connected_components
    from sbm_communitydetection_spark.streaming.stream_driver import (
        stream_connected_components,
    )

    n = 60
    rows = [(i, i + 1, 1, n - 2 - i) for i in range(n - 1)]  # reverse arrival
    stream = spark.createDataFrame(rows, "src long, dst long, weight long, edge_seq long")

    want = sorted(
        map(tuple, stream_connected_components(
            spark, stream, n_batches=4,
            checkpoint_dir=str(tmp_path), run_id="full").collect())
    )
    stream_connected_components(spark, stream, n_batches=4,
                                checkpoint_dir=str(tmp_path), run_id="crash")
    for b in (2, 3):
        shutil.rmtree(tmp_path / "crash" / f"batch={b}")
    got = sorted(
        map(tuple, stream_connected_components(
            spark, stream, n_batches=4,
            checkpoint_dir=str(tmp_path), run_id="crash", resume=True).collect())
    )
    assert got == want
    assert got == sorted(
        map(tuple, connected_components(
            spark, stream.select("src", "dst", "weight")).collect())
    )


def test_stream_dedup_kill_restart_parity(spark, tmp_path):
    """A killed stream_minhash_dedup resumes from the latest durable LSH
    store + cumulative-pairs snapshot; the final emission set equals the
    uninterrupted run's (exactly-once across the kill)."""
    import shutil

    from sbm_communitydetection_spark.textops.stream_dedup import stream_minhash_dedup

    texts = [
        "the quick brown fox jumps over the lazy dog every single day",
        "the quick brown fox jumps over the lazy dog every single night",
        "completely unrelated text about distributed systems and parquet",
        "the quick brown fox jumps over the lazy dog every single day",  # dup of 0
        "another completely unrelated passage mentioning spark and joins",
        "completely unrelated text about distributed systems and parquet",  # dup of 2
    ]
    batches = [
        spark.createDataFrame(
            [(i + 2 * b, texts[i + 2 * b]) for i in range(2)], "doc_id long, text string"
        )
        for b in range(3)
    ]

    want = sorted(
        map(tuple, stream_minhash_dedup(spark, batches, threshold=0.4,
                                        checkpoint_dir=str(tmp_path),
                                        run_id="full").collect())
    )
    assert want  # the planted dups were found at all
    stream_minhash_dedup(spark, batches, threshold=0.4,
                         checkpoint_dir=str(tmp_path), run_id="crash")
    shutil.rmtree(tmp_path / "crash" / "batch=2")
    shutil.rmtree(tmp_path / "crash" / "batch=1")
    got = sorted(
        map(tuple, stream_minhash_dedup(spark, batches, threshold=0.4,
                                        checkpoint_dir=str(tmp_path),
                                        run_id="crash", resume=True).collect())
    )
    assert got == want


def test_stream_triangles_kill_restart_parity(spark, tmp_path):
    """A killed stream_triangles resumes from its durable pair table +
    count history and emits the identical per-batch count series."""
    import shutil

    from sbm_communitydetection_spark.streaming.stream_driver import stream_triangles

    pairs = [(a, b) for a in range(12) for b in range(a + 1, 12)]
    rows = [(a, b, i) for i, (a, b) in enumerate(pairs)]  # 66 edges, C(12,3) tris
    stream = spark.createDataFrame(rows, "src long, dst long, edge_seq long")
    bounds = [22, 44, 66]

    want = sorted(map(tuple, stream_triangles(
        spark, stream, bounds,
        checkpoint_dir=str(tmp_path), run_id="full").collect()))
    stream_triangles(spark, stream, bounds,
                     checkpoint_dir=str(tmp_path), run_id="crash")
    shutil.rmtree(tmp_path / "crash" / "batch=2")
    got = sorted(map(tuple, stream_triangles(
        spark, stream, bounds,
        checkpoint_dir=str(tmp_path), run_id="crash", resume=True).collect()))
    assert got == want
    assert len(got) == 3 and got[-1][1] > 0


def test_stream_novelty_kill_restart_parity(spark, tmp_path):
    """A killed stream_conv_novelty resumes from the durable owner store
    + cumulative emissions and equals both the uninterrupted run and the
    one-shot batch conv_novelty."""
    import shutil

    from pyspark.sql import functions as F
    from sbm_communitydetection_spark.operators.extract import conv_novelty
    from sbm_communitydetection_spark.streaming.stream_novelty import stream_conv_novelty

    rows = [
        ("a", 0, "user", "red green blue", None, 1000),
        ("c", 0, "user", "totally fresh words", None, 1500),
        ("b", 0, "user", "red green blue", None, 2000),
        ("d", 0, "user", "red green yellow", None, 3000),
        ("e", 0, "user", "late but unique text", None, 4000),
        ("f", 0, "user", "red green yellow", None, 5000),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ms long",
    ).select(
        "conv_id", "turn_idx", "role", "text", "tool", F.timestamp_millis("ms").alias("ts")
    )

    want = sorted(map(tuple, stream_conv_novelty(
        spark, t, n_batches=3,
        checkpoint_dir=str(tmp_path), run_id="full").collect()))
    stream_conv_novelty(spark, t, n_batches=3,
                        checkpoint_dir=str(tmp_path), run_id="crash")
    for b in (2, 3):
        shutil.rmtree(tmp_path / "crash" / f"batch={b}")
    got = sorted(map(tuple, stream_conv_novelty(
        spark, t, n_batches=3,
        checkpoint_dir=str(tmp_path), run_id="crash", resume=True).collect()))
    assert got == want
    assert got == sorted(map(tuple, conv_novelty(t).collect()))


def _dedup_batches(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog every single day",
        "the quick brown fox jumps over the lazy dog every single night",
        "completely unrelated text about distributed systems and parquet",
        "the quick brown fox jumps over the lazy dog every single day",  # dup of 0
        "another completely unrelated passage mentioning spark and joins",
        "completely unrelated text about distributed systems and parquet",  # dup of 2
    ]
    return [
        spark.createDataFrame(
            [(i + 2 * b, texts[i + 2 * b]) for i in range(2)], "doc_id long, text string"
        )
        for b in range(3)
    ]


def _four_dedup_batches(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog every single day",
        "completely unrelated text about distributed systems and parquet",
        "the quick brown fox jumps over the lazy dog every single night",
        "another completely unrelated passage mentioning spark and joins",
        "completely unrelated text about distributed systems and parquet",
        "a fresh sentence on graph folds and their durable checkpoints",
        "the quick brown fox jumps over the lazy dog every single day",
        "another completely unrelated passage mentioning spark and joins",
    ]
    return [
        spark.createDataFrame(
            [(i + 2 * b, texts[i + 2 * b]) for i in range(2)], "doc_id long, text string"
        )
        for b in range(4)
    ]


def _record_dedup_checkpoints(monkeypatch):
    """([materialized], [released]) DataFrames of the dedup fold's later
    calls of ``materialize`` and ``unpersist_checkpoint``, its own and
    its FoldCheckpointer's."""
    from sbm_communitydetection_spark.plans import iterate
    from sbm_communitydetection_spark.textops import stream_dedup

    made, released = [], []
    real_materialize = iterate.materialize
    real_release = iterate.unpersist_checkpoint

    def recording_materialize(df, key=None):
        out = real_materialize(df, key)
        made.append(out)
        return out

    def recording_release(df):
        released.append(df)
        real_release(df)

    monkeypatch.setattr(stream_dedup, "materialize", recording_materialize)
    monkeypatch.setattr(iterate, "materialize", recording_materialize)
    monkeypatch.setattr(iterate, "unpersist_checkpoint", recording_release)
    return made, released


def test_checkpointed_dedup_fold_materializes_only_the_batch(spark, tmp_path, monkeypatch):
    """A checkpointed stream_minhash_dedup replaces its state with the
    durable read-backs, so it materializes only each batch's new bands
    and new shingles — never the cumulative store, and the pairs are
    written straight from their plan — and releases every checkpoint it
    made once the durable copy supersedes it."""
    from sbm_communitydetection_spark.textops import stream_dedup

    batches = _four_dedup_batches(spark)
    want = sorted(map(tuple, stream_dedup.stream_minhash_dedup(
        spark, batches, threshold=0.4).collect()))
    assert want

    made, released = _record_dedup_checkpoints(monkeypatch)
    got = sorted(map(tuple, stream_dedup.stream_minhash_dedup(
        spark, batches, threshold=0.4, checkpoint_dir=str(tmp_path), run_id="d").collect()))
    assert got == want
    assert len(made) == 2 * len(batches), len(made)
    assert {id(df) for df in made} <= {id(df) for df in released}


def test_uncheckpointed_dedup_fold_skips_the_last_store(spark, monkeypatch):
    """Without ``checkpoint_dir`` the fold keeps each store as the union
    of its materialized batch deltas and never materializes a cumulative
    store: a 4-batch fold makes 4 materialize calls per batch (new
    bands, shingles, sizes and pairs), releases every store delta at the
    end, and still emits the one-shot batch pairs."""
    from sbm_communitydetection_spark.textops import stream_dedup
    from sbm_communitydetection_spark.textops.dedup import minhash_lsh_dup_pairs

    batches = _four_dedup_batches(spark)
    docs = batches[0]
    for b in batches[1:]:
        docs = docs.unionByName(b)
    want = sorted(map(tuple, minhash_lsh_dup_pairs(docs, threshold=0.4).collect()))
    assert want

    made, released = _record_dedup_checkpoints(monkeypatch)
    got = sorted(map(tuple, stream_dedup.stream_minhash_dedup(
        spark, batches, threshold=0.4).collect()))
    assert got == want
    assert len(made) == 4 * len(batches), len(made)
    # everything but the emitted pairs (returned) is released
    assert len({id(df) for df in made} - {id(df) for df in released}) == len(batches)


def test_fold_snapshots_are_delta_proportional(spark, tmp_path):
    """VERDICT r4 #2: batch b's snapshot dirs hold only batch b's DELTA
    — summing the per-batch dir row counts reproduces the cumulative
    total exactly once.  A per-batch full rewrite of the cumulative
    table would make the sum Σ_b |cum_b| > total instead."""
    from sbm_communitydetection_spark.textops.stream_dedup import stream_minhash_dedup

    out = stream_minhash_dedup(
        spark, _dedup_batches(spark), threshold=0.4,
        checkpoint_dir=str(tmp_path), run_id="delta")
    total = out.count()
    assert total >= 3  # the planted dups were all found
    per_batch = [
        spark.read.parquet(str(tmp_path / "delta" / f"batch={b}" / "pairs_cum")).count()
        for b in range(3)
    ]
    assert sum(per_batch) == total, (per_batch, total)
    # the LSH stores are delta-persisted too: each batch dir holds only
    # that batch's two docs' band rows
    band_docs = [
        spark.read.parquet(str(tmp_path / "delta" / f"batch={b}" / "bands"))
        .select("doc_id").distinct().count()
        for b in range(3)
    ]
    assert band_docs == [2, 2, 2], band_docs


def test_novelty_snapshots_are_delta_proportional(spark, tmp_path):
    from pyspark.sql import functions as F
    from sbm_communitydetection_spark.streaming.stream_novelty import stream_conv_novelty

    rows = [
        ("a", 0, "user", "red green blue", None, 1000),
        ("c", 0, "user", "totally fresh words", None, 1500),
        ("b", 0, "user", "red green blue", None, 2000),
        ("d", 0, "user", "red green yellow", None, 3000),
        ("e", 0, "user", "late but unique text", None, 4000),
        ("f", 0, "user", "red green yellow", None, 5000),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ms long",
    ).select(
        "conv_id", "turn_idx", "role", "text", "tool", F.timestamp_millis("ms").alias("ts")
    )
    out = stream_conv_novelty(spark, t, n_batches=3,
                              checkpoint_dir=str(tmp_path), run_id="delta")
    total = out.count()
    assert total == 6
    per_batch = [
        spark.read.parquet(str(tmp_path / "delta" / f"batch={b}" / "out")).count()
        for b in (1, 2, 3)
    ]
    assert sum(per_batch) == total, (per_batch, total)
    # owner-store deltas: each bigram owner row is written exactly once
    store_rows = [
        spark.read.parquet(str(tmp_path / "delta" / f"batch={b}" / "store")).count()
        for b in (1, 2, 3)
    ]
    n_owners = (
        spark.read.parquet(*[str(tmp_path / "delta" / f"batch={b}" / "store") for b in (1, 2, 3)])
        .select("g").distinct().count()
    )
    assert sum(store_rows) == n_owners, (store_rows, n_owners)


def test_fold_checkpointer_manifest_refuses_mismatched_resume(spark, tmp_path):
    """ADVICE r4: resuming a checkpointed fold with different parameters
    (here n_batches) must raise, not silently reuse stale state."""
    import pytest

    from sbm_communitydetection_spark.textops.stream_dedup import stream_minhash_dedup

    batches = _dedup_batches(spark)
    stream_minhash_dedup(spark, batches, threshold=0.4,
                         checkpoint_dir=str(tmp_path), run_id="m")
    with pytest.raises(ValueError, match="manifest mismatch"):
        stream_minhash_dedup(spark, batches[:2], threshold=0.4,
                             checkpoint_dir=str(tmp_path), run_id="m", resume=True)
    with pytest.raises(ValueError, match="manifest mismatch"):
        stream_minhash_dedup(spark, batches, threshold=0.5,
                             checkpoint_dir=str(tmp_path), run_id="m", resume=True)


def test_fold_checkpointer_ignores_foreign_batch_dirs(spark, tmp_path):
    """ADVICE r4: a stray non-numeric batch=* directory (editor copy)
    must be skipped by resume discovery, not crash it."""
    from sbm_communitydetection_spark.textops.stream_dedup import stream_minhash_dedup

    batches = _dedup_batches(spark)
    want = sorted(map(tuple, stream_minhash_dedup(
        spark, batches, threshold=0.4,
        checkpoint_dir=str(tmp_path), run_id="f").collect()))
    (tmp_path / "f" / "batch=tmp").mkdir()
    (tmp_path / "f" / "batch=1 (copy)").mkdir()
    got = sorted(map(tuple, stream_minhash_dedup(
        spark, batches, threshold=0.4,
        checkpoint_dir=str(tmp_path), run_id="f", resume=True).collect()))
    assert got == want


@pytest.mark.parametrize("durable", [True, False], ids=["durable", "in_memory"])
def test_fold_checkpointer_empty_delta_preserves_schema(spark, tmp_path, durable):
    """A batch whose delta is EMPTY must still leave a schema-bearing
    value — durably a parquet dir, so the multi-path union read-back can
    infer types; in memory an empty materialized part of the union."""
    from sbm_communitydetection_spark.plans.iterate import FoldCheckpointer

    ck = FoldCheckpointer(
        spark, str(tmp_path) if durable else None, "e", ("t",), delta_tables=("t",)
    )
    empty = spark.createDataFrame([], "a long, b double")
    out0 = ck.persist(0, t=empty)["t"]
    assert out0.count() == 0 and set(out0.columns) == {"a", "b"}
    out1 = ck.persist(1, t=spark.createDataFrame([(1, 2.0)], "a long, b double"))["t"]
    assert sorted(map(tuple, out1.collect())) == [(1, 2.0)]
    if durable:
        snap, nxt = ck.resume_state()
        assert nxt == 2 and snap["t"].count() == 1
    else:
        assert ck.resume_state() is None


def test_fold_checkpointer_refuses_manifestless_run_dir(spark, tmp_path):
    """ADVICE: a run directory with batch=* snapshots but no manifest.json
    is of unknown layout (an older one stored FULL cumulative snapshots
    where this one stores deltas) — both resume and persist must refuse
    it instead of unioning its snapshots into duplicated rows."""
    import json
    import os

    import pytest

    from sbm_communitydetection_spark.plans.iterate import FoldCheckpointer

    ck = FoldCheckpointer(spark, str(tmp_path), "old", ("t",), delta_tables=("t",))
    rows = spark.createDataFrame([(1, 2.0)], "a long, b double")
    ck.persist(0, t=rows)
    manifest = tmp_path / "old" / "manifest.json"
    assert json.loads(manifest.read_text()) == {"layout": 2}
    os.remove(manifest)
    with pytest.raises(ValueError, match="no manifest"):
        ck.resume_state()
    with pytest.raises(ValueError, match="no manifest"):
        ck.persist(1, t=rows)


def test_stream_cc_manifest_fingerprints_the_input(spark, tmp_path):
    """ADVICE: resuming a checkpointed stream_cc over a DIFFERENT edge
    stream with identical parameters must raise, not return the old
    run's labels for the batches it already holds."""
    import pytest

    from sbm_communitydetection_spark.streaming.stream_driver import (
        stream_connected_components,
    )

    rows = [(i, i + 1, 1, i) for i in range(20)]
    stream = spark.createDataFrame(rows, "src long, dst long, weight long, edge_seq long")
    stream_connected_components(spark, stream, n_batches=2,
                                checkpoint_dir=str(tmp_path), run_id="fp")
    longer = spark.createDataFrame(rows + [(30, 31, 1, 25)], stream.schema)
    with pytest.raises(ValueError, match="manifest mismatch"):
        stream_connected_components(spark, longer, n_batches=2,
                                    checkpoint_dir=str(tmp_path), run_id="fp", resume=True)
