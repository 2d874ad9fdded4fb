"""Incremental cross-conversation novelty — the streaming counterpart of
operators/extract.conv_novelty.

A continuously-ingesting transcript pipeline scores conversations as
they arrive; re-running the corpus-wide first-occurrence computation per
delivery is exactly the anti-pattern stream_dedup avoids for LSH.  The
durable state here is the OWNER STORE (bigram → (start_ms, conv_id) of
its first claimant).  Because batches arrive in conversation-start
order, ownership is decided forever in the batch where a bigram first
appears — later arrivals can only lose ownership races — so each
conversation's novelty emitted AT ITS ARRIVAL BATCH is already final,
and the union of per-batch emissions equals the one-shot batch operator
on the full corpus (the gate proves it against that oracle).

Per-batch cost: O(batch bigrams) — one anti-join against the store for
new owners, one equi-join for scoring, one store fold.  The store grows
one row per distinct corpus bigram (vocab-bounded), bucketable by the
gram hash on a lake.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.iterate import FoldCheckpointer, materialize, unpersist_checkpoint
from ..textops.portable import shingles_col


def stream_conv_novelty(
    spark: SparkSession,
    transcripts: DataFrame,
    n_batches: int = 5,
    checkpoint_dir: str | None = None,
    run_id: str = "stream_novelty",
    resume: bool = False,
) -> DataFrame:
    """(conv_id, n_bigrams, n_novel, novelty) — identical to
    operators/extract.conv_novelty, produced by folding ``n_batches``
    conversation-start-ordered micro-batches through the owner store.

    The owner store and the emissions persist through FoldCheckpointer.
    Both tables are append-only (ownership is decided forever; a
    conversation's row is emitted once, at its arrival batch), so each
    batch persists only its DELTA — new owners and this batch's
    emissions — and the cumulative value is the union of the deltas.
    ``checkpoint_dir`` + ``resume=True`` (VERDICT r3 #9 family): the
    deltas are snapshotted durably per batch (VERDICT r4 #2:
    snapshot-append I/O, not per-batch full rewrite); a killed run
    resumes from the latest complete batch — batching is deterministic
    (ntile over start order) — and ends bit-identical to an
    uninterrupted run.  The manifest (ADVICE r4) refuses resume under a
    changed n_batches."""
    start = transcripts.groupBy("conv_id").agg(
        F.unix_millis(F.min("ts").cast("timestamp")).alias("start_ms")
    )
    w = Window.orderBy("start_ms", "conv_id")
    batched = materialize(start.withColumn("batch", F.ntile(n_batches).over(w)))

    all_grams = materialize(
        transcripts.select(
            "conv_id", F.explode(shingles_col(F.col("text"), 2)).alias("g")
        )
        .distinct()
        .join(batched, "conv_id")
    )

    fold = FoldCheckpointer(
        spark,
        checkpoint_dir,
        run_id,
        ("store", "out"),
        delta_tables=("store", "out"),
        manifest={"op": "stream_conv_novelty", "n_batches": n_batches},
    )
    snap, start_b = fold.start(
        resume,
        first=1,
        store=spark.createDataFrame([], "g string, start_ms long, owner_conv string"),
        out=None,
    )
    store = snap["store"]
    for b in range(start_b, n_batches + 1):
        grams_b = all_grams.filter(F.col("batch") == b)
        # owners among THIS batch's claims, for grams the store hasn't seen
        new_owner = (
            grams_b.groupBy("g")
            .agg(F.min(F.struct("start_ms", "conv_id")).alias("first"))
            .join(store.select("g"), "g", "left_anti")
            .select(
                "g",
                F.col("first.start_ms").alias("start_ms"),
                F.col("first.conv_id").alias("owner_conv"),
            )
        )
        new_owner = materialize(new_owner)
        emit = (
            grams_b.join(store.unionByName(new_owner).select("g", "owner_conv"), "g")
            .groupBy("conv_id")
            .agg(
                F.count("*").cast("long").alias("n_bigrams"),
                F.sum(
                    F.when(F.col("owner_conv") == F.col("conv_id"), 1).otherwise(0)
                )
                .cast("long")
                .alias("n_novel"),
            )
            .withColumn(
                "novelty", F.round(F.col("n_novel") / F.col("n_bigrams"), 6)
            )
        )
        # deltas only (new owners, this batch's emissions); the handles
        # are the cumulative unions
        snap = fold.persist(b, store=new_owner, out=emit)
        store = snap["store"]

    result = materialize(snap["out"])
    fold.release()
    for df in (batched, all_grams):
        unpersist_checkpoint(df)
    return result
