"""The superstep iteration driver — the one genuinely custom piece (SURVEY.md §4).

Spark has no iteration primitive: every iterative graph algorithm here is a
driver-side loop of DataFrame transformations. Naively chaining iterations
grows the logical plan linearly and planning time super-linearly, so every
piece of iteration or fold state goes through ONE seam,
``materialize(df, key=None)``: an eager ``localCheckpoint`` (cluster-resident,
lineage severed) whose ``LogicalRDD`` is rebuilt without the defining query's
size statistics. The one rule for the two shapes of state:

* ``key`` given (rank/label vectors keyed by vertex id): materialize with
  AQE off and record ``hashpartitioning(key)`` — checked against the plan,
  never assumed — so the next superstep joins it without an exchange;
* no ``key`` (edge sets, pair tables, anything re-shuffled next round):
  materialize with AQE on and claim no partitioning.

With AQE off nothing coalesces a keyed superstep's stages, so every one
would run ``spark.sql.shuffle.partitions`` tasks however small the graph.
Keyed state therefore gets its partition count once per run from the
size of its static input, by AQE's own coalescing rule
(``keyed_partitions``: k = clamp(ceil(edges × 24 B /
``spark.sql.adaptive.coalescePartitions.minPartitionSize``), 1,
``spark.sql.shuffle.partitions``)). The operator repartitions its static
input and init state to k, and ``IterationDriver`` plans every keyed
superstep under ``spark.sql.shuffle.partitions = k``: an 8k-edge graph
runs one-task supersteps, a 19M-edge one keeps the session count.

Every loop persists its state through ONE store, ``FoldCheckpointer``:
the six stream folds per batch and ``IterationDriver`` per superstep
(batch i, one table ``state``). ``checkpoint_dir`` picks its mode, and no
loop branches on it:

* in memory (``checkpoint_dir=None``): each table is ``materialize``-d
  (a table that already is a checkpoint is kept as it is), and an
  append-only table's value is the union of its batch deltas;
* durable: each step's tables go to ``<dir>/<run_id>/batch=<b>/<table>/``
  under a versioned ``manifest.json``, read back, and resume reads the
  highest complete batch (north_rule "resumable from checkpoint"). The
  layout is the Parquet stand-in for the Iceberg snapshot-per-step table
  of SURVEY.md §7; an Iceberg backend would replace
  ``FoldCheckpointer._write`` / ``_read_table`` (docs/SCALE.md).

In both modes a persist releases the state its previous batch held.

One superstep is one materialize job: a step returns its new state and
its convergence metric as an aggregate ``Column``, and ``IterationDriver``
observes the metric on the job that persists the state, beside the row
count — no superstep runs an action of its own for its metric.

Alongside state, the durable driver appends per-iteration METRICS +
LINEAGE rows (run_id, iteration, wall seconds, row count, convergence
metric, number of partitions, snapshot path, per-file rows/bytes) to
``<dir>/<run_id>/_metrics.jsonl`` — the per-partition lineage +
convergence log the north_rule asks for.

The reference has no persistence at all; its analogue of "iteration state"
is in-place pointer mutation (e.g. the per-edge loop at
src/dynamic_community_detection.cpp:32-49).
"""

from __future__ import annotations

import functools
import json
import math
import os
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def probe_resources() -> dict:
    """Current RSS + cumulative CPU of the driver process AND its JVM
    child — the engine analogue of the reference's per-run Q10 probes
    (utils/quality_measures.cpp:190-220 reads VmRSS / CPU deltas between
    algorithm steps). Two /proc scans, ~1 ms; recorded per iteration in
    the metrics log so memory growth across supersteps is observable,
    not just the end state. Empty dict off-Linux (no /proc)."""
    try:
        me = os.getpid()
        rss = 0
        cpu = 0.0
        tick = os.sysconf("SC_CLK_TCK")
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parts = f.read().rsplit(")", 1)[1].split()
                # rsplit removes (comm); fields shift by 2 vs proc(5):
                # ppid=parts[1], utime=parts[11], stime=parts[12]
                if int(pid) != me and int(parts[1]) != me:
                    continue
                cpu += (int(parts[11]) + int(parts[12])) / tick
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            rss += int(line.split()[1]) * 1024
                            break
            except (OSError, ValueError, IndexError):
                continue
        return {"rss_bytes": rss, "cpu_sec": round(cpu, 2)}
    except (OSError, ValueError, AttributeError):
        return {}


__all__ = [
    "FoldCheckpointer",
    "IterationDriver",
    "IterationResult",
    "cache_partitioned",
    "keyed_partitions",
    "materialize",
    "parquet_partition_lineage",
    "unpersist_checkpoint",
]


def cache_partitioned(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Materialize a STATIC table (adjacency / transition / reset vector)
    as a compressed columnar cache instead of raw checkpoint blocks.

    Why not materialize for these: checkpoint blocks
    are raw UnsafeRows, so every superstep's probe-side scan streams
    ~29 B/edge over the memory bus; InMemoryRelation stores compressed
    columnar batches (~2-3x smaller for (long, long, double) adjacency),
    trading a little per-scan decompression CPU for bus traffic. Measured
    on the 19.2M-edge PR superstep: steady per-iteration 3.10s -> 2.78s at
    local[8], 1.37 -> 1.32s at local[32], and 2->8 scaling efficiency
    0.81 -> 0.93 (the shared memory bus is the scaling ceiling here —
    BENCH/BASELINE.md's bandwidth probe: 4x processes get only 1.36x
    copy bandwidth). Same reasoning holds on real clusters, where the
    exchange-free probe side being columnar also halves block-manager
    memory.

    Partitioning: Spark 4's AQE reads InMemoryTableScan's output
    partitioning from the cached plan (verified: the PR superstep join
    compiles with NO exchange above the cache scan), so the checkpoint
    plan-surgery workaround is unnecessary here. Lineage is kept (the
    upstream is a real source, eviction just recomputes), so this is for
    STATIC inputs only — iteration state still goes through materialize.
    Release with unpersist_checkpoint (handles both forms).

    ``partitions``: the state's k (``keyed_partitions``) when ``df`` is
    the static side of keyed state. The table is then planned as keyed
    state is, with AQE off and every shuffle at k partitions: one job
    builds it, where AQE runs each shuffle stage as a job of its own.
    """
    from pyspark import StorageLevel

    keyed = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": str(partitions)}
    with _session_conf(df.sparkSession, {} if partitions is None else keyed):
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()  # eager, like the checkpoint path
    return out


# bytes of one (long, long, long|double) edge row: the static input's size
EDGE_ROW_BYTES = 24


def keyed_partitions(spark: SparkSession, edge_rows: int) -> int:
    """Partition count k for keyed iteration state over a static input of
    ``edge_rows`` edges: the count AQE would coalesce the superstep's
    shuffles to, which ``materialize`` cannot let it do (pathology 1).

    k = clamp(ceil(edge_rows × 24 B / minPartitionSize), 1,
    spark.sql.shuffle.partitions), with minPartitionSize AQE's own
    ``spark.sql.adaptive.coalescePartitions.minPartitionSize`` (1 MB by
    default, the floor its ``parallelismFirst`` mode coalesces to). Read
    from the session's existing conf, so there is nothing new to tune: an
    8k-edge graph gets 1, a 19M-edge graph the session count."""
    floor = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB")
    )
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, math.ceil(edge_rows * EDGE_ROW_BYTES / floor)))


@contextmanager
def _session_conf(spark: SparkSession, settings: dict[str, str]):
    """Set session ``settings`` for the block, then restore the old values."""
    old = {k: spark.conf.get(k) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def materialize(df: DataFrame, key: str | None = None) -> DataFrame:
    """Eagerly materialize iteration or fold state: ``localCheckpoint``
    with the lineage severed and the plan statistics RESET, the engine's
    only checkpoint call.

    ``key``: the column the state is hash-partitioned on (the caller just
    ``repartition``-ed or aggregated by it). The checkpoint then runs with
    AQE off and the result records ``hashpartitioning(key, n)``, so the
    next superstep's join on ``key`` adds no exchange. A plan on one
    partition counts too: Spark plans a 1-partition hash exchange as
    ``SinglePartition``, which is recorded as ``hashpartitioning(key, 1)``
    (the k = 1 of ``keyed_partitions``). Raises ValueError
    when the executed plan is not hash-partitioned on ``key`` — recording
    a partitioning the rows do not have would make a later join silently
    skip a needed exchange. Without ``key`` the checkpoint runs under
    normal AQE planning and claims no partitioning (set-valued state is
    re-shuffled on other keys next round anyway).

    Three checkpoint pathologies, all measured in this runtime:

    1. With AQE enabled, ``Dataset.localCheckpoint`` materializes an
       AdaptiveSparkPlan whose output partitioning is recorded as
       UnknownPartitioning — so every downstream join/aggregate
       re-exchanges the checkpointed table even when it was just
       repartitioned on the join key. Measured on the PR superstep
       (19.2M-edge bench graph): the "exchange-free adjacency" design
       silently degraded to a full edge-table shuffle EVERY iteration
       (round-1 scaling efficiency 0.237). Hence AQE off for keyed state;
       the toggle only affects this materialization job.

    2. The plan may project ONE expression under SEVERAL aliases (the
       singleton label init ``select(id, id AS label)``): the alias-aware
       recorder emits a PartitioningCollection and ``Dataset.checkpoint``
       keeps only its FIRST leaf, which may be the wrong alias — measured:
       the LPA init recorded ``hash(label)`` instead of ``hash(id)``. So
       the check reads the executed plan's partitioning BEFORE that
       collapse and the result records ``hash(key)`` explicitly.

    3. The LogicalRDD COPIES the origin plan's Catalyst statistics
       (``originStats``). Join size estimates are PRODUCTS of their
       children's ``sizeInBytes``, so a loop whose step references the
       previous state 2-3 times DOUBLES the stat's digit count every
       iteration even though each checkpointed plan is a single leaf:
       20 → 42 → 86 → ... digits. Measured: stream CC's labels reach 3719
       digits after 8 batches, and by ~25 compounded supersteps Catalyst
       spends MINUTES per planning pass inside BigInteger multiplication
       (SizeInBytesOnlyStatsPlanVisitor.visitJoin). Rebuilding the
       LogicalRDD with ``originStats=None`` caps the stat at
       defaultSizeInBytes (19 digits) forever. Side effect: materialized
       tables report unknown size and are never auto-broadcast — hot-loop
       joins broadcast or hint explicitly, and AQE still converts joins
       whose runtime side turns out small.
    """
    spark = df.sparkSession
    jvm = spark._jvm
    with _session_conf(spark, {} if key is None else {"spark.sql.adaptive.enabled": "false"}):
        if key is not None:
            n = _hash_partitions_on(df, key)
        # the same QueryExecution, so a plan just checked is the one run
        lp = df.localCheckpoint(eager=True)._jdf.queryExecution().logical()
    partitioning = lp.outputPartitioning()
    if key is not None:
        attr = next(a for a in _seq(lp.output()) if a.name() == key)
        partitioning = jvm.org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
            jvm.PythonUtils.toSeq([attr]), n
        )
    none = jvm.scala.Option.empty()
    rebuilt = jvm.org.apache.spark.sql.execution.LogicalRDD(
        lp.output(),
        lp.rdd(),
        partitioning,
        lp.outputOrdering(),
        lp.isStreaming(),
        lp.stream(),
        spark._jsparkSession,
        none,  # originStats: see (3) above
        none,  # originConstraints: unused by this workload
    )
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, rebuilt)
    return DataFrame(jdf, spark)


def _hash_partitions_on(df: DataFrame, key: str) -> int:
    """Partition count of ``df``'s executed plan when it is
    hash-partitioned on exactly the output column ``key`` (directly or
    as one leaf of a PartitioningCollection) or on one partition
    (``SinglePartition``, every key in one place); ValueError otherwise."""
    plan = df._jdf.queryExecution().executedPlan()
    attrs = [a for a in _seq(plan.output()) if a.name() == key]
    leaves = [plan.outputPartitioning()]
    while leaves and attrs:
        p = leaves.pop()
        kind = p.getClass().getSimpleName()
        if kind == "PartitioningCollection":
            leaves.extend(_seq(p.partitionings()))
        elif kind == "SinglePartition$":
            return 1
        elif kind == "HashPartitioning":
            exprs = _seq(p.expressions())
            if len(exprs) == 1 and exprs[0].semanticEquals(attrs[0]):
                return p.numPartitions()
    raise ValueError(
        f"materialize: state is not hash-partitioned on {key!r} "
        f"(columns {df.columns}, partitioning {plan.outputPartitioning().toString()})"
    )


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def unpersist_checkpoint(df: DataFrame) -> None:
    """Release the storage blocks behind a materialized DataFrame.

    localCheckpoint data lives in the block manager until the RDD is
    unpersisted or the context cleaner eventually GCs it; an iterative
    operator leaves its whole state history cached otherwise. Measured on
    the 19.2M-edge bench (local[32], 12g heap): LPA runs 15s in a fresh
    JVM but 47s after a 10-iteration PageRank in the same session — the
    superseded rank vectors + transition table keep ~2GB of blocks live
    and ParallelGC full-collections at 32 threads eat the difference.
    Also releases cache_partitioned tables (storage-level persist), and
    the checkpoint under a column projection of one (an operator that
    returns its state without a working column).
    No-op for other non-checkpoint DataFrames (parquet reads etc.).

    CAUTION: a localCheckpoint has no lineage to recompute from —
    unpersist only state that nothing will read again.
    """
    lp = df._jdf.queryExecution().logical()
    while lp.getClass().getSimpleName() == "Project":
        lp = lp.child()
    if lp.getClass().getName() == "org.apache.spark.sql.execution.LogicalRDD":
        # blocking: deterministic release (async unpersist may lag the
        # next iteration's allocation spike, which is the whole point).
        # NOTE: must be checked BEFORE storageLevel — a checkpointed
        # frame reports its RDD's storage level, but Dataset.unpersist
        # only clears CacheManager entries and would no-op on it.
        lp.rdd().unpersist(True)
    elif df.storageLevel.useMemory or df.storageLevel.useDisk:
        df.unpersist(True)  # cache_partitioned table


def parquet_partition_lineage(path: str) -> list[dict] | None:
    """One lineage entry per parquet part-file of a snapshot directory —
    rows from the file footer, bytes from the filesystem; read on the
    driver, no Spark job."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return None
    if not os.path.isdir(path):
        return None
    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        fp = os.path.join(path, name)
        out.append(
            {
                "file": name,
                "rows": pq.ParquetFile(fp).metadata.num_rows,
                "bytes": os.path.getsize(fp),
            }
        )
    return out


# FoldCheckpointer on-disk layout version, recorded in every manifest.json
FOLD_LAYOUT = 2


def _batch_index(name: str) -> int | None:
    """``batch=<int>`` directory name → int, else None.  A stray
    non-numeric directory (``batch=tmp`` from a copy or an editor) must
    be IGNORED, not crash every resume attempt (ADVICE r4)."""
    if not name.startswith("batch="):
        return None
    try:
        return int(name.split("=", 1)[1])
    except ValueError:
        return None


def _checkpoint_id(df: DataFrame | None) -> int | None:
    """Id of the RDD behind ``df`` when its plan is a single LogicalRDD (a
    checkpoint, or a frame of driver-local rows), else None."""
    if df is None:
        return None
    lp = df._jdf.queryExecution().logical()
    if lp.getClass().getName() != "org.apache.spark.sql.execution.LogicalRDD":
        return None
    return lp.rdd().id()


class FoldCheckpointer:
    """The store every loop persists its state through: per batch, a set
    of NAMED state tables — IterationDriver's superstep i is batch i with
    one table ``state``; each stream fold (community detection / PR / CC /
    triangles / BP / dedup / novelty) persists its own tables per batch.

    Two modes, picked by ``checkpoint_dir``; callers never branch on it:

    * in memory (``checkpoint_dir=None``): ``persist`` materializes each
      table (``materialize``; a table that already is a checkpoint, a
      plan of a single LogicalRDD, is kept as it is) and ``resume_state``
      returns None;
    * durable: each table goes to ``<checkpoint_dir>/<run_id>/batch=<b>/
      <table>`` and is read back.  A batch is complete when EVERY table
      carries a _SUCCESS marker; resume loads the highest complete batch.
      The layout is the Parquet stand-in for an Iceberg snapshot-per-batch
      table; ``_write`` and ``_read_table`` are where an Iceberg backend
      would go.

    The store owns the frames it is handed: ``persist`` releases the
    state its previous batch held once this batch's is made (in the
    durable mode a handed checkpoint as soon as its copy is written), and
    ``release`` frees what a fold does not return.  It never releases a
    frame the fold started from (``start``'s ``initial``).

    Two persistence modes per table (VERDICT r4 #2):

    * FULL snapshot (default): the table is replaced per batch — right
      for state that changes in place (PageRank ranks, CC labels).
    * ``delta_tables``: the caller passes only the batch's APPENDED
      rows; the value is the union of the batch deltas ≤ b (in memory
      the materialized deltas, durably the batch dirs read back by one
      multi-path parquet scan).  Right for append-only stores and
      cumulative emission sets (emitted dup pairs, the novelty owner
      store), where a per-batch full rewrite costs O(n_batches ×
      cumulative size) against the O(total size) an Iceberg
      snapshot-APPEND (which this layout stands in for) pays.  Delta
      reconstruction resumes from the highest batch b with an UNBROKEN
      complete prefix below it — an interior hole would silently drop
      rows, while trailing incomplete batches are simply replayed.

    ``manifest`` (ADVICE r4): a small JSON-serializable dict of run
    parameters (n_batches, boundaries, thresholds, an input fingerprint
    such as the stream's ``(lo, hi, n)`` edge_seq bounds).  The first
    durable persist writes ``<run>/manifest.json`` — always, stamped with
    ``"layout": FOLD_LAYOUT`` — and any later persist or resume whose
    manifest differs raises ValueError instead of silently folding a
    DIFFERENT stream onto the old run's state (e.g. resuming with
    changed batch boundaries would return the old run's final state for
    every "already done" batch).  A run directory holding ``batch=*``
    directories but no manifest (an older layout, which stored full
    cumulative snapshots where this one stores deltas) is refused too:
    unioning its snapshots as deltas would duplicate rows."""

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None,
        run_id: str,
        tables: tuple[str, ...],
        delta_tables: tuple[str, ...] = (),
        manifest: dict | None = None,
    ):
        self.spark = spark
        self.dir = os.path.join(checkpoint_dir, run_id) if checkpoint_dir else None
        self.tables = tables
        self.delta_tables = tuple(delta_tables)
        assert set(self.delta_tables) <= set(tables), (delta_tables, tables)
        self.manifest = {**(manifest or {}), "layout": FOLD_LAYOUT}
        self._held: dict[str, DataFrame] = {}  # the last persist's handles
        self._deltas: dict[str, list[DataFrame]] = {t: [] for t in self.delta_tables}
        self._outside: set[int] = set()  # checkpoints the fold started from

    def _path(self, b: int, table: str) -> str:
        return os.path.join(self.dir, f"batch={b}", table)

    def _check_or_write_manifest(self, write: bool) -> None:
        if self.dir is None:
            return
        # JSON round-trip so tuples/ints compare equal to what disk holds
        mine = json.loads(json.dumps(self.manifest, sort_keys=True))
        path = os.path.join(self.dir, "manifest.json")
        if os.path.exists(path):
            with open(path) as fh:
                on_disk = json.load(fh)
            if on_disk != mine:
                raise ValueError(
                    f"FoldCheckpointer manifest mismatch under {self.dir}: "
                    f"on disk {on_disk!r} vs this run {mine!r} — refusing to "
                    "resume/extend a checkpoint written by a run with "
                    "different parameters or inputs"
                )
        elif self._existing_batches():
            raise ValueError(
                f"FoldCheckpointer: {self.dir} holds batch directories but no "
                "manifest.json — refusing to resume/extend a checkpoint of "
                f"unknown layout (this one is layout {FOLD_LAYOUT})"
            )
        elif write:
            os.makedirs(self.dir, exist_ok=True)
            tmp = path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(mine, fh, sort_keys=True)
            os.replace(tmp, path)

    def _existing_batches(self) -> list[int]:
        if self.dir is None or not os.path.isdir(self.dir):
            return []
        return sorted(
            {i for name in os.listdir(self.dir) if (i := _batch_index(name)) is not None}
        )

    def _is_complete(self, b: int) -> bool:
        return all(
            os.path.exists(os.path.join(self._path(b, t), "_SUCCESS"))
            for t in self.tables
        )

    def _read_table(self, t: str, b: int) -> DataFrame:
        if t in self.delta_tables:
            paths = [
                self._path(i, t)
                for i in self._existing_batches()
                if i <= b
                and os.path.exists(os.path.join(self._path(i, t), "_SUCCESS"))
            ]
            return self.spark.read.parquet(*paths)
        return self.spark.read.parquet(self._path(b, t))

    def _write(self, df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)
        # an EMPTY delta (zero partitions) writes only _SUCCESS; rewrite
        # with one empty partition so the schema survives on disk and the
        # multi-path read-back can always infer it
        if not any(n.endswith(".parquet") for n in os.listdir(path)):
            df.repartition(1).write.mode("overwrite").parquet(path)

    def _release(self, frames, keep=()) -> None:
        """Release each checkpoint in ``frames``, but none of ``keep`` and
        none the fold started from."""
        spare = {None, *self._outside, *map(_checkpoint_id, keep)}
        for df in frames:
            if _checkpoint_id(df) not in spare:
                unpersist_checkpoint(df)

    def start(self, resume: bool, first: int = 0, **initial) -> tuple[dict, int]:
        """({table: df}, first batch to run): the latest complete durable
        batch when ``resume`` is set and there is one, else ``initial``
        and ``first``.  The initial frames come from outside the fold;
        the store never releases them, nor what an earlier fold it ran
        returned."""
        self._held, self._deltas = {}, {t: [] for t in self.delta_tables}
        self._outside |= {_checkpoint_id(df) for df in initial.values()} - {None}
        return (resume and self.resume_state()) or (initial, first)

    def persist(self, b: int, **dfs: DataFrame) -> dict[str, DataFrame]:
        """Persist batch ``b``'s tables (the full state, or the batch
        DELTA of a ``delta_tables`` table) and return their handles — for
        a delta table the CUMULATIVE union of its deltas.  Then release
        what the previous batch held, and in the durable mode the handed
        frames the written copies supersede."""
        assert set(dfs) == set(self.tables), (sorted(dfs), self.tables)
        if self.dir is None:
            out = {}
            for t, df in dfs.items():
                out[t] = df if _checkpoint_id(df) is not None else materialize(df)
                if t in self.delta_tables:
                    self._deltas[t].append(out[t])
                    out[t] = functools.reduce(DataFrame.unionByName, self._deltas[t])
            # a delta table's parts stay: they are its value
            superseded = [df for t, df in self._held.items() if t not in self.delta_tables]
        else:
            self._check_or_write_manifest(write=True)
            for t, df in dfs.items():
                self._write(df, self._path(b, t))
            out = {t: self._read_table(t, b) for t in dfs}
            superseded = dfs.values()
        self._release(superseded, keep=out.values())
        self._held = out
        return out

    def release(self, *tables: str) -> None:
        """Release what the store holds of ``tables`` (all when none are
        named): the last state of a fold that does not return it."""
        names = tables or self.tables
        self._release([self._held.get(t) for t in names] + [
            df for t in names for df in self._deltas.get(t, ())
        ])

    def location(self, b: int, table: str) -> str:
        """Where batch ``b``'s ``table`` lives."""
        return "localCheckpoint" if self.dir is None else self._path(b, table)

    def lineage(self, b: int) -> dict[str, list[dict] | None]:
        """Per-partition lineage (data file, rows, bytes) of batch ``b``'s
        table directories; None per table in memory."""
        return {
            t: None if self.dir is None else parquet_partition_lineage(self._path(b, t))
            for t in self.tables
        }

    def log(self, row: dict) -> None:
        """Append ``row`` to the durable run's ``_metrics.jsonl``."""
        if self.dir is not None:
            with open(os.path.join(self.dir, "_metrics.jsonl"), "a") as f:
                f.write(json.dumps(row) + "\n")

    def latest_complete_batch(self) -> int | None:
        existing = self._existing_batches()
        complete = [b for b in existing if self._is_complete(b)]
        if not complete:
            return None
        if not self.delta_tables:
            return max(complete)
        # delta reconstruction needs an unbroken prefix: stop before the
        # first existing-but-incomplete batch
        cset = set(complete)
        best = None
        for b in existing:
            if b not in cset:
                break
            best = b
        return best

    def resume_state(self) -> tuple[dict[str, DataFrame], int] | None:
        """({table: df}, next_batch) from the latest durable snapshot;
        None when there is none (always in memory)."""
        self._check_or_write_manifest(write=False)
        b = self.latest_complete_batch()
        if b is None:
            return None
        return ({t: self._read_table(t, b) for t in self.tables}, b + 1)


@dataclass
class IterationResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


# the observed row count's and metric's names among run(observe=...)'s aggregates
_ROWS = "__rows"
_METRIC = "__metric"


class IterationDriver:
    def __init__(
        self,
        spark: SparkSession,
        run_id: str = "run",
        checkpoint_dir: str | None = None,
    ):
        """``checkpoint_dir`` selects the durable, resumable store: every
        superstep's state is a FoldCheckpointer batch (one full-snapshot
        table ``state``), written and read back. Without it the state
        stays in memory."""
        self.spark = spark
        self.run_id = run_id
        self.store = FoldCheckpointer(spark, checkpoint_dir, run_id, ("state",))
        self.observed: dict = {}  # run(observe=...) values for the current state

    def latest_complete_iteration(self) -> int | None:
        """Highest durably-committed i — the resume point."""
        return self.store.latest_complete_batch()

    def _materialize(
        self,
        df: DataFrame,
        key: str | None,
        measures: list[Column],
        columns: list[str],
        metric: Column | None = None,
    ) -> tuple:
        """(``df``'s ``columns`` materialized on ``key``, its row count, the
        value of ``metric`` or None); ``metric`` and the ``measures`` ride
        the same job, the measures into ``self.observed``."""
        if metric is not None:
            measures = [*measures, F.coalesce(metric.cast("double"), F.lit(0.0)).alias(_METRIC)]
        obs = Observation()
        out = materialize(df.observe(obs, *measures).select(*columns), key)
        self.observed = obs.get
        rows = self.observed.pop(_ROWS)
        metric = self.observed.pop(_METRIC, None)
        return out, rows, metric

    def _snapshot_fields(self, i: int) -> dict:
        """Where iteration i's state lives, and its per-partition lineage
        (one entry per data file with rows and bytes) — the per-partition
        half of the north_rule's "per-partition lineage + convergence
        metrics"."""
        return {
            "snapshot": self.store.location(i, "state"),
            "partition_lineage": self.store.lineage(i)["state"],
        }

    # -- the loop ----------------------------------------------------------
    def run(
        self,
        state: DataFrame,
        step: Callable[[DataFrame, int], tuple[DataFrame, Column | None]],
        max_iterations: int = 50,
        tolerance: float = 0.0,
        resume: bool = False,
        metric_name: str = "delta",
        observe: dict[str, Column] | None = None,
        state_key: str | None = None,
    ) -> IterationResult:
        """Iterate ``step(state, i) -> (new_state, metric)`` until the
        metric is <= tolerance or max_iterations.

        ``metric`` is an aggregate ``Column`` over ``new_state`` (count of
        changed labels, max rank delta, ...), or None when the run has no
        convergence test. It is observed on the job that materializes
        ``new_state``, beside the row count and ``observe``: no action of
        its own. Anything else raises TypeError, so no step brings back a
        per-superstep action (a callable or a float computed in the step
        is one). A null metric (an aggregate over no rows) counts as 0;
        it is recorded per iteration under ``metric_name``.

        A metric reads the previous state through a column of the same
        row (an old rank or label carried by the step's join) or through
        ``self.observed``, the previous state's observed values. Only the
        init state's columns are kept after the observe, so a step may
        add working columns that only its metric reads.

        ``state_key``: the column every step's state is hash-partitioned
        on (a vertex-keyed rank/label vector), passed to ``materialize``
        so the state stays co-partitioned with the static join inputs and
        each superstep shuffles only the intrinsic communication. The
        init state's partition count k is read once from its plan, and
        every superstep is planned under ``spark.sql.shuffle.partitions =
        k`` (the session value is restored after the run), so its
        aggregates land in the state's own k partitions. Leave it None
        for unkeyed state (e.g. CC's pair set), planned at the session
        count.

        ``observe``: named aggregate columns over the state, computed by
        the job that materializes each state (``DataFrame.observe``), no
        action of their own. When ``step(state, i)`` runs,
        ``self.observed`` holds their values for ``state``; a resumed
        run computes them once for the state it resumed from. Each
        state's row count (the metrics rows' ``rows``) is observed the
        same way."""
        k = None
        if state_key is not None:
            # planned with AQE off, as materialize plans it: no job
            with _session_conf(self.spark, {"spark.sql.adaptive.enabled": "false"}):
                k = _hash_partitions_on(state, state_key)
        columns = state.columns
        observed = [c.alias(name) for name, c in (observe or {}).items()]
        measures = [F.count(F.lit(1)).alias(_ROWS), *observed]
        with _session_conf(
            self.spark, {} if k is None else {"spark.sql.shuffle.partitions": str(k)}
        ):
            tables, start_iter = self.store.start(resume, state=state)
            state = tables["state"]
            if start_iter > 0 and observed:
                self.observed = state.agg(*observed).first().asDict()
            if start_iter == 0:
                state, rows, _ = self._materialize(state, state_key, measures, columns)
                state = self.store.persist(0, state=state)["state"]
                self.store.log(
                    {
                        "run_id": self.run_id,
                        "iteration": 0,
                        "phase": "init",
                        "rows": rows,
                        "partitions": k or state.rdd.getNumPartitions(),
                        **self._snapshot_fields(0),
                    }
                )
                start_iter = 1

            metrics: list[dict] = []
            converged = False
            i = start_iter - 1
            for i in range(start_iter, max_iterations + 1):
                t0 = time.monotonic()
                new_state, metric = step(state, i)
                if metric is not None and not isinstance(metric, Column):
                    raise TypeError(
                        f"{self.run_id}: step {i} returned a {type(metric).__name__} metric; "
                        "a step returns an aggregate Column over the new state, or None"
                    )
                new_state, rows, metric = self._materialize(
                    new_state, state_key, measures, columns, metric
                )
                state = self.store.persist(i, state=new_state)["state"]
                row = {
                    "run_id": self.run_id,
                    "iteration": i,
                    metric_name: metric,
                    "rows": rows,
                    "partitions": k or state.rdd.getNumPartitions(),
                    "wall_sec": round(time.monotonic() - t0, 4),
                    **self._snapshot_fields(i),
                    **probe_resources(),  # Q10: per-iteration RSS/CPU
                }
                metrics.append(row)
                self.store.log(row)
                if metric is not None and metric <= tolerance:
                    converged = True
                    break
        return IterationResult(state=state, iterations=i, converged=converged, metrics=metrics)
