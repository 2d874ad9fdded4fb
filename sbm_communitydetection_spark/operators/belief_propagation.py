"""Synchronous SBM belief propagation — the engine form of the reference's
StreamBP (src/belief_propagation.cpp:4-174; README.md:21 cites NeurIPS 2021
streaming BP).

The reference streams one edge at a time and pushes asynchronous updates
through an r-hop BFS ball (src/belief_propagation.cpp:86-95,128-167). The
engine op is the PUBLISHED synchronous formulation (SURVEY.md §5 hard part 3):
every superstep updates ALL directed messages simultaneously,

    msg'[i→j][s] ∝ prior_i[s] · Π_{u∈N(i)\\{j}}  (p_out + (p_in−p_out)·msg[u→i][s])^w_u

computed in log space with the standard exclusion trick — one grouped Arrow
kernel per superstep does:

    lt[u→i][s] = w_u · ln(p_out + (p_in−p_out)·msg[u→i][s])      (A9 term)
    tot_i[s]   = Σ_u lt[u→i][s]
    msg'[i→j]  = softmax_s( ln prior_i[s] + tot_i[s] − lt[j→i][s] )

and the final belief/argmax (A10) is softmax(ln prior + tot) / argmax_s.
Edge weight acts as edge multiplicity (the reference accumulates repeated
edges into weights, src/graph.cpp:24-26).

Spark shape: messages are one row per DIRECTED edge (SURVEY.md §1.1),
``(src, dst, belief: array<double>)``. Each superstep is ONE shuffle
(groupBy dst) + one ``applyInPandas`` kernel — the vectorized pandas/Arrow
scoring kernel of the north star; no per-row Python. Per-vertex groups mean
hub vertices produce large Arrow batches; AQE skew handling plus the salted
degree pre-aggregation in operators/skew.py keep the upstream shuffle
balanced (kernel memory is O(degree·k) which fits even 10^7-degree hubs).

Noisy side information: the reference draws a WRONG label with probability
α = 1 − 1/k under integer division — α is always exactly 1.0 for k ≥ 2
(src/belief_propagation.cpp:18,20-35), i.e. side info is a uniformly random
wrong label. We implement the published parameterization instead —
``prior[s] = (1−noise)·1[s=obs] + noise/k`` — and document the divergence;
``noise=1.0`` with adversarial observations reproduces the quirk's effect.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..plans.iterate import (
    IterationDriver,
    materialize,
    unpersist_checkpoint,
)

MSG_SCHEMA = StructType(
    [
        StructField("src", LongType()),
        StructField("dst", LongType()),
        StructField("belief", ArrayType(DoubleType())),
    ]
)

BELIEF_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("label", LongType()),
        StructField("belief", ArrayType(DoubleType())),
    ]
)


def noisy_priors(observed: DataFrame, k: int, noise: float) -> DataFrame:
    """priors(id, prior: array<double>) from observed labels (id, label).

    prior[s] = (1−noise)·1[s=label] + noise/k  — pure column math via
    F.transform (JVM-side), replacing src/belief_propagation.cpp:20-35.
    """
    base = noise / k
    return observed.select(
        "id",
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda s: F.when(s == F.col("label"), F.lit(1.0 - noise + base)).otherwise(
                F.lit(base)
            ),
        ).alias("prior"),
    )


def _softmax(logits: np.ndarray) -> np.ndarray:
    m = logits.max(axis=-1, keepdims=True)
    e = np.exp(logits - m)
    return e / e.sum(axis=-1, keepdims=True)


def _superstep_kernel(p_in: float, p_out: float):
    """Grouped kernel: all incoming messages of one vertex i → all outgoing."""
    diff = p_in - p_out

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        i = pdf["dst"].iloc[0]
        srcs = pdf["src"].to_numpy()
        msgs = np.stack(pdf["belief"].to_numpy())  # (deg, k)
        w = pdf["weight"].to_numpy()[:, None].astype(np.float64)
        log_prior = np.log(np.asarray(pdf["prior"].iloc[0], dtype=np.float64))
        lt = w * np.log(p_out + diff * msgs)  # (deg, k)
        tot = lt.sum(axis=0)  # (k,)
        out = _softmax(log_prior[None, :] + tot[None, :] - lt)  # (deg, k)
        return pd.DataFrame(
            {"src": np.full(len(srcs), i), "dst": srcs, "belief": list(out)}
        )

    return kernel


def _finalize_kernel(p_in: float, p_out: float):
    diff = p_in - p_out

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        i = pdf["dst"].iloc[0]
        msgs = np.stack(pdf["belief"].to_numpy())
        w = pdf["weight"].to_numpy()[:, None].astype(np.float64)
        log_prior = np.log(np.asarray(pdf["prior"].iloc[0], dtype=np.float64))
        b = _softmax(log_prior + (w * np.log(p_out + diff * msgs)).sum(axis=0))
        return pd.DataFrame(
            {"id": [i], "label": [int(np.argmax(b))], "belief": [b]}
        )

    return kernel


def _tot_agg(lt: DataFrame, k: int) -> DataFrame:
    """tot(dst, tot: array<double>) = element-wise Σ of incoming lt arrays.

    k independent SUM columns (one per state) instead of a posexplode —
    ONE hash aggregation whose partial (map-side) combine bounds memory at
    O(k · n_partitions) regardless of hub degree: the salted two-phase
    log-sum docs/SCALE.md §Skew promises, expressed as plain partial
    aggregation (Spark's combiner IS the salt phase)."""
    sums = [F.sum(F.element_at(F.col("lt"), s + 1)).alias(f"_t{s}") for s in range(k)]
    per = lt.groupBy("dst").agg(*sums)
    return per.select("dst", F.array(*[f"_t{s}" for s in range(k)]).alias("tot"))


def _with_old_belief(new: DataFrame, msgs: DataFrame) -> DataFrame:
    """``new`` messages with each one's previous value beside it, as the
    working column ``old`` that ``_max_msg_delta`` reads."""
    old = msgs.select("src", "dst", F.col("belief").alias("old"))
    return new.join(old, ["src", "dst"], "left")


def _max_msg_delta():
    """max |Δmessage| over every message and state: an aggregate over
    ``_with_old_belief``'s rows, observed on the superstep's persist job."""
    return F.max(
        F.aggregate(
            F.zip_with("belief", "old", lambda a, b: F.abs(a - b)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        )
    )


def _softmax_col(logits):
    """JVM-side softmax over an array column (log-sum-exp stabilized)."""
    mx = F.array_max(logits)
    e = F.transform(logits, lambda x: F.exp(x - mx))
    z = F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x)
    return F.transform(e, lambda x: x / z)


def belief_propagation(
    spark: SparkSession,
    edges: DataFrame,
    priors: DataFrame,
    k: int,
    p_in: float,
    p_out: float,
    max_iterations: int = 10,
    tolerance: float = 1e-6,
    driver: IterationDriver | None = None,
    impl: str = "agg",
    resume: bool = False,
) -> DataFrame:
    """beliefs(id, label, belief) after synchronous BP on the SYMMETRIZED
    ``edges(src, dst, weight)`` with ``priors(id, prior: array<double>)``.

    tolerance < 0 runs exactly ``max_iterations`` supersteps (oracle-parity
    mode, no convergence actions in the loop); otherwise iterate until
    max |Δmessage| ≤ tolerance.

    impl='agg' (default) — the 100 TB path: the superstep is pure Catalyst
    (element-wise log terms, one partially-aggregated groupBy for the
    per-vertex totals, co-partitioned joins, softmax as array expressions).
    No applyInPandas group ever holds a hub's full neighborhood: a
    10^7-degree hub costs the combiner O(k) per map partition instead of a
    ~2.5 GB Arrow batch (VERDICT r1 #5). Message state carries (weight,
    belief) so edges are never re-joined inside the loop; weights must be
    symmetric (guaranteed by the symmetrized table).

    impl='kernel' — the original grouped Arrow-kernel superstep, kept as
    the cross-checked reference implementation (tests assert agg == kernel).
    """
    if impl not in ("agg", "kernel"):
        raise ValueError(f"unknown BP impl {impl!r}")
    # the agg impl's message state stays hash(dst)-partitioned; the
    # kernel's grouped-map output is not partitioned on any output column
    driver = driver or IterationDriver(spark, run_id="bp")
    fixed_iters = tolerance < 0
    diff = p_in - p_out

    # Per-iteration join inputs, partitioned once by the superstep's
    # grouping key so every superstep reuses the same shuffle layout
    # (keyed materialize, see plans/iterate.py).
    # NOTE: BP stays on materialize (not cache_partitioned): its superstep
    # joins the edge table against applyInPandas message state on
    # (src, dst), and a cached plan's recorded hash(dst) partitioning
    # combined with a partitioning claim on the message state can let the
    # grouped-map exchange be elided on a layout that does not satisfy it
    # (measured: duplicate per-dst groups in the kernel impl). The
    # cross-check invariant agg == kernel matters more here than the
    # cached scan's bandwidth saving.
    ew = materialize(edges.select("src", "dst", "weight").repartition("dst"), "dst")
    pr = materialize(priors.select(F.col("id").alias("dst"), "prior").repartition("dst"), "dst")

    if impl == "agg":
        return _belief_propagation_agg(
            spark, ew, pr, k, diff, p_out, max_iterations, tolerance, driver,
            fixed_iters, resume,
        )

    init = ew.select("src", "dst", F.array(*[F.lit(1.0 / k)] * k).alias("belief"))

    step_kernel = _superstep_kernel(p_in, p_out)

    def step(msgs: DataFrame, i: int):
        joined = ew.join(msgs, ["src", "dst"]).join(pr, "dst")
        new = joined.groupBy("dst").applyInPandas(step_kernel, MSG_SCHEMA)
        if fixed_iters:
            return new, None
        return _with_old_belief(new, msgs), _max_msg_delta()

    result = driver.run(
        init,
        step,
        max_iterations=max_iterations,
        tolerance=tolerance,
        resume=resume,  # north_rule: a durable-driver run continues
        metric_name="max_msg_delta",
    )
    final = ew.join(result.state, ["src", "dst"]).join(pr, "dst")
    out = materialize(
        final.groupBy("dst").applyInPandas(
            _finalize_kernel(p_in, p_out), BELIEF_SCHEMA
        )
    )
    # the n-row belief table is materialized — release the per-run inputs
    # and the final message state (see unpersist_checkpoint)
    for df in (ew, pr, result.state):
        unpersist_checkpoint(df)
    return out


def _belief_propagation_agg(
    spark: SparkSession,
    ew: DataFrame,
    pr: DataFrame,
    k: int,
    diff: float,
    p_out: float,
    max_iterations: int,
    tolerance: float,
    driver: IterationDriver,
    fixed_iters: bool,
    resume: bool = False,
) -> DataFrame:
    """Pure-Catalyst BP (see belief_propagation impl='agg'). State =
    (src, dst, weight, belief) messages, repartitioned by dst per superstep
    — the one unavoidable exchange (message direction flips every round)."""

    def _lt(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "lt",
            F.transform(
                "belief", lambda x: F.col("weight") * F.log(F.lit(p_out) + F.lit(diff) * x)
            ),
        )

    init = ew.select(
        "src", "dst", "weight", F.array(*[F.lit(1.0 / k)] * k).alias("belief")
    )

    def step(msgs: DataFrame, i: int):
        lt = _lt(msgs)
        tot = _tot_agg(lt, k)  # co-partitioned with lt & pr (all hash(dst))
        logits = F.zip_with(
            F.zip_with("tot", "lt", lambda t, l: t - l),
            "prior",
            lambda a, p: a + F.log(p),
        )
        out = (
            lt.join(tot, "dst")
            .join(pr, "dst")
            .select("src", "dst", "weight", _softmax_col(logits).alias("belief"))
        )
        # flip direction i→j and land pre-partitioned on the NEXT round's
        # aggregation key
        new = out.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight", "belief"
        )
        if fixed_iters:
            return new.repartition("dst"), None
        return _with_old_belief(new, msgs).repartition("dst"), _max_msg_delta()

    result = driver.run(
        init,
        step,
        max_iterations=max_iterations,
        tolerance=tolerance,
        resume=resume,  # north_rule: a durable-driver run continues
        metric_name="max_msg_delta",
        state_key="dst",
    )
    tot = _tot_agg(_lt(result.state), k)
    b = _softmax_col(F.zip_with("prior", "tot", lambda p, t: F.log(p) + t))
    final = tot.join(pr, "dst").select(F.col("dst").alias("id"), b.alias("belief"))
    # argmax with a 1e-9 tie tolerance: structurally symmetric vertices
    # produce EXACT belief ties in real arithmetic that float summation
    # order breaks differently per engine; "first state within eps of the
    # max" makes the tie-break (smallest s) reproducible across engines
    # and partitionings. eps sits ~4 orders above accumulated float noise
    # and ~6 below any genuine belief gap.
    mx = F.array_max("belief")
    out = materialize(
        final.select(
            "id",
            (
                F.array_position(
                    F.transform(F.col("belief"), lambda b: b >= mx - F.lit(1e-9)), F.lit(True)
                )
                - 1
            )
            .cast("long")
            .alias("label"),
            "belief",
        )
    )
    # the n-row belief table is materialized — release the per-run inputs
    # and the final message state (see unpersist_checkpoint)
    for df in (ew, pr, result.state):
        unpersist_checkpoint(df)
    return out


# -- pure-python oracle (tests) ---------------------------------------------


def bp_oracle(
    edges: list[tuple[int, int, int]],
    priors: dict[int, list[float]],
    k: int,
    p_in: float,
    p_out: float,
    n_iterations: int,
) -> dict[int, tuple[int, list[float]]]:
    """Reference implementation on a tiny symmetrized edge list."""
    diff = p_in - p_out
    inc: dict[int, list[tuple[int, int]]] = {}
    for s, d, w in edges:
        inc.setdefault(d, []).append((s, w))
    msg = {(s, d): [1.0 / k] * k for s, d, _ in edges}
    wt = {(s, d): w for s, d, w in edges}

    def lt(u, i, m):
        return [wt[(u, i)] * math.log(p_out + diff * m[(u, i)][s]) for s in range(k)]

    for _ in range(n_iterations):
        new = {}
        for i, nbrs in inc.items():
            lts = {u: lt(u, i, msg) for u, _ in nbrs}
            tot = [sum(lts[u][s] for u, _ in nbrs) for s in range(k)]
            lp = [math.log(priors[i][s]) for s in range(k)]
            for u, _ in nbrs:
                logits = [lp[s] + tot[s] - lts[u][s] for s in range(k)]
                m = max(logits)
                e = [math.exp(x - m) for x in logits]
                z = sum(e)
                new[(i, u)] = [x / z for x in e]
        msg = new
    out = {}
    for i, nbrs in inc.items():
        lts = {u: lt(u, i, msg) for u, _ in nbrs}
        tot = [sum(lts[u][s] for u, _ in nbrs) for s in range(k)]
        logits = [math.log(priors[i][s]) + tot[s] for s in range(k)]
        m = max(logits)
        e = [math.exp(x - m) for x in logits]
        z = sum(e)
        b = [x / z for x in e]
        out[i] = (b.index(max(b)), b)
    return out
