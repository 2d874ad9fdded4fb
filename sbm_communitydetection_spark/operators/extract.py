"""Transcript → link-graph extraction (the engine's entry pipeline).

Derives the working graph relation from the input_hint transcript table:

* vertices are conversation ACTORS: the distinct `role` values
  (participants, e.g. agents shared across conversations) plus the
  distinct `tool` values (tool actors — typically hubs).
* reply edges: consecutive turns within a conversation under STABLE TURN
  ORDERING (`Window.partitionBy(conv_id).orderBy(turn_idx)` + lag —
  the system's only window-function use, SURVEY.md §2.10) link the two
  turns' actors.
* tool-invocation edges: a turn with non-null `tool` links its actor to
  the tool actor.

Edges are symmetrized and weight-aggregated (duplicates accumulate,
reference src/graph.cpp:24-26 / addUndirectedEdge src/graph.cpp:232-235)
and self-loops dropped (reference src/belief_propagation.cpp:40-42,
src/sbm.cpp:96-98).

Vertex ids are xxhash64(actor_key): collision-free in practice at
fixture scale and auditable via `assert_no_id_collisions`; at 10^12-turn
scale the same pipeline holds (64-bit ids), with the audit query run as
a data-quality gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.iterate import materialize
from .graph_ops import symmetrize

TOOL_PREFIX = "tool:"


def actor_id(key):  # column helper
    return F.xxhash64(key)


def extract_turn_actors(transcripts: DataFrame) -> DataFrame:
    """Annotate every turn with its participant actor key + id.

    Carries `text` through unchanged — the per-turn text-equality
    invariant (BASELINE.json input_hint) is asserted against this table.
    """
    return transcripts.withColumn("actor_key", F.col("role")).withColumn(
        "actor_id", actor_id(F.col("actor_key"))
    )


def extract_vertices(transcripts: DataFrame) -> DataFrame:
    """vertices(id, actor_key, kind) — distinct participant + tool actors."""
    participants = transcripts.select(F.col("role").alias("actor_key")).distinct().withColumn(
        "kind", F.lit("participant")
    )
    tools = (
        transcripts.filter(F.col("tool").isNotNull())
        .select(F.concat(F.lit(TOOL_PREFIX), F.col("tool")).alias("actor_key"))
        .distinct()
        .withColumn("kind", F.lit("tool"))
    )
    return participants.unionByName(tools).select(
        actor_id(F.col("actor_key")).alias("id"), "actor_key", "kind"
    )


def reply_edges(transcripts: DataFrame) -> DataFrame:
    """Directed reply links (src=replier, dst=previous turn's actor), weight 1 each."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        transcripts.withColumn("prev_role", F.lag("role").over(w))
        .filter(F.col("prev_role").isNotNull())
        .select(
            actor_id(F.col("role")).alias("src"),
            actor_id(F.col("prev_role")).alias("dst"),
            F.lit(1).cast("long").alias("weight"),
        )
    )


def tool_edges(transcripts: DataFrame) -> DataFrame:
    """Tool-invocation links (actor → tool vertex), weight 1 per invocation."""
    return transcripts.filter(F.col("tool").isNotNull()).select(
        actor_id(F.col("role")).alias("src"),
        actor_id(F.concat(F.lit(TOOL_PREFIX), F.col("tool"))).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
    )


def extract_edges(transcripts: DataFrame, include_tool_edges: bool = True) -> DataFrame:
    """Symmetrized, weight-aggregated, self-loop-free edge table."""
    e = reply_edges(transcripts)
    if include_tool_edges:
        e = e.unionByName(tool_edges(transcripts))
    return symmetrize(e)


def extract_graph(transcripts: DataFrame, include_tool_edges: bool = True):
    """(vertices, edges) — the engine's working pair (SURVEY.md §1.1)."""
    return extract_vertices(transcripts), extract_edges(transcripts, include_tool_edges)


def assert_no_id_collisions(vertices: DataFrame) -> None:
    """Data-quality gate: xxhash64 actor ids must be unique per actor_key."""
    dupes = vertices.groupBy("id").agg(F.countDistinct("actor_key").alias("n")).filter(F.col("n") > 1)
    if dupes.limit(1).count() > 0:
        raise ValueError("vertex id hash collision detected — widen id scheme")


# ---------------------------------------------------------------------------
# transcript analytics (axis-B queries over the input_hint table itself)
# ---------------------------------------------------------------------------


def conv_stats(transcripts: DataFrame) -> DataFrame:
    """(conv_id, n_turns, n_actors, n_tool_calls, duration_ms) — the
    per-conversation rollup a transcripts warehouse serves constantly.
    One hash aggregate keyed on conv_id; at 10^12 turns this is the
    map-side-combine-friendly shape (no window, no join)."""
    return transcripts.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.countDistinct("role").cast("long").alias("n_actors"),
        F.count("tool").cast("long").alias("n_tool_calls"),
        # ts arrives TIMESTAMP_NTZ from parquet; session tz is pinned UTC,
        # so the cast is identity and unix_millis resolves
        (
            F.unix_millis(F.max("ts").cast("timestamp"))
            - F.unix_millis(F.min("ts").cast("timestamp"))
        ).alias("duration_ms"),
    )


def role_transitions(transcripts: DataFrame) -> DataFrame:
    """(role_from, role_to, n) — who-replies-to-whom counts under stable
    turn ordering; the aggregate form of the reply-edge extraction
    (directed, NOT symmetrized — this is the analytics view, the graph
    ingest is `reply_edges`)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lagged = transcripts.select(
        F.lag("role").over(w).alias("role_from"), F.col("role").alias("role_to")
    )
    return (
        lagged.filter(F.col("role_from").isNotNull())
        .groupBy("role_from", "role_to")
        .agg(F.count("*").cast("long").alias("n"))
    )


def reply_reciprocity(transcripts: DataFrame) -> DataFrame:
    """One row (reciprocity) — WEIGHTED reciprocity of the directed
    reply graph (Squartini et al. 2013): Σ min(w_ab, w_ba) / Σ w_ab
    over ordered actor pairs a≠b. 1.0 = every reply flow is fully
    mutual; 0.0 = purely one-directional (broadcast-shaped) traffic.
    Built on the role_transitions aggregate (tiny — O(|roles|²) rows),
    so the heavy lifting is the same single window + groupBy pass."""
    t = role_transitions(transcripts).filter(F.col("role_from") != F.col("role_to"))
    rev = t.select(
        F.col("role_to").alias("role_from"),
        F.col("role_from").alias("role_to"),
        F.col("n").alias("n_rev"),
    )
    j = t.join(rev, ["role_from", "role_to"], "left").select(
        "n", F.coalesce("n_rev", F.lit(0)).alias("n_rev")
    )
    return j.agg(
        F.round(F.sum(F.least("n", "n_rev")) / F.sum("n"), 6).alias("reciprocity")
    )


def conv_structure_docs(transcripts: DataFrame) -> DataFrame:
    """(doc_id, text) — each conversation rendered as its STRUCTURAL
    fingerprint document: the turn-ordered sequence of `role[:tool]`
    tokens, space-joined. Feeding this into the textops dedup family
    detects templated / boilerplate conversations (same interaction
    shape regardless of per-turn text) — the transcript-curation twin
    of content near-dup, run before sampling so one scripted flow
    cannot dominate a training mix.

    One hash aggregate keyed on conv_id (collect_list + array_sort —
    turn order restored inside the group, so no window exchange); the
    output is one short row per conversation, ~|turns| bytes each.
    """
    token = F.concat(
        F.col("role"),
        F.coalesce(F.concat(F.lit(":"), F.col("tool")), F.lit("")),
    )
    return transcripts.groupBy(F.col("conv_id").alias("doc_id")).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", token.alias("token")))),
                lambda s: s["token"],
            ),
        ).alias("text")
    )


def reply_latency_stats(transcripts: DataFrame) -> DataFrame:
    """(role_from, role_to, n, avg_gap_ms, max_gap_ms) — reply-latency
    profile per directed actor pair: how long each actor takes to answer
    each other actor. Same single conv_id window pass as
    role_transitions (lag on both role and ts), then one hash aggregate;
    the avg is an exact integer-sum / count division, so the DuckDB
    oracle mirrors it bit-for-bit."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    lagged = transcripts.select(
        F.lag("role").over(w).alias("role_from"),
        F.col("role").alias("role_to"),
        (ms - F.lag(ms).over(w)).alias("gap_ms"),
    ).filter(F.col("role_from").isNotNull())
    return lagged.groupBy("role_from", "role_to").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("gap_ms"), 6).alias("avg_gap_ms"),
        F.max("gap_ms").cast("long").alias("max_gap_ms"),
    )


def tool_cooccurrence(transcripts: DataFrame) -> DataFrame:
    """(tool_a, tool_b, n_convs) — tool-affinity graph: how many
    conversations invoke BOTH tools. The derived graph behind
    tool-bundling / capability-cluster analysis (feed it to louvain/cc
    like any edge table, weight = n_convs).

    distinct (conv_id, tool) first, then a self-equi-join on conv_id:
    the join is keyed (one shuffle) and quadratic only WITHIN a
    conversation's distinct tool set — bounded by the tool vocabulary,
    not the turn count, so it holds at 10^12 turns."""
    ct = (
        transcripts.filter(F.col("tool").isNotNull())
        .select("conv_id", "tool")
        .distinct()
    )
    a, b = ct.alias("a"), ct.alias("b")
    return (
        a.join(b, "conv_id")
        .filter(F.col("a.tool") < F.col("b.tool"))
        .groupBy(F.col("a.tool").alias("tool_a"), F.col("b.tool").alias("tool_b"))
        .agg(F.count("*").cast("long").alias("n_convs"))
    )


def conv_influence(transcripts: DataFrame, actor_ranks: DataFrame) -> DataFrame:
    """(conv_id, influence) — conversation curation score: the sum over
    turns of the turn actor's PageRank in the extracted link graph, i.e.
    conversations dominated by influential actors score high. The
    ranking half of an influence-weighted training-mix decision (pair
    with a top-k / threshold keep rule).

    ``actor_ranks`` is (id=actor_key, rank) — e.g. the user_influence
    output. The actor domain is tiny relative to the turn table, so the
    rank side broadcasts and the score is one conv_id hash aggregate
    over the turn table (no extra shuffle beyond the aggregate).

    Unranked actors contribute 0 (LEFT join + coalesce): a conversation
    whose actors all lack a rank scores 0 and stays eligible for the
    downstream keep rule — an inner join would silently DROP it from
    curation consideration entirely (ADVICE r2)."""
    r = F.broadcast(actor_ranks.select(F.col("id").alias("role"), "rank"))
    return (
        transcripts.join(r, "role", "left")
        .groupBy("conv_id")
        .agg(F.round(F.sum(F.coalesce(F.col("rank"), F.lit(0.0))), 6).alias("influence"))
    )


def sessionize(transcripts: DataFrame, gap_ms: int) -> DataFrame:
    """(conv_id, turn_idx, session_idx) — split each conversation into
    sessions wherever the inter-turn gap exceeds ``gap_ms`` (the classic
    sessionization op every interaction-log pipeline runs before
    per-session stats / training-example assembly).

    One conv_id-keyed window pass: boundary flag from lag(ts), running
    SUM of boundaries = 0-based session ordinal. Same exchange as the
    turn-ordering window, so stacked on the extraction pipeline it is
    free (conv_id partitioning reused)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    prev_ms = F.lag(ms).over(w)
    boundary = F.when(
        prev_ms.isNotNull() & ((ms - prev_ms) > gap_ms), 1
    ).otherwise(0)
    return transcripts.select(
        "conv_id",
        "turn_idx",
        F.sum(boundary)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("session_idx"),
    )


def session_stats(transcripts: DataFrame, gap_ms: int) -> DataFrame:
    """(conv_id, session_idx, n_turns, duration_ms) — the per-session
    rollup: same window pass as sessionize with ts carried through, then
    one conv_id-clustered aggregate (no join, the window exchange serves
    both)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    prev_ms = F.lag(ms).over(w)
    boundary = F.when(
        prev_ms.isNotNull() & ((ms - prev_ms) > gap_ms), 1
    ).otherwise(0)
    withsess = transcripts.select(
        "conv_id",
        ms.alias("ms"),
        F.sum(boundary)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("session_idx"),
    )
    return withsess.groupBy("conv_id", "session_idx").agg(
        F.count("*").cast("long").alias("n_turns"),
        (F.max("ms") - F.min("ms")).cast("long").alias("duration_ms"),
    )


def decayed_reply_edges(
    transcripts: DataFrame, half_life_ms: float, round_to: int = 6
) -> DataFrame:
    """(src_key, dst_key, weight) — reply links with RECENCY-decayed
    weights: each link contributes 2^(-(t_max − ts)/half_life), so an
    edge's weight is dominated by its recent activity (the temporal
    variant of the flat reply_edges extraction; stale actor pairs fade
    instead of accumulating forever — what a rolling transcripts
    warehouse actually wants for "current" community structure).

    t_max is one scalar agg over the corpus; the decay factor is
    pure JVM column math inside the same conv_id-windowed pass as
    reply_edges, then the usual one-pass symmetrize-and-aggregate.
    String actor keys (not hashed ids) so the DuckDB oracle mirrors
    verbatim."""
    t_max = transcripts.agg(
        F.max(F.unix_millis(F.col("ts").cast("timestamp")))
    ).collect()[0][0]
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    raw = (
        transcripts.withColumn("prev_role", F.lag("role").over(w))
        .filter(F.col("prev_role").isNotNull())
        .select(
            F.col("role").alias("src_key"),
            F.col("prev_role").alias("dst_key"),
            F.pow(
                F.lit(2.0),
                -(
                    (F.lit(t_max) - F.unix_millis(F.col("ts").cast("timestamp")))
                    / F.lit(float(half_life_ms))
                ),
            ).alias("weight"),
        )
    )
    both = raw.select(
        F.explode(
            F.array(
                F.struct("src_key", "dst_key", "weight"),
                F.struct(
                    F.col("dst_key").alias("src_key"),
                    F.col("src_key").alias("dst_key"),
                    F.col("weight"),
                ),
            )
        ).alias("e")
    ).select("e.src_key", "e.dst_key", "e.weight")
    return (
        both.filter(F.col("src_key") != F.col("dst_key"))
        .groupBy("src_key", "dst_key")
        .agg(F.round(F.sum("weight"), round_to).alias("weight"))
    )


def pack_conversations(transcripts: DataFrame, budget_tokens: int) -> DataFrame:
    """(conv_id, conv_tokens, pack_id) — sequence PACKING for training-
    example assembly: conversations are laid out in deterministic
    conv_id order and cut into packs of ``budget_tokens`` whitespace
    tokens; a conversation belongs to the pack where its first token
    falls (fixed-quota packing — the scalable formulation: pack_id is a
    pure function of the exclusive prefix sum, no greedy reset state).

    Scale shape: the prefix sum is two-phase (the classic distributed
    scan) — range-partition by conv_id, partition-LOCAL window cumsum,
    then one driver-side pass over the per-partition totals (#partitions
    rows, not data rows) broadcast back as offsets. No global
    single-partition window anywhere.
    """
    toks = (
        transcripts.select("conv_id", F.size(F.split("text", " ")).alias("t"))
        .groupBy("conv_id")
        .agg(F.sum("t").cast("long").alias("conv_tokens"))
    )
    ranged = toks.repartitionByRange("conv_id").withColumn(
        "pid", F.spark_partition_id()
    )
    local_w = Window.partitionBy("pid").orderBy("conv_id")
    local = materialize(ranged.withColumn("local_cum", F.sum("conv_tokens").over(local_w)))
    totals = {
        r.pid: r.total
        for r in local.groupBy("pid").agg(F.max("local_cum").alias("total")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    spark = transcripts.sparkSession
    off = F.broadcast(
        spark.createDataFrame(
            [(p, o) for p, o in offsets.items()], "pid int, offset long"
        )
    )
    return (
        local.join(off, "pid")
        .select(
            "conv_id",
            "conv_tokens",
            (
                (F.col("offset") + F.col("local_cum") - F.col("conv_tokens"))
                / F.lit(budget_tokens)
            )
            .cast("long")
            .alias("pack_id"),
        )
    )


def pack_conversations_oracle_sql(budget_tokens: int) -> str:
    """DuckDB mirror: plain global-window prefix sum (exact at sf scale)."""
    return f"""
    ct AS (
        SELECT conv_id,
               SUM(len(string_split(text, ' ')))::BIGINT AS conv_tokens
        FROM transcripts GROUP BY conv_id
    ),
    cum AS (
        SELECT conv_id, conv_tokens,
               SUM(conv_tokens) OVER (ORDER BY conv_id
                   ROWS UNBOUNDED PRECEDING) - conv_tokens AS cume
        FROM ct
    )
    SELECT conv_id, conv_tokens, (cume // {budget_tokens})::BIGINT AS pack_id
    FROM cum
    """


def holdout_split(
    transcripts: DataFrame,
    val_permille: int = 50,
    test_permille: int = 50,
    seed: int = 13,
) -> DataFrame:
    """(conv_id, split) — leakage-safe train/val/test assignment: the
    decision is a portable 60-bit hash of (seed, conv_id) at CONVERSATION
    granularity, so every turn of a conversation lands in the same split
    (turn-level splitting leaks context between train and eval), it is
    reproducible across runs AND engines (no RNG), and costs zero
    shuffles beyond the conv_id distinct."""
    from ..textops.portable import md5_long

    coin = md5_long(F.concat_ws(":", F.lit(str(seed)), F.col("conv_id"))) % 1000
    return (
        transcripts.select("conv_id")
        .distinct()
        .select(
            "conv_id",
            F.when(coin < val_permille, F.lit("val"))
            .when(coin < val_permille + test_permille, F.lit("test"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


def holdout_split_oracle_sql(
    val_permille: int = 50, test_permille: int = 50, seed: int = 13
) -> str:
    from ..textops.portable import md5_long_sql

    coin = md5_long_sql(f"'{seed}:' || conv_id") + " % 1000"
    return f"""
    SELECT conv_id,
           CASE WHEN {coin} < {val_permille} THEN 'val'
                WHEN {coin} < {val_permille + test_permille} THEN 'test'
                ELSE 'train' END AS split
    FROM (SELECT DISTINCT conv_id FROM transcripts)
    """


def prompt_response_pairs(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, prompt_role, response_role, prompt_text,
    response_text) — adjacent cross-role turn pairs: the SFT
    training-pair extraction over the input_hint transcript table.  A
    pair is every turn whose PREDECESSOR (stable turn ordering) was
    spoken by a different role; same-role continuations are not pairs.

    One lag window keyed on conv_id — the same single shuffle every
    extraction op here rides; per-turn text passes through verbatim
    (the per-row invariant), so pair text equality is inherited from
    turn text equality."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        transcripts.select(
            "conv_id",
            "turn_idx",
            F.lag("role").over(w).alias("prompt_role"),
            F.col("role").alias("response_role"),
            F.lag("text").over(w).alias("prompt_text"),
            F.col("text").alias("response_text"),
        )
        .filter(F.col("prompt_role").isNotNull())
        .filter(F.col("prompt_role") != F.col("response_role"))
    )


def context_windows(transcripts: DataFrame, k: int = 3) -> DataFrame:
    """(conv_id, turn_idx, response_role, context, response) — rolling
    multi-turn SFT example assembly: each turn becomes a training row
    whose context is the previous ≤k turns rendered as "role: text"
    lines.  The multi-turn generalization of prompt_response_pairs;
    turns with no predecessor produce no row (nothing to condition on).

    One conv_id-keyed window with a bounded ROWS frame — the context is
    assembled inside the frame (≤k rows buffered per turn), never by
    joining the conversation against itself, so cost is O(k · turns)
    regardless of conversation length."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(-k, -1)
    lines = F.collect_list(F.concat_ws(": ", F.col("role"), F.col("text"))).over(w)
    return (
        transcripts.select(
            "conv_id",
            "turn_idx",
            F.col("role").alias("response_role"),
            lines.alias("ctx_lines"),
            F.col("text").alias("response"),
        )
        .filter(F.size("ctx_lines") > 0)
        .select(
            "conv_id",
            "turn_idx",
            "response_role",
            F.concat_ws("\n", F.col("ctx_lines")).alias("context"),
            "response",
        )
    )


def dpo_pair_candidates(
    transcripts: DataFrame, k_per_prompt: int = 3
) -> DataFrame:
    """(prompt_text, conv_a, turn_a, response_a, conv_b, turn_b,
    response_b) — preference-pair mining: conversations that answered
    the SAME prompt with DIFFERENT responses yield candidate
    chosen/rejected pairs for DPO/RLHF training.  Pairs are ordered
    (rank_a < rank_b under the deterministic (conv_id, turn_idx)
    order), capped at k_per_prompt responses per distinct prompt, and
    identical responses never pair.

    Scale shape: the per-prompt window ranks at most the duplicate set
    of one prompt per partition and the rank<=k cap bounds the pair
    fan-out at k(k-1)/2 per prompt BEFORE the self-join (the join runs
    on the capped representative table, never the corpus).  A viral
    prompt with 10^8 duplicates still funnels into one window
    partition; at that scale compose with a deterministic hash
    pre-sample on (prompt, conv) — the sample_edges machinery — to
    bound the per-prompt sort.
    """
    pairs = prompt_response_pairs(transcripts)
    w = Window.partitionBy("prompt_text").orderBy("conv_id", "turn_idx")
    reps = (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k_per_prompt)
        .select("prompt_text", "conv_id", "turn_idx", "response_text", "rk")
    )
    a = reps.select(
        "prompt_text",
        F.col("conv_id").alias("conv_a"),
        F.col("turn_idx").alias("turn_a"),
        F.col("response_text").alias("response_a"),
        F.col("rk").alias("rk_a"),
    )
    b = reps.select(
        "prompt_text",
        F.col("conv_id").alias("conv_b"),
        F.col("turn_idx").alias("turn_b"),
        F.col("response_text").alias("response_b"),
        F.col("rk").alias("rk_b"),
    )
    return (
        a.join(b, "prompt_text")
        .filter(F.col("rk_a") < F.col("rk_b"))
        .filter(F.col("response_a") != F.col("response_b"))
        .drop("rk_a", "rk_b")
    )


def conv_novelty(transcripts: DataFrame) -> DataFrame:
    """(conv_id, n_bigrams, n_novel, novelty) — cross-conversation
    novelty: the fraction of a conversation's distinct word bigrams whose
    FIRST corpus occurrence (by conversation start time, conv_id
    tie-break) is in this conversation.  Low novelty flags templated /
    recycled conversations for the curation keep-list; the temporal
    ownership rule makes the score stable under re-partitioning and
    incremental ingest (later arrivals can only lose ownership races,
    never steal bigrams already owned).

    Scale shape: one distinct over (conv_id, bigram), one bigram-keyed
    min-aggregate for the owner table (vocab-bounded), one broadcastable
    start-time join — no self-joins, no windows over the corpus.
    """
    from ..textops.portable import shingles_col

    bg = (
        transcripts.select(
            "conv_id", F.explode(shingles_col(F.col("text"), 2)).alias("g")
        )
        .distinct()
    )
    start = transcripts.groupBy("conv_id").agg(
        F.unix_millis(F.min("ts").cast("timestamp")).alias("start_ms")
    )
    stamped = bg.join(start, "conv_id")
    owner = stamped.groupBy("g").agg(
        F.min(F.struct(F.col("start_ms"), F.col("conv_id"))).alias("first")
    )
    return (
        stamped.join(owner, "g")
        .groupBy("conv_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(
                F.when(F.col("first.conv_id") == F.col("conv_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn("novelty", F.round(F.col("n_novel") / F.col("n_bigrams"), 6))
    )


def conv_entropy(transcripts: DataFrame) -> DataFrame:
    """(conv_id, n_turns, role_entropy) — Shannon entropy (nats) of the
    per-conversation role distribution.  Near-zero entropy = monologue
    or template (one actor dominates); high entropy = balanced
    multi-party dialogue — a standard diversity cut for SFT curation.

    Two stacked hash aggregates keyed on conv_id ((conv,role) counts,
    then per-conv entropy) — map-side combinable, no window, no join
    except none; at 10^12 turns it is the same shuffle shape as
    conv_stats.  The inner term is summed in deterministic value form
    (p·ln p per role, rounded once at the end).
    """
    per_role = transcripts.groupBy("conv_id", "role").agg(
        F.count("*").alias("c")
    )
    return (
        per_role.groupBy("conv_id")
        .agg(
            F.sum("c").alias("n_turns"),
            F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("clogc"),
        )
        .select(
            "conv_id",
            F.col("n_turns").cast("long").alias("n_turns"),
            # H = ln(n) - (1/n)·Σ c·ln(c), algebraically -Σ p·ln p but in
            # a form both engines evaluate with identical association
            F.round(
                F.log(F.col("n_turns").cast("double"))
                - F.col("clogc") / F.col("n_turns"),
                6,
            ).alias("role_entropy"),
        )
    )



def turn_segments(transcripts: DataFrame, threshold: float = 0.1) -> DataFrame:
    """(conv_id, segment, n_turns, start_idx, end_idx) — topic
    segmentation of each conversation: a new segment starts where the
    token-set Jaccard between consecutive turns drops below
    ``threshold`` (TextTiling-style lexical-cohesion break, Hearst '97).
    Long-context SFT assembly cuts conversations at these boundaries
    instead of mid-topic, and segment counts feed the curation
    keep-list (single-segment = focused, many-segment = drift).

    Scale shape: one window partitioned by conv_id (conversations are
    small, so the per-partition sort is bounded), one lag, one running
    sum over the same window spec — all three reuse ONE exchange — then
    a (conv_id, segment)-keyed hash aggregate.  Array ops are JVM
    higher-order functions; no Python, no self-join.  The Jaccard is an
    exact int/int division, so the threshold compare is
    engine-deterministic without rounding."""
    toks = F.array_distinct(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = (
        transcripts.select("conv_id", "turn_idx", toks.alias("toks"))
        .withColumn("prev", F.lag("toks").over(w))
    )
    inter = F.size(F.array_intersect("toks", "prev")).cast("double")
    uni = F.size(F.array_union("toks", "prev"))
    jac = F.when(uni == 0, F.lit(1.0)).otherwise(inter / uni)
    boundary = (
        F.when(F.col("prev").isNull(), F.lit(0))
        .when(jac < threshold, F.lit(1))
        .otherwise(F.lit(0))
    )
    seg = F.sum(boundary).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("segment", seg.cast("long"))
        .groupBy("conv_id", "segment")
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.min("turn_idx").alias("start_idx"),
            F.max("turn_idx").alias("end_idx"),
        )
    )


LATENCY_QS = (0.5, 0.9, 0.99)


def latency_quantiles(
    transcripts: DataFrame, qs: tuple[float, ...] = LATENCY_QS
) -> DataFrame:
    """(q, gap_ms) — EXACT reply-gap quantiles (lower / disc semantics:
    the smallest gap whose cumulative count reaches ceil(q·n)).

    Exact quantiles normally force a global sort; this computes them
    scale-safely via a histogram CDF instead: one conv-window lag pass
    (shared shape with reply_latency_stats), ONE map-side-combinable
    count per DISTINCT gap value, then a cumulative window over the
    distinct-value table only — bounded by value cardinality, not row
    count (ms-granularity gaps repeat heavily; for continuous values
    bucket first).  The quantile probe cross-joins the tiny qs list.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gaps = (
        transcripts.select((ms - F.lag(ms).over(w)).alias("gap_ms"))
        .filter(F.col("gap_ms").isNotNull())
    )
    hist = gaps.groupBy("gap_ms").agg(F.count("*").alias("c"))
    cw = Window.orderBy("gap_ms").rowsBetween(Window.unboundedPreceding, 0)
    cdf = hist.select("gap_ms", F.sum("c").over(cw).alias("cum")).crossJoin(
        gaps.agg(F.count("*").alias("n"))
    )
    spark = transcripts.sparkSession
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    return (
        cdf.crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("q")
        .agg(F.min("gap_ms").cast("long").alias("gap_ms"))
    )


def tool_chains(
    transcripts: DataFrame, n: int = 2, min_count: int = 2
) -> DataFrame:
    """(chain, n_convs, n_occurrences) — frequent length-``n`` TOOL-CALL
    sequences across conversations: consecutive tool-bearing turns under
    stable turn ordering, skipping non-tool turns in between (the
    standard "tool trajectory" view of an agent transcript).

    Agent-pipeline use: the support table for trajectory mining —
    which tool pipelines (search→fetch, fetch→fetch, …) dominate the
    corpus, the input to curriculum balancing over agentic behaviors.

    Scale shape: ONE conv-window exchange (shared with every other
    turn-ordered op) computes the within-conversation tool ordinal;
    the chain column is built by ``n-1`` further lead()s over the SAME
    window spec, so no additional exchange; the count is a map-side-
    combinable groupBy on the chain string. Output is bounded by the
    tool-vocabulary^n, not the turn count. ``min_count`` prunes the
    long tail at the aggregate (HAVING, after the combine)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.filter(F.col("tool").isNotNull())
    parts = [F.col("tool")] + [F.lead("tool", i).over(w) for i in range(1, n)]
    chains = t.select(
        "conv_id", F.concat_ws(">", *parts).alias("chain"), parts[-1].alias("_last")
    ).filter(F.col("_last").isNotNull())
    return (
        chains.groupBy("chain")
        .agg(
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.count("*").cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )


def agent_loops(transcripts: DataFrame, min_repeats: int = 3) -> DataFrame:
    """(conv_id, tool, max_run) — STUCK-AGENT detector: conversations
    where the SAME tool is invoked ``min_repeats``+ times consecutively
    (consecutive among the conversation's tool-bearing turns).

    Training-data curation use: long same-tool runs are the signature
    of an agent retry-looping on a failing call; such conversations are
    down-weighted or truncated before SFT.

    Scale shape: the classic gaps-and-islands formulation on the shared
    conv-window exchange — run id = tool-ordinal minus per-tool ordinal
    (constant within a consecutive same-tool run), then two aggregates
    (run length, max run per conv×tool). All three window functions ride
    ONE exchange; output rows only for offending (conv, tool) pairs."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    wt = Window.partitionBy("conv_id", "tool").orderBy("turn_idx")
    t = transcripts.filter(F.col("tool").isNotNull()).select(
        "conv_id",
        "tool",
        (F.row_number().over(w) - F.row_number().over(wt)).alias("run_id"),
    )
    runs = t.groupBy("conv_id", "tool", "run_id").agg(
        F.count("*").alias("run_len")
    )
    return (
        runs.groupBy("conv_id", "tool")
        .agg(F.max("run_len").cast("long").alias("max_run"))
        .filter(F.col("max_run") >= min_repeats)
    )


def tool_chains_oracle_sql(n: int = 2, min_count: int = 2) -> str:
    """DuckDB mirror of tool_chains over the `transcripts` CTE (n=2)."""
    assert n == 2, "oracle mirrors the n=2 gate configuration"
    return f"""
    tl AS (
        SELECT conv_id,
               tool || '>' || LEAD(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   AS chain,
               LEAD(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
        FROM transcripts WHERE tool IS NOT NULL
    )
    SELECT chain, COUNT(DISTINCT conv_id)::BIGINT AS n_convs,
           COUNT(*)::BIGINT AS n_occurrences
    FROM tl WHERE nxt IS NOT NULL
    GROUP BY chain HAVING COUNT(*) >= {min_count}
    """


def agent_loops_oracle_sql(min_repeats: int = 2) -> str:
    """DuckDB mirror of agent_loops (gaps-and-islands) over `transcripts`."""
    return f"""
    tl AS (
        SELECT conv_id, tool,
               ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx)
             - ROW_NUMBER() OVER (PARTITION BY conv_id, tool ORDER BY turn_idx)
                   AS run_id
        FROM transcripts WHERE tool IS NOT NULL
    ),
    runs AS (
        SELECT conv_id, tool, run_id, COUNT(*) AS run_len
        FROM tl GROUP BY conv_id, tool, run_id
    )
    SELECT conv_id, tool, MAX(run_len)::BIGINT AS max_run
    FROM runs GROUP BY conv_id, tool HAVING MAX(run_len) >= {min_repeats}
    """


def conv_prefix_dups(transcripts: DataFrame) -> DataFrame:
    """(conv_id, shared_turns, n_convs) — maximal EXACT shared opening:
    for every conversation whose first turn(s) are byte-identical
    (role + text + tool, in stable turn order) to at least one other
    conversation, the deepest shared prefix length and how many
    conversations share that exact opening.

    The templated-flow detector that complements
    transcript_structural_dups: the MinHash pass finds conversations
    that are GLOBALLY similar; this finds scripted OPENINGS (canned
    system prompts, bot greeting scripts, replayed agent bootstraps)
    at exact per-turn granularity — the thing a curation pipeline
    down-weights before the opening dominates the SFT mix.
    Conversations with a unique opening emit nothing.

    Mechanics: per turn a 60-bit fingerprint of role‖text‖tool; per
    conversation the rolling chain  p_0 = h('p:' + t_0),
    p_d = h(p_{d−1} + ':' + t_d)  — so two conversations share prefix
    depth d iff p_d collides (60-bit; false-collision odds n²/2^61).
    Chains are built with one bounded per-conversation array fold
    (conversations are bounded — 10^2-10^3 turns — unlike the
    unbounded actor axis; same justification as pack_conversations'
    per-conv collect), then ONE posexplode + ONE (d, p_d) count
    aggregate (map-side combinable) + one co-partitioned join back.
    Nothing quadratic: candidate grouping is exact hash equality, no
    pairwise comparison ever materializes.

    DuckDB twin: conv_prefix_dups_oracle_sql (events_transcripts.py) —
    the same chain via a recursive CTE.
    """
    from ..textops.portable import md5_long

    sep = F.lit("\x1f")
    th = transcripts.select(
        "conv_id",
        "turn_idx",
        md5_long(
            F.concat(
                F.col("role"),
                sep,
                F.coalesce(F.col("text"), F.lit("")),
                sep,
                F.coalesce(F.col("tool"), F.lit("")),
            )
        ).alias("th"),
    )
    chain = F.aggregate(
        F.sort_array(F.collect_list(F.struct("turn_idx", "th"))),
        F.array().cast("array<long>"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.when(
                    F.size(acc) == 0,
                    md5_long(F.concat_ws(":", F.lit("p"), x["th"])),
                ).otherwise(md5_long(F.concat_ws(":", F.element_at(acc, -1), x["th"])))
            ),
        ),
    )
    pfx = (
        th.groupBy("conv_id")
        .agg(chain.alias("chain"))
        .select("conv_id", F.posexplode("chain").alias("d", "ph"))
    )
    groups = (
        pfx.groupBy("d", "ph")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= 2)
    )
    return (
        pfx.join(groups, ["d", "ph"])
        .groupBy("conv_id")
        .agg(
            (F.max("d") + 1).cast("int").alias("shared_turns"),
            F.max_by("n", "d").alias("n_convs"),
        )
    )


def actor_coparticipation(
    transcripts: DataFrame, max_conv_actors: int = 1000
) -> DataFrame:
    """(actor_a, actor_b, n_convs) — the BIPARTITE PROJECTION of the
    actor×conversation incidence: two actors are linked iff they spoke
    in the same conversation, weighted by how many conversations they
    share.  The co-occurrence companion of the reply graph: reply edges
    capture direct adjacency in the turn order, co-participation
    captures shared context regardless of turn distance (who ends up
    in the same rooms), the graph behind "teams" rather than "threads".

    Plan: one distinct on (conv_id, role) — map-side combinable — then
    a self-join keyed on conv_id (actor_a < actor_b canonicalizes) and
    one count aggregate.  The self-join is quadratic in PER-CONVERSATION
    cast size, not corpus size, and ``max_conv_actors`` is the in-op hub
    guard (the ADVICE directed_triad_census lesson): conversations with
    a larger cast — the all-hands channel with 10^5 speakers — are
    dropped from the projection rather than detonating the join; lower
    it to taste, raise it to 10^9 to disable.
    """
    pa = transcripts.select("conv_id", "role").distinct()
    kept = pa.join(
        pa.groupBy("conv_id")
        .agg(F.count("*").alias("_na"))
        .filter(F.col("_na") <= max_conv_actors)
        .select("conv_id"),
        "conv_id",
    )
    a = kept.select("conv_id", F.col("role").alias("actor_a"))
    b = kept.select("conv_id", F.col("role").alias("actor_b"))
    return (
        a.join(b, "conv_id")
        .filter(F.col("actor_a") < F.col("actor_b"))
        .groupBy("actor_a", "actor_b")
        .agg(F.count("*").cast("long").alias("n_convs"))
    )
