"""Distributed BPE tokenizer training — byte-pair-encoding merge
learning (Sennrich, Haddow & Birch, ACL'16) as iterated DataFrame
aggregates, the "train the tokenizer on the corpus you just curated"
step of a training-data pipeline.

No reference analogue (the reference never tokenizes; its strings are
vertex labels).  The classic trainer is a single-node priority-queue
loop over an in-memory word-count dict; this version keeps the word
table distributed and learns each merge with one pass:

    word counts   (once)   explode + count — the corpus is never
                           touched again; training runs on DISTINCT
                           words weighted by frequency.
    per merge m:           adjacent-symbol-pair counts over the
                           current segmentation (map-side combinable
                           SUM keyed on the pair), global argmax
                           (count desc, then lexicographic pair — a
                           1-row TakeOrdered, the only driver
                           round-trip), then ONE literal string
                           replace over the word table applies the
                           merge everywhere.

Segmentations are encoded as STX/ETX-framed symbol strings
("\\x02h\\x03\\x02e\\x03…"), so applying merge (l, r) is the literal
replace  \\x02l\\x03\\x02r\\x03 → \\x02lr\\x03 — left-to-right and
non-overlapping in BOTH engines (verified: "aaa" + (a,a) → "aa","a"),
which is exactly BPE's greedy scan order.  All counts are exact int64;
no floats anywhere, so the unrolled DuckDB twin is hash-identical.

Scale: each merge costs one scan of the distinct-word table (10^8-9
rows at web scale — fine) plus a 1-row collect.  The n_merges driver
round-trips are the honest cost of exact BPE; a 32k-vocab production
run amortizes them by training on a frequency-capped word sample
(standard practice — HuggingFace trainers do the same) or by batching
non-conflicting merges per pass.  Words containing the frame bytes
(\\x02/\\x03) are excluded up front (they cannot appear in natural
text; the filter is the correctness guard, mirrored in the twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.iterate import materialize
from .portable import words_col

STX = "\x02"
ETX = "\x03"
BPE_MERGES = 8


def _word_counts(docs: DataFrame) -> DataFrame:
    w = docs.select(F.explode(words_col(F.col("text"))).alias("w")).filter(
        (F.length("w") >= 1)
        & ~F.col("w").contains(STX)
        & ~F.col("w").contains(ETX)
    )
    return w.groupBy("w").agg(F.count("*").cast("long").alias("cnt"))


def _initial_state(wc: DataFrame) -> DataFrame:
    chars = F.filter(F.split(F.col("w"), ""), lambda c: c != "")
    seq = F.concat_ws(
        "", F.transform(chars, lambda c: F.concat(F.lit(STX), c, F.lit(ETX)))
    )
    return wc.select(seq.alias("seq"), "cnt")


def _pair_counts(state: DataFrame) -> DataFrame:
    syms = F.split(
        F.col("seq").substr(F.lit(2), F.length("seq") - 2), ETX + STX
    )
    st = state.select("cnt", syms.alias("s")).filter(F.size("s") >= 2)
    idx = st.select(
        "cnt", "s", F.explode(F.sequence(F.lit(1), F.size("s") - 1)).alias("i")
    )
    return idx.groupBy(
        F.element_at("s", F.col("i")).alias("l"),
        F.element_at("s", F.col("i") + 1).alias("r"),
    ).agg(F.sum("cnt").cast("long").alias("n"))


def bpe_train(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """(merge_idx, left_sym, right_sym, pair_count) — the learned merge
    table, in merge order.  Stops early (fewer rows) only if the corpus
    runs out of adjacent pairs — impossible on any real corpus."""
    spark = docs.sparkSession
    state = materialize(_initial_state(_word_counts(docs)))
    merges: list[tuple[int, str, str, int]] = []
    for m in range(n_merges):
        top = (
            _pair_counts(state)
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, n = top[0].l, top[0].r, top[0].n
        merges.append((m, l, r, n))
        nxt = materialize(
            state.select(
                F.replace(
                    F.col("seq"),
                    F.lit(STX + l + ETX + STX + r + ETX),
                    F.lit(STX + l + r + ETX),
                ).alias("seq"),
                "cnt",
            )
        )
        state.unpersist()
        state = nxt
    state.unpersist()
    return spark.createDataFrame(
        merges, "merge_idx int, left_sym string, right_sym string, pair_count long"
    )


def bpe_train_sql(table: str = "documents", n_merges: int = BPE_MERGES) -> str:
    """DuckDB twin — the identical merge loop fully unrolled: per merge
    one pair-count CTE, one 1-row argmax CTE, one replace CTE."""
    sep = "chr(3) || chr(2)"
    parts = [
        f"""bpe_w AS (
    SELECT w, COUNT(*)::BIGINT AS cnt
    FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM {table})
    WHERE len(w) >= 1 AND strpos(w, chr(2)) = 0 AND strpos(w, chr(3)) = 0
    GROUP BY w
)""",
        """bpe_st0 AS (
    SELECT array_to_string(
        list_transform(list_filter(string_split(w, ''), c -> c <> ''),
                       c -> chr(2) || c || chr(3)), '') AS seq, cnt
    FROM bpe_w
)""",
    ]
    for m in range(n_merges):
        parts.append(
            f"""bpe_pc{m} AS (
    SELECT s[i] AS l, s[i + 1] AS r, SUM(cnt)::BIGINT AS n
    FROM (
        SELECT s, cnt, UNNEST(generate_series(1, len(s) - 1)) AS i
        FROM (SELECT string_split(seq[2 : len(seq) - 1], {sep}) AS s, cnt
              FROM bpe_st{m})
        WHERE len(s) >= 2
    )
    GROUP BY l, r
)"""
        )
        parts.append(
            f"bpe_best{m} AS (SELECT l, r, n FROM bpe_pc{m}"
            f" ORDER BY n DESC, l, r LIMIT 1)"
        )
        parts.append(
            f"""bpe_st{m + 1} AS (
    SELECT replace(st.seq,
                   chr(2) || b.l || chr(3) || chr(2) || b.r || chr(3),
                   chr(2) || b.l || b.r || chr(3)) AS seq, st.cnt
    FROM bpe_st{m} st CROSS JOIN bpe_best{m} b
)"""
        )
    tail = "\nUNION ALL\n".join(
        f"SELECT {m}::INT AS merge_idx, l AS left_sym, r AS right_sym,"
        f" n AS pair_count FROM bpe_best{m}"
        for m in range(n_merges)
    )
    return "WITH " + ",\n".join(parts) + "\n" + tail


def bpe_apply(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(doc_id, n_words, n_tokens, fertility) — tokenize every document
    with a learned merge list (bpe_train order matters) and report the
    per-doc BPE token count and fertility (tokens per word), THE
    tokenizer-quality audit a pipeline runs before committing a vocab:
    fertility spikes flag domains the merges don't cover.

    Application is k chained literal replaces over the STX/ETX-framed
    document string — all inside whole-stage codegen, zero shuffles,
    zero Python (the merge list is tens-of-rows driver data by
    construction).  Token count = STX occurrences (each symbol carries
    exactly one frame byte).  Documents with no words are dropped.
    Unlike training (which excludes them), documents containing raw
    frame bytes are tokenized as-is — counts for such pathological
    docs are engine-identical either way, just not meaningful.
    """
    s = F.concat_ws(
        " ",
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat_ws("", F.transform(
                F.filter(F.split(w, ""), lambda c: c != ""),
                lambda c: F.concat(F.lit(STX), c, F.lit(ETX)),
            )),
        ),
    )
    n_words = F.size(F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) >= 1))
    d = docs.select("doc_id", s.alias("s"), n_words.alias("n_words")).filter(
        F.col("n_words") >= 1
    )
    col = F.col("s")
    for l, r in merges:
        col = F.replace(col, F.lit(STX + l + ETX + STX + r + ETX), F.lit(STX + l + r + ETX))
    n_tokens = (F.length(col) - F.length(F.replace(col, F.lit(STX), F.lit("")))).cast(
        "long"
    )
    return d.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        n_tokens.alias("n_tokens"),
    ).select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("n_words"), 6).alias("fertility"),
    )


def bpe_apply_sql(table: str = "documents", n_merges: int = BPE_MERGES) -> str:
    """DuckDB twin: retrains the merge chain (bpe_train_sql CTE parts)
    and applies it with the same chained replaces."""
    train = bpe_train_sql(table, n_merges)
    # reuse the training CTE chain; strip its final SELECT tail
    head = train[: train.rindex("\nSELECT 0::INT")]
    parts = [head]
    parts.append(
        f""",
bpe_d0 AS (
    SELECT doc_id,
           array_to_string(list_transform(string_split(text, ' '),
               w -> array_to_string(list_transform(
                        list_filter(string_split(w, ''), c -> c <> ''),
                        c -> chr(2) || c || chr(3)), '')), ' ') AS s,
           len(list_filter(string_split(text, ' '), w -> len(w) >= 1))::BIGINT
               AS n_words
    FROM {table}
)"""
    )
    for m in range(n_merges):
        parts.append(
            f""",
bpe_d{m + 1} AS (
    SELECT doc_id,
           replace(d.s, chr(2) || b.l || chr(3) || chr(2) || b.r || chr(3),
                   chr(2) || b.l || b.r || chr(3)) AS s, d.n_words
    FROM bpe_d{m} d CROSS JOIN bpe_best{m} b
)"""
        )
    parts.append(
        f"""
SELECT doc_id, n_words,
       (len(s) - len(replace(s, chr(2), '')))::BIGINT AS n_tokens,
       ROUND((len(s) - len(replace(s, chr(2), ''))) / n_words, 6) AS fertility
FROM bpe_d{n_merges} WHERE n_words >= 1"""
    )
    return "".join(parts)
