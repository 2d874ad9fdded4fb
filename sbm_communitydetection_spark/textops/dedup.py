"""Deduplication operators over the `documents` table — training-data
pipeline ops (exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding
cosine).  No reference analogue (the reference is a graph engine); these
are the first-class large-scale-pipeline operators the engine adds.

Scale notes (100 TB):
* exact dedup — hash-groupBy; one shuffle on the 60-bit text hash, never
  on the text itself.
* n-gram Jaccard — inverted-index join on shingles (NOT an n² cross
  join): |A∩B| from a shingle-equijoin, sizes from per-doc aggregates.
  At web scale the shingle join is the standard candidate generator; hot
  shingles (stop-shingles) should be dropped by document frequency —
  `max_shingle_df` does exactly that.
* MinHash+LSH — signatures are one narrow shuffle (doc, hash_id);
  banding reduces the pair space to same-bucket collisions; candidates
  verified with exact Jaccard.
* SimHash — one groupBy producing a 60-bit fingerprint per doc;
  near-dup pairs = fingerprints within Hamming distance k, ALWAYS via
  (k+1)-band pigeonhole bucketing (total recall, no all-pairs join);
  the O(n²) join survives only as the DuckDB oracle SQL.
* embedding cosine — exact threshold join at sf scale; the ANN path for
  100 TB is textops/similarity.py (IVF buckets).

Every operator has a mirrored DuckDB SQL builder (suffix `_sql`) built
from the same constants (textops/portable.py), consumed by
__spark_entry__.oracle_sql().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.iterate import materialize, unpersist_checkpoint
from .portable import (
    HASH_P,
    MINHASH_NUM,
    MINHASH_ROWS_PER_BAND,
    NGRAM_N,
    SIMHASH_BITS,
    md5_long,
    md5_long_sql,
    minhash_perm,
    minhash_perm_sql,
    shingles_col,
    shingles_sql,
)

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(doc_id, text_hash, keep_id): keep_id = min doc_id among docs with
    identical text.  Survivors are rows with doc_id == keep_id."""
    h = docs.select("doc_id", md5_long(F.col("text")).alias("text_hash"))
    keep = h.groupBy("text_hash").agg(F.min("doc_id").alias("keep_id"))
    return h.join(keep, "text_hash").select("doc_id", "text_hash", "keep_id")


def exact_dedup_sql(table: str = "documents") -> str:
    return f"""
    SELECT doc_id, {md5_long_sql("text")} AS text_hash,
           MIN(doc_id) OVER (PARTITION BY {md5_long_sql("text")}) AS keep_id
    FROM {table}
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted-index join)
# ---------------------------------------------------------------------------


def _doc_shingles(docs: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """(doc_id, shingle) — DISTINCT word n-grams per doc."""
    return (
        docs.select("doc_id", F.explode(shingles_col(F.col("text"), n)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    n: int = NGRAM_N,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(a, b, jaccard) for doc pairs a<b with n-gram Jaccard ≥ threshold.

    max_shingle_df: drop shingles appearing in more than this many docs
    before the join (stop-shingle pruning — the skew guard at scale;
    off by default so the sf-scale oracle is exact)."""
    sh = _doc_shingles(docs, n)
    if max_shingle_df is not None:
        rare = sh.groupBy("shingle").count().filter(F.col("count") <= max_shingle_df)
        sh = sh.join(rare.select("shingle"), "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    left = sh.select(F.col("doc_id").alias("a"), "shingle")
    right = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        left.join(right, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    jac = F.round(F.col("i") / (F.col("sza") + F.col("szb") - F.col("i")), 6)
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _shingle_cte_sql(table: str, n: int) -> str:
    return f"""
    sh AS (
        SELECT DISTINCT doc_id, shingle
        FROM (SELECT doc_id, unnest({shingles_sql("text", n)}) AS shingle FROM {table})
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)
    """


def ngram_jaccard_pairs_sql(table: str = "documents", threshold: float = 0.4, n: int = NGRAM_N) -> str:
    return f"""
    WITH {_shingle_cte_sql(table, n)},
    inter AS (
        SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS i
        FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        GROUP BY 1, 2
    )
    SELECT a, b, ROUND(i / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter JOIN sizes sa ON inter.a = sa.doc_id JOIN sizes sb ON inter.b = sb.doc_id
    WHERE ROUND(i / (sa.sz + sb.sz - i), 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(docs: DataFrame, num_hashes: int = MINHASH_NUM, n: int = NGRAM_N) -> DataFrame:
    """(doc_id, hash_id, min_h) — normalized minhash signature rows."""
    sh = _doc_shingles(docs, n).select(
        "doc_id", (md5_long(F.col("shingle")) % F.lit(1_000_000_007)).alias("base")
    )
    hashed = sh.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("hash_id"),
        "base",
    )
    return (
        hashed.select("doc_id", "hash_id", minhash_perm(F.col("hash_id"), F.col("base")).alias("h"))
        .groupBy("doc_id", "hash_id")
        .agg(F.min("h").alias("min_h"))
    )


def _signature_cte_sql(table: str, num_hashes: int, n: int) -> str:
    return f"""
    {_shingle_cte_sql(table, n)},
    based AS (SELECT doc_id, {md5_long_sql("shingle")} % 1000000007 AS base FROM sh),
    sig AS (
        SELECT doc_id, g.hash_id, MIN({minhash_perm_sql("g.hash_id", "base")}) AS min_h
        FROM based, (SELECT unnest(generate_series(0, {num_hashes - 1})) AS hash_id) g
        GROUP BY doc_id, g.hash_id
    )
    """


def minhash_signatures_sql(table: str = "documents", num_hashes: int = MINHASH_NUM, n: int = NGRAM_N) -> str:
    return f"WITH {_signature_cte_sql(table, num_hashes, n)} SELECT doc_id, hash_id, min_h FROM sig"


def minhash_lsh_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    num_hashes: int = MINHASH_NUM,
    rows_per_band: int = MINHASH_ROWS_PER_BAND,
    n: int = NGRAM_N,
) -> DataFrame:
    """(a, b, jaccard): LSH-banded candidates verified with exact n-gram
    Jaccard ≥ threshold.  The band join touches only colliding buckets —
    the scale path — and verification is CANDIDATE-RESTRICTED (VERDICT
    r2 #2): the shingle table is semi-joined down to candidate doc ids
    before the intersection self-join, so the full-corpus quadratic
    shingle join the banding exists to avoid never runs (same pattern as
    the incremental path, stream_dedup.process_batch)."""
    sig = minhash_signatures(docs, num_hashes, n)
    bands = (
        sig.withColumn("band", (F.col("hash_id") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.concat_ws(
                "_",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("hash_id", "min_h"))),
                    lambda s: s["min_h"].cast("string"),
                ),
            ).alias("band_key")
        )
    )
    la = bands.select(F.col("doc_id").alias("a"), "band", "band_key")
    lb = bands.select(F.col("doc_id").alias("b"), "band", "band_key")
    cands = la.join(lb, ["band", "band_key"]).filter(F.col("a") < F.col("b")).select("a", "b").distinct()

    # exact-Jaccard verify over ONLY the candidate docs' shingles; the
    # final join back to `cands` restricts pairs (two candidate docs that
    # share a shingle but never collided in a band are not emitted)
    cand_ids = (
        cands.select(F.col("a").alias("doc_id"))
        .unionByName(cands.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    sh_c = _doc_shingles(docs, n).join(cand_ids, "doc_id", "left_semi")
    sizes = sh_c.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        sh_c.select(F.col("doc_id").alias("a"), "shingle")
        .join(sh_c.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    jac = F.round(F.col("i") / (F.col("sza") + F.col("szb") - F.col("i")), 6)
    return (
        cands.join(inter, ["a", "b"])
        .join(sa, "a")
        .join(sb, "b")
        .select("a", "b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _lsh_ctes_sql(
    table: str,
    threshold: float,
    num_hashes: int,
    rows_per_band: int,
    n: int,
) -> str:
    """CTE chain ending in `dup(a, b, jaccard)` — shared by the pair query
    and the clustering query."""
    return f"""{_signature_cte_sql(table, num_hashes, n)},
    bands AS (
        SELECT doc_id, CAST(hash_id // {rows_per_band} AS INT) AS band,
               string_agg(CAST(min_h AS VARCHAR), '_' ORDER BY hash_id) AS band_key
        FROM sig GROUP BY doc_id, CAST(hash_id // {rows_per_band} AS INT)
    ),
    cands AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
    ),
    inter AS (
        SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS i
        FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT a, b, ROUND(i / (sa.sz + sb.sz - i), 6) AS jaccard
        FROM inter JOIN sizes sa ON inter.a = sa.doc_id JOIN sizes sb ON inter.b = sb.doc_id
        WHERE ROUND(i / (sa.sz + sb.sz - i), 6) >= {threshold}
    ),
    dup AS (
        SELECT cands.a, cands.b, jaccard
        FROM cands JOIN exact ON cands.a = exact.a AND cands.b = exact.b
    )"""


def minhash_lsh_dup_pairs_sql(
    table: str = "documents",
    threshold: float = 0.4,
    num_hashes: int = MINHASH_NUM,
    rows_per_band: int = MINHASH_ROWS_PER_BAND,
    n: int = NGRAM_N,
) -> str:
    return f"""
    WITH {_lsh_ctes_sql(table, threshold, num_hashes, rows_per_band, n)}
    SELECT a, b, jaccard FROM dup
    """


def near_dup_clusters(
    spark,
    docs: DataFrame,
    threshold: float = 0.4,
    num_hashes: int = MINHASH_NUM,
    rows_per_band: int = MINHASH_ROWS_PER_BAND,
    n: int = NGRAM_N,
) -> DataFrame:
    """(doc_id, cluster_id, keep): the dedup DECISION a training pipeline
    applies — connected components over the LSH dup-pair graph, one
    canonical survivor per cluster.

    cluster_id = min doc_id reachable through near-dup pairs (transitive:
    A~B, B~C puts A and C in one cluster even if A!~C — the standard
    fuzzy-dedup semantics); keep = 1 on the cluster's minimum doc_id.

    Scale: candidate pairs come from banded LSH (never all-pairs); the
    component step runs large-star/small-star on the PAIR graph only —
    docs with no near-dup never enter the iteration and are closed over
    via one left join at the end. At 100 TB the pair graph is orders of
    magnitude smaller than the corpus, so the iterative part is cheap and
    the whole job is one LSH pass + one join."""
    from ..operators.components import connected_components

    pairs = minhash_lsh_dup_pairs(docs, threshold, num_hashes, rows_per_band, n)
    half = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    edges = half.unionByName(half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    comp = connected_components(spark, edges.withColumn("weight", F.lit(1).cast("long")))
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
            (F.coalesce("component", "doc_id") == F.col("doc_id")).cast("int").alias("keep"),
        )
    )


def decontamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = NGRAM_N,
    max_broadcast_shingles: int = 50_000_000,
) -> DataFrame:
    """(doc_id, n_hit_shingles, contaminated) — eval-set decontamination:
    flag every training doc sharing ANY word n-gram with the benchmark
    corpus (the standard pre-training hygiene pass; n-gram overlap is the
    Brown et al. / GPT-3-style contamination criterion).

    Scale shape: the benchmark shingle set is normally small (eval suites
    are thousands of docs, not billions) → DISTINCT then broadcast; the
    training side is the usual inverted-index explode, so the probe is a
    map-side hash semi-join — no shuffle of the corpus beyond the per-doc
    count aggregate. The broadcast is GUARDED (ADVICE r2): the distinct
    shingle set is counted first (one action on the small side), and a
    benchmark above ``max_broadcast_shingles`` falls back to a shuffled
    hash join instead of blowing the driver/broadcast memory limit.
    n_hit_shingles counts DISTINCT overlapping shingles (the audit
    number a removal decision is reviewed against)."""
    bs = (
        benchmark.select(F.explode(shingles_col(F.col("text"), n)).alias("shingle"))
        .distinct()
    )
    if bs.limit(max_broadcast_shingles + 1).count() <= max_broadcast_shingles:
        bs = F.broadcast(bs)
    else:
        bs = bs.hint("shuffle_hash")
    hits = (
        _doc_shingles(docs, n)
        .join(bs, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hit_shingles"))
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hit_shingles", F.lit(0)).cast("long").alias("n_hit_shingles"),
        (F.coalesce("n_hit_shingles", F.lit(0)) > 0).alias("contaminated"),
    )


def decontamination_flags_sql(
    table: str = "documents", bench_pred: str = "doc_id % 20 = 0", n: int = NGRAM_N
) -> str:
    """Mirror of decontamination_flags with benchmark = rows of ``table``
    satisfying ``bench_pred`` and training = the remainder."""
    return f"""
    WITH bench AS (
        SELECT DISTINCT unnest({shingles_sql("text", n)}) AS shingle
        FROM {table} WHERE {bench_pred}
    ),
    train AS (SELECT doc_id, text FROM {table} WHERE NOT ({bench_pred})),
    sh AS (
        SELECT DISTINCT doc_id, shingle
        FROM (SELECT doc_id, unnest({shingles_sql("text", n)}) AS shingle FROM train)
    ),
    hits AS (
        SELECT sh.doc_id, COUNT(*)::BIGINT AS n_hit_shingles
        FROM sh JOIN bench USING (shingle) GROUP BY sh.doc_id
    )
    SELECT t.doc_id, COALESCE(h.n_hit_shingles, 0)::BIGINT AS n_hit_shingles,
           COALESCE(h.n_hit_shingles, 0) > 0 AS contaminated
    FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """


def lsh_dup_pairs_over_cte_sql(
    table: str,
    threshold: float = 0.4,
    num_hashes: int = MINHASH_NUM,
    rows_per_band: int = MINHASH_ROWS_PER_BAND,
    n: int = NGRAM_N,
) -> str:
    """The MinHash-LSH dup-pair CTE chain + final SELECT, WITHOUT the
    leading WITH — for composing over a caller-provided (doc_id, text)
    CTE (e.g. the conversation structural-fingerprint docs)."""
    return (
        _lsh_ctes_sql(table, threshold, num_hashes, rows_per_band, n)
        + "\nSELECT a, b, jaccard FROM dup"
    )


def near_dup_clusters_sql(
    table: str = "documents",
    threshold: float = 0.4,
    num_hashes: int = MINHASH_NUM,
    rows_per_band: int = MINHASH_ROWS_PER_BAND,
    n: int = NGRAM_N,
) -> str:
    """Small-scale oracle: min-reachable-id via recursive transitive
    closure over the symmetrized dup-pair graph (same shape as the
    connected-components oracle, functions/sql_oracles.py)."""
    return f"""
    WITH RECURSIVE {_lsh_ctes_sql(table, threshold, num_hashes, rows_per_band, n)},
    sym AS (
        SELECT a AS src, b AS dst FROM dup
        UNION ALL
        SELECT b AS src, a AS dst FROM dup
    ),
    reach(u, v) AS (
        SELECT doc_id, doc_id FROM {table}
        UNION
        SELECT r.u, s.dst FROM reach r JOIN sym s ON r.v = s.src
    )
    SELECT u AS doc_id, MIN(v)::BIGINT AS cluster_id,
           (u = MIN(v))::INT AS keep
    FROM reach GROUP BY u
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash) — 60-bit token-level SimHash fingerprint.

    One explode + one groupBy with `bits` conditional sums; the fingerprint
    bit i is set iff Σ_tokens ±1 (by bit i of the token hash) > 0."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).select("doc_id", md5_long(F.col("tok")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    fingerprint = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select("doc_id", fingerprint.alias("simhash"))


def simhash_sql(table: str = "documents", bits: int = SIMHASH_BITS) -> str:
    sums = ",\n".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}" for i in range(bits)
    )
    fp = " + ".join(f"CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END" for i in range(bits))
    return f"""
    WITH toks AS (
        SELECT doc_id, {md5_long_sql("tok")} AS h
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM {table})
    ),
    agg AS (SELECT doc_id, {sums} FROM toks GROUP BY doc_id)
    SELECT doc_id, {fp} AS simhash FROM agg
    """


def simhash_dup_pairs(docs: DataFrame, max_hamming: int = 6, bits: int = SIMHASH_BITS) -> DataFrame:
    """(a, b, hamming) — fingerprint pairs within Hamming distance.

    DEFAULT = the banded path (total recall by pigeonhole, see
    `simhash_banded_dup_pairs`): the driver's oracle for this query stays
    the all-pairs SQL join, so the correctness gate proves
    banded == all-pairs at this op's radius every round. The O(n²) Spark
    cross join this op used at sf scale is gone."""
    return simhash_banded_dup_pairs(docs, max_hamming=max_hamming, bits=bits)


def simhash_dup_pairs_sql(table: str = "documents", max_hamming: int = 6, bits: int = SIMHASH_BITS) -> str:
    inner = simhash_sql(table, bits)
    return f"""
    WITH fp AS ({inner})
    SELECT l.doc_id AS a, r.doc_id AS b, bit_count(xor(l.simhash, r.simhash)) AS hamming
    FROM fp l JOIN fp r ON l.doc_id < r.doc_id
    WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
    """


def simhash_banded_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    n_bands: int | None = None,
) -> DataFrame:
    """(a, b, hamming) — the 100 TB SimHash near-dup path: band the 60-bit
    fingerprint into ``n_bands`` disjoint bit slices (default
    ``max_hamming + 1``, uneven widths when bits don't divide evenly),
    bucket on (band, slice_value), and verify only same-bucket candidates
    with an exact `bit_count`.

    Pigeonhole guarantee: a pair within Hamming distance ``max_hamming``
    <= n_bands - 1 differs in at most n_bands - 1 bands, so at least one
    band matches exactly — recall is TOTAL, and this op's output equals
    the all-pairs `simhash_dup_pairs` at the same max_hamming (the driver
    checks it against the exact oracle SQL).

    Plan shape at scale: one explode (n_bands rows/doc), one shuffle keyed
    on (band, key) — the quadratic term is per-bucket, never global; the
    all-pairs `a < b` cross join this replaces is gone."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if max_hamming >= n_bands:
        raise ValueError(
            f"banded recall guarantee needs max_hamming <= n_bands-1 "
            f"(got max_hamming={max_hamming}, n_bands={n_bands})"
        )
    cands = simhash_band_candidates(docs, n_bands=n_bands, bits=bits)
    return cands.filter(F.col("hamming") <= max_hamming)


def simhash_band_layout(bits: int, n_bands: int) -> tuple[list[int], list[int]]:
    """(widths, offsets) of the disjoint bit slices — uneven slicing: the
    first (bits % n_bands) bands are one bit wider, covering all `bits`
    bits exactly once, so the pigeonhole guarantee holds regardless."""
    base, extra = divmod(bits, n_bands)
    widths = [base + (1 if j < extra else 0) for j in range(n_bands)]
    offsets = [sum(widths[:j]) for j in range(n_bands)]
    return widths, offsets


def simhash_band_candidates(
    docs: DataFrame, n_bands: int, bits: int = SIMHASH_BITS
) -> DataFrame:
    """(a, b, hamming) — all pairs sharing AT LEAST ONE SimHash band
    slice, with their exact Hamming distance.  The shared candidate
    stage: the dup path keeps hamming <= max_hamming; the hard-negative
    miner keeps the band-colliding NON-dups."""
    if n_bands > bits:
        raise ValueError(f"n_bands={n_bands} exceeds fingerprint bits={bits}")
    widths, offsets = simhash_band_layout(bits, n_bands)
    fp = simhash(docs, bits)
    keys = F.array(
        *[
            F.shiftright(F.col("simhash"), offsets[j]).bitwiseAND(F.lit((1 << widths[j]) - 1))
            for j in range(n_bands)
        ]
    )
    banded = fp.select("doc_id", "simhash", F.posexplode(keys).alias("band", "key"))
    la = banded.select("band", "key", F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    lb = banded.select("band", "key", F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    cands = (
        la.join(lb, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()  # a pair may collide on several bands
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cands.select("a", "b", ham.alias("hamming"))


def hard_negative_pairs(
    docs: DataFrame,
    min_hamming: int = 4,
    max_hamming: int = 20,
    n_bands: int = 4,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(a, b, hamming) — contrastive-training hard negatives: document
    pairs that COLLIDE on a coarse SimHash band (so a retrieval system
    would confuse them) yet verify as non-duplicates (hamming >=
    min_hamming).  Exactly the "looks similar, isn't" set embedding
    trainers mine for in-batch negatives; the easy negatives (no band
    collision) never materialize.

    Same plan shape as the dup path — the banding join IS the miner;
    only the final hamming window differs (min <= h <= max)."""
    if min_hamming < 1:
        raise ValueError("min_hamming must be >= 1 (0 is a duplicate, not a negative)")
    cands = simhash_band_candidates(docs, n_bands=n_bands, bits=bits)
    return cands.filter(
        (F.col("hamming") >= min_hamming) & (F.col("hamming") <= max_hamming)
    )


def hard_negative_pairs_sql(
    table: str = "documents",
    min_hamming: int = 4,
    max_hamming: int = 20,
    n_bands: int = 4,
    bits: int = SIMHASH_BITS,
) -> str:
    """DuckDB twin: exact all-pairs with the same band-collision
    predicate (OR over the fixed slice layout) and hamming window."""
    widths, offsets = simhash_band_layout(bits, n_bands)
    band_eq = " OR ".join(
        f"((l.simhash >> {offsets[j]}) & {(1 << widths[j]) - 1}) = "
        f"((r.simhash >> {offsets[j]}) & {(1 << widths[j]) - 1})"
        for j in range(n_bands)
    )
    inner = simhash_sql(table, bits)
    return f"""
    WITH fp AS ({inner})
    SELECT l.doc_id AS a, r.doc_id AS b,
           bit_count(xor(l.simhash, r.simhash)) AS hamming
    FROM fp l JOIN fp r ON l.doc_id < r.doc_id
    WHERE ({band_eq})
      AND bit_count(xor(l.simhash, r.simhash)) BETWEEN {min_hamming} AND {max_hamming}
    """


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def _with_norm(embs: DataFrame) -> DataFrame:
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot_self = F.aggregate(
        F.zip_with(vec, vec, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return embs.select("vec_id", vec.alias("v"), F.sqrt(dot_self).alias("nrm"))


def embedding_cosine_dup_pairs(embs: DataFrame, threshold: float = 0.95) -> DataFrame:
    """(a, b, cos): vector pairs a<b with cosine ≥ threshold (exact; the
    ANN path for scale is textops/similarity.py)."""
    w = _with_norm(embs)
    la = w.select(F.col("vec_id").alias("a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    lb = w.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cos = F.round(dot / (F.col("na") * F.col("nb")), 6)
    return (
        la.join(lb, F.col("a") < F.col("b"))
        .select("a", "b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def cosine_bucketed_dup_pairs(
    embs: DataFrame, threshold: float = 0.95, n_probes: int = 2
) -> DataFrame:
    """(a, b, cos) — the 100 TB embedding near-dup path: route candidate
    generation through the IVF cells of textops/similarity.py (per-label
    centroids as the coarse quantizer) instead of the O(n²) all-pairs
    threshold join of `embedding_cosine_dup_pairs`.

    Every vector is assigned to its ``n_probes`` nearest cells (multi-probe
    — cushions pairs that straddle a single-probe cell boundary); a pair
    is a candidate iff it shares >=1 cell, then verified with the exact
    rounded cosine.

    ``n_probes`` trades recall for cost against the THRESHOLD: tight
    near-dup thresholds (>=0.9, nearly collinear vectors) share a nearest
    centroid almost surely — 1-2 probes. Loose thresholds admit pairs tens
    of degrees apart whose cell assignments genuinely diverge; measured on
    the sandbox corpus (10 cells, threshold 0.35 ≈ 70°): probes 2/3/4/5 →
    recall 172/239/264/271 of 271. The driver entry runs probes=5, which
    the correctness gate verifies EQUALS the exact all-pairs oracle at
    sf0.01.

    Plan shape at scale: centroid assignment is a broadcast join on the
    tiny centroid table; the candidate join shuffles keyed on `cell`, so
    the quadratic term is per-cell (n_probes·n/k vectors), never global."""
    from .similarity import _norm_vec, label_centroids

    cents = label_centroids(embs)
    cnorm = cents.groupBy("label").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cn"))
    vexp = embs.select(
        "vec_id", F.posexplode(F.transform(F.col("embedding"), lambda x: x.cast("double")))
    ).select("vec_id", F.col("pos").alias("d"), F.col("col").alias("val"))
    vnorm = vexp.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("vn"))
    dots = (
        vexp.join(F.broadcast(cents), "d")
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("val") * F.col("c")).alias("dot"))
    )
    sim = (
        dots.join(F.broadcast(cnorm), "label")
        .join(vnorm, "vec_id")
        .select(
            "vec_id", "label", F.round(F.col("dot") / (F.col("cn") * F.col("vn")), 6).alias("csim")
        )
    )
    from pyspark.sql import Window

    assign_rank = F.row_number().over(
        Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("label"))
    )
    cells = (
        sim.select("vec_id", "label", assign_rank.alias("r"))
        .filter(F.col("r") <= n_probes)
        .select("vec_id", F.col("label").alias("cell"))
    )
    w = _with_norm(embs).join(cells, "vec_id")
    la = w.select("cell", F.col("vec_id").alias("a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    lb = w.select(
        "cell", F.col("vec_id").alias("b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cands = (
        la.join(lb, "cell")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "va", "vb", "na", "nb")
        .dropDuplicates(["a", "b"])  # multi-probe can collide on 2 cells
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cos = F.round(dot / (F.col("na") * F.col("nb")), 6)
    return cands.select("a", "b", cos.alias("cos")).filter(F.col("cos") >= threshold)


def embedding_cosine_dup_pairs_sql(table: str = "embeddings", threshold: float = 0.95) -> str:
    return f"""
    WITH w AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        FROM {table}
    )
    SELECT l.vec_id AS a, r.vec_id AS b,
           ROUND(list_dot_product(l.v, r.v) / (l.nrm * r.nrm), 6) AS cos
    FROM w l JOIN w r ON l.vec_id < r.vec_id
    WHERE ROUND(list_dot_product(l.v, r.v) / (l.nrm * r.nrm), 6) >= {threshold}
    """


def bloom_decontamination(
    docs: DataFrame,
    benchmark: DataFrame,
    m_bits: int = 1 << 18,
    k: int = 3,
    n: int = NGRAM_N,
    max_broadcast_words: int = 1 << 24,
) -> DataFrame:
    """(doc_id, n_hit_shingles, contaminated) — decontamination against a
    BLOOM BITSET of the benchmark shingles instead of the shingle set
    itself: the scale path when the "benchmark" is too large to
    broadcast (the ADVICE-r2 failure mode of decontamination_flags).

    The bitset is built distributed — each benchmark shingle sets k
    hash positions, positions pack into 63-bit words via a bit_or
    aggregate — so nothing is collected; the filter costs m_bits/8
    bytes no matter how many shingles went in (vs 8 bytes PER SHINGLE
    for the exact set).  The word table (m_bits/63 rows) broadcasts
    when small (≤ ``max_broadcast_words`` words — a size fixed by the
    caller's m_bits, not by data) and shuffle-joins otherwise.

    Everything is exact integer math on the portable hash (md5 → k
    minhash_perm positions), so flags — INCLUDING false positives —
    are deterministic and identical across engines: no false negatives
    ever (every true overlap sets its bits); false-positive rate
    ≈ (1 - e^(-k·s/m))^k for s distinct benchmark shingles.
    """
    def positions(df: DataFrame) -> DataFrame:
        h = md5_long(F.col("shingle")) % HASH_P
        j = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j")
        df = df.select("*", j).withColumn("pos", minhash_perm(F.col("j"), h) % m_bits)
        return df.withColumn("chunk", (F.col("pos") / 63).cast("long")).withColumn(
            "mask", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))")
        )

    bench_sh = (
        benchmark.select(F.explode(shingles_col(F.col("text"), n)).alias("shingle")).distinct()
    )
    bits = (
        positions(bench_sh)
        .groupBy("chunk")
        .agg(F.bit_or("mask").alias("word"))
    )
    bits = F.broadcast(bits) if m_bits // 63 <= max_broadcast_words else bits.hint("shuffle_hash")

    probe = positions(_doc_shingles(docs, n)).join(bits, "chunk")
    hit_sh = (
        probe.withColumn("hit", (F.col("word").bitwiseAND(F.col("mask")) != 0).cast("int"))
        .groupBy("doc_id", "shingle")
        .agg(F.sum("hit").alias("k_hits"))
        .filter(F.col("k_hits") == k)
    )
    hits = hit_sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_hit_shingles"))
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hit_shingles", F.lit(0)).cast("long").alias("n_hit_shingles"),
        (F.coalesce("n_hit_shingles", F.lit(0)) > 0).alias("contaminated"),
    )


def bloom_decontamination_sql(
    table: str = "documents",
    bench_pred: str = "doc_id % 20 = 0",
    m_bits: int = 1 << 18,
    k: int = 3,
    n: int = NGRAM_N,
) -> str:
    """Mirror of bloom_decontamination — same portable-hash positions,
    same 63-bit word packing, same bit_or/bitwise-AND probe."""
    h = f"({md5_long_sql('shingle')} % {HASH_P})"
    pos = f"({minhash_perm_sql('j', h)} % {m_bits})"
    return f"""
    WITH bench AS (
        SELECT DISTINCT unnest({shingles_sql("text", n)}) AS shingle
        FROM {table} WHERE {bench_pred}
    ),
    bpos AS (
        SELECT DISTINCT {pos} AS pos
        FROM bench, (SELECT unnest(generate_series(0, {k - 1})) AS j)
    ),
    bits AS (
        SELECT pos // 63 AS chunk, bit_or(1::BIGINT << (pos % 63)::INT) AS word
        FROM bpos GROUP BY chunk
    ),
    train AS (SELECT doc_id, text FROM {table} WHERE NOT ({bench_pred})),
    sh AS (
        SELECT DISTINCT doc_id, unnest({shingles_sql("text", n)}) AS shingle FROM train
    ),
    probe AS (
        SELECT doc_id, shingle, {pos} AS pos
        FROM sh, (SELECT unnest(generate_series(0, {k - 1})) AS j)
    ),
    hit_sh AS (
        SELECT doc_id, shingle
        FROM probe JOIN bits ON probe.pos // 63 = bits.chunk
        GROUP BY doc_id, shingle
        HAVING SUM(CASE WHEN (bits.word & (1::BIGINT << (probe.pos % 63)::INT)) != 0
                        THEN 1 ELSE 0 END) = {k}
    ),
    hits AS (SELECT doc_id, COUNT(*)::BIGINT AS n_hit_shingles FROM hit_sh GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(h.n_hit_shingles, 0)::BIGINT AS n_hit_shingles,
           COALESCE(h.n_hit_shingles, 0) > 0 AS contaminated
    FROM train t LEFT JOIN hits h USING (doc_id)"""


# exact substring-level duplication (Lee et al., "Deduplicating Training
# Data Makes Language Models Better", ACL 2022 — suffix-array substring
# dedup; here the scalable hashed char-k-gram variant: a shared k-gram
# IS a shared substring of length k, so flags are exact at granularity k)
SUBSTR_K = 12


def substring_dup_flags(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """(doc_id, n_grams, n_shared, substring_dup) — per doc, the number
    of DISTINCT char k-grams it shares with at least one other doc, and
    the dup flag (any shared substring of length ≥ k).  Docs shorter
    than k have 0 grams and report False.

    Scale shape: the gram table rides the scan (one transform+explode,
    no Python); grams are 60-bit hashes so the frequency table is one
    gram-keyed aggregate (hot grams are one build row each — AQE
    skew-split applies); the per-doc rollup is one more aggregate.
    Granularity-k exactness: flags neither miss any ≥k-char shared
    substring nor fire on shorter overlaps; hash collisions are the
    only false-positive source (2^-60 per pair).
    """
    grams = (
        docs.select(
            "doc_id",
            # Spark sequence(1, 0) DESCENDS — guard sub-k docs explicitly
            F.explode(
                F.expr(
                    f"case when length(text) >= {k} then"
                    f" transform(sequence(1, length(text) - {k - 1}),"
                    f" i -> substring(text, i, {k}))"
                    f" else cast(array() as array<string>) end"
                )
            ).alias("g"),
        )
        .select("doc_id", md5_long(F.col("g")).alias("h"))
        .distinct()
    )
    freq = grams.groupBy("h").agg(F.count("*").cast("long").alias("n_docs"))
    per_doc = (
        grams.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
        (F.coalesce("n_shared", F.lit(0)) > 0).alias("substring_dup"),
    )


def substring_dup_flags_sql(k: int = SUBSTR_K, table: str = "documents") -> str:
    """DuckDB twin (same hash, same k)."""
    h = md5_long_sql("g")
    return f"""
WITH grams AS (
    SELECT DISTINCT doc_id, {h} AS h FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, GREATEST(length(text) - {k - 1}, 0)),
                                     i -> substr(text, i, {k}))) AS g
        FROM {table}
    )
),
freq AS (SELECT h, COUNT(*)::BIGINT AS n_docs FROM grams GROUP BY h),
per_doc AS (
    SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
           SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared
    FROM grams JOIN freq USING (h) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_grams, 0)::BIGINT AS n_grams,
       COALESCE(p.n_shared, 0)::BIGINT AS n_shared,
       COALESCE(p.n_shared, 0) > 0 AS substring_dup
FROM {table} d LEFT JOIN per_doc p USING (doc_id)"""


def cross_source_dup_matrix(
    docs: DataFrame,
    threshold: float = 0.4,
    num_hashes: int = MINHASH_NUM,
    rows_per_band: int = MINHASH_ROWS_PER_BAND,
    n: int = NGRAM_N,
) -> DataFrame:
    """(source_a, source_b, n_pairs, avg_jaccard) — the CONTAMINATION
    MATRIX: how many near-dup pairs cross each (ordered-canonical)
    source pair.  The off-diagonal cells are the train/eval leakage
    signal a pipeline must drive to zero before a benchmark split is
    trustworthy; the diagonal measures within-source redundancy.

    Scale shape: rides minhash_lsh_dup_pairs (banded candidates +
    candidate-restricted verify), then two joins against the (doc_id →
    source) projection — a tiny dimension relative to the corpus — and
    one source×source aggregate whose output is |sources|² bounded.
    """
    pairs = minhash_lsh_dup_pairs(docs, threshold, num_hashes, rows_per_band, n)
    src = docs.select("doc_id", "source")
    annotated = (
        pairs.join(src.select(F.col("doc_id").alias("a"), F.col("source").alias("s_a")), "a")
        .join(src.select(F.col("doc_id").alias("b"), F.col("source").alias("s_b")), "b")
        .select(
            F.least("s_a", "s_b").alias("source_a"),
            F.greatest("s_a", "s_b").alias("source_b"),
            "jaccard",
        )
    )
    return annotated.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
    )


def cross_source_dup_matrix_sql(
    table: str = "documents",
    threshold: float = 0.4,
    num_hashes: int = MINHASH_NUM,
    rows_per_band: int = MINHASH_ROWS_PER_BAND,
    n: int = NGRAM_N,
) -> str:
    return f"""
    WITH {_lsh_ctes_sql(table, threshold, num_hashes, rows_per_band, n)}
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           COUNT(*)::BIGINT AS n_pairs,
           ROUND(AVG(jaccard), 6) AS avg_jaccard
    FROM dup
    JOIN {table} da ON dup.a = da.doc_id
    JOIN {table} db ON dup.b = db.doc_id
    GROUP BY 1, 2
    """


COVERAGE_K = 5


def coverage_select_topk(docs: DataFrame, k: int = COVERAGE_K, n: int = NGRAM_N) -> DataFrame:
    """(rank, doc_id, gain) — greedy coverage-maximizing data selection
    (the facility-location / max-cover recipe used for training-subset
    selection): pick ``k`` documents one at a time, each the doc whose
    DISTINCT word n-grams add the most not-yet-covered shingles
    (tie-break: smaller doc_id).  The classic (1 − 1/e) greedy
    guarantee applies because coverage is submodular.

    Scale shape: each of the k rounds is ONE shingle-keyed anti-join
    against the covered set (which grows by only the winner's shingles
    per round) + one doc-keyed count; the winner is a scalar argmax
    collect (house rule).  k is small by construction — the op selects
    exemplars, not corpora."""
    sh = materialize(_doc_shingles(docs, n))
    covered = None
    out = []
    for r in range(1, k + 1):
        live = sh if covered is None else sh.join(covered, "shingle", "left_anti")
        top = (
            live.groupBy("doc_id")
            .agg(F.count("*").alias("gain"))
            .orderBy(F.desc("gain"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        doc, gain = top[0]["doc_id"], top[0]["gain"]
        out.append((r, doc, gain))
        win_sh = sh.filter(F.col("doc_id") == doc).select("shingle")
        covered = materialize(win_sh if covered is None else covered.unionByName(win_sh).distinct())

    unpersist_checkpoint(sh)
    if covered is not None:
        unpersist_checkpoint(covered)
    return docs.sparkSession.createDataFrame(out, "rank int, doc_id long, gain long")


def coverage_select_topk_sql(
    table: str = "documents", k: int = COVERAGE_K, n: int = NGRAM_N
) -> str:
    """Unrolled greedy max-cover twin: per round one covered-set
    anti-join + the same (gain DESC, doc_id ASC) argmax."""
    parts = [
        f"""csh AS MATERIALIZED (
        SELECT DISTINCT doc_id, shingle
        FROM (SELECT doc_id, unnest({shingles_sql("text", n)}) AS shingle FROM {table})
    )""",
        """cov0(shingle) AS (SELECT NULL::VARCHAR WHERE FALSE)""",
    ]
    for r in range(1, k + 1):
        parts.append(
            f"""win{r} AS MATERIALIZED (
        SELECT doc_id, COUNT(*)::BIGINT AS gain
        FROM csh WHERE shingle NOT IN (SELECT shingle FROM cov{r - 1})
        GROUP BY doc_id
        ORDER BY gain DESC, doc_id ASC LIMIT 1
    ),
    cov{r} AS MATERIALIZED (
        SELECT shingle FROM cov{r - 1}
        UNION
        SELECT s.shingle FROM csh s JOIN win{r} w ON s.doc_id = w.doc_id
    )"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT {r} AS rank, doc_id, gain FROM win{r}" for r in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\nSELECT rank::INT AS rank, doc_id, gain FROM ({unions})"
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = NGRAM_N,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(a, b, containment) — Broder's ASYMMETRIC containment
    c(a→b) = |S_a ∩ S_b| / |S_a| ≥ threshold, both directions emitted
    (a ≠ b, each ordered pair scored on its own denominator).

    The dedup signal symmetric Jaccard structurally misses: a short doc
    quoted whole inside a long one (boilerplate-wrapped article, quoted
    reply, prompt embedded in a transcript dump) has tiny Jaccard —
    |∩|/|∪| is diluted by the long side — but containment of the short
    side is ~1.  Standard curation policy drops the CONTAINED doc and
    keeps the superset; this op emits exactly that decision table.

    Scale shape: identical to ngram_jaccard_pairs — inverted shingle
    index join with the same optional ``max_shingle_df`` stop-shingle
    guard; the only addition is scoring each unordered intersection
    row twice (once per denominator), which is free — the join output
    was the cost.
    """
    sh = _doc_shingles(docs, n)
    if max_shingle_df is not None:
        rare = sh.groupBy("shingle").count().filter(F.col("count") <= max_shingle_df)
        sh = sh.join(rare.select("shingle"), "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    left = sh.select(F.col("doc_id").alias("a"), "shingle")
    right = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        left.join(right, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("i"))
    )
    both = inter.unionByName(
        inter.select(F.col("b").alias("a"), F.col("a").alias("b"), "i")
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    cont = F.round(F.col("i") / F.col("sza"), 6)
    return (
        both.join(sa, "a")
        .select("a", "b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def containment_pairs_sql(
    table: str = "documents", threshold: float = 0.6, n: int = NGRAM_N
) -> str:
    return f"""
    WITH {_shingle_cte_sql(table, n)},
    cp_inter AS (
        SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS i
        FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        GROUP BY 1, 2
    ),
    cp_both AS (
        SELECT a, b, i FROM cp_inter
        UNION ALL
        SELECT b AS a, a AS b, i FROM cp_inter
    )
    SELECT p.a, p.b, ROUND(i / s.sz, 6) AS containment
    FROM cp_both p JOIN sizes s ON p.a = s.doc_id
    WHERE ROUND(i / s.sz, 6) >= {threshold}
    """
