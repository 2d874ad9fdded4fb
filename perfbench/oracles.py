"""Reference results computed without Spark, once per seed, outside timing.

Each oracle mirrors the engine's documented semantics (uniform dangling
redistribution, min-label tie-breaks, min-id component labels) in numpy or
DuckDB, so a mismatch means the program's output is wrong, not that two
engines round differently.  Vertex ids are mapped to dense indices in
ascending id order, so "smallest index" and "smallest id" coincide.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


def dense(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids ascending, src index, dst index)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def pagerank(si, di, w, n, damping: float, iterations: int) -> np.ndarray:
    """Rank per dense index after exactly ``iterations`` supersteps."""
    out_w = np.bincount(si, weights=w, minlength=n)
    dangling = out_w == 0
    frac = w / out_w[si]
    rank = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contrib = np.bincount(di, weights=rank[si] * frac, minlength=n)
        rank = base + damping * (contrib + rank[dangling].sum() / n)
    return rank


def label_propagation(si, di, w, n, iterations: int) -> np.ndarray:
    """Label index per dense index after exactly ``iterations`` synchronous
    plain-LPA supersteps from singleton labels: every vertex with out-edges
    adopts the neighbour label of largest summed weight, smallest on ties."""
    lab = np.arange(n)
    for _ in range(iterations):
        keys, inv = np.unique(si * n + lab[di], return_inverse=True)
        score = np.bincount(inv, weights=w)
        s, lbl = keys // n, keys % n
        order = np.lexsort((lbl, -score, s))
        s_sorted = s[order]
        first = np.ones(len(order), dtype=bool)
        first[1:] = s_sorted[1:] != s_sorted[:-1]
        lab = lab.copy()
        lab[s_sorted[first]] = lbl[order][first]
    return lab


def components(si, di, n) -> np.ndarray:
    """Component of each dense index, as the smallest index in it."""
    lab = np.arange(n)
    while True:
        m = np.minimum(lab[si], lab[di])
        new = lab.copy()
        np.minimum.at(new, si, m)
        np.minimum.at(new, di, m)
        while True:  # pointer jumping; lab[x] <= x keeps it well founded
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return lab
        lab = new


def triangles(src, dst) -> int:
    """Undirected triangles, each counted once, by DuckDB."""
    con = duckdb.connect()
    try:
        con.register("e_in", pd.DataFrame({"src": src, "dst": dst}))
        return int(
            con.execute(
                """
                WITH e AS (
                  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                  FROM e_in WHERE src <> dst)
                SELECT count(*) FROM e e1
                JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
                """
            ).fetchone()[0]
        )
    finally:
        con.close()


TRANSCRIPT_EDGES_SQL = """
WITH t AS (SELECT conv_id, turn_idx, role, tool FROM read_parquet('{path}/*.parquet')),
reply AS (
  SELECT role AS s, lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS d FROM t),
directed AS (
  SELECT s, d FROM reply WHERE d IS NOT NULL
  UNION ALL
  SELECT role, 'tool:' || tool FROM t WHERE tool IS NOT NULL),
both_ways AS (
  SELECT s, d FROM directed WHERE s <> d
  UNION ALL
  SELECT d, s FROM directed WHERE s <> d)
SELECT s AS src_key, d AS dst_key, count(*) AS weight
FROM both_ways GROUP BY 1, 2 ORDER BY 1, 2
"""

TRANSCRIPT_ACTORS_SQL = """
SELECT DISTINCT role AS actor_key FROM read_parquet('{path}/*.parquet')
UNION
SELECT DISTINCT 'tool:' || tool FROM read_parquet('{path}/*.parquet') WHERE tool IS NOT NULL
"""


def transcript_graph(path: str) -> tuple[list[str], list[str], list[str], np.ndarray, int]:
    """(actor keys, edge src keys, edge dst keys, weights, turns) derived from
    the transcript parquet by window SQL: consecutive turns of a conversation
    link the replier to the previous speaker, a tool call links the caller
    to ``tool:<name>``; both directions, self-loops dropped, weights summed."""
    con = duckdb.connect()
    try:
        actors = [r[0] for r in con.execute(TRANSCRIPT_ACTORS_SQL.format(path=path)).fetchall()]
        rows = con.execute(TRANSCRIPT_EDGES_SQL.format(path=path)).fetchall()
        turns = con.execute(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
    finally:
        con.close()
    src = [r[0] for r in rows]
    dst = [r[1] for r in rows]
    w = np.array([r[2] for r in rows], dtype=np.int64)
    return sorted(actors), src, dst, w, int(turns)
