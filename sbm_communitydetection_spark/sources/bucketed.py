"""Bucketed adjacency storage — the co-located-join layout for 100 TB.

The reference holds adjacency as in-memory pointer lists (src/graph.h:23);
at cluster scale the analogue is an edge table PRE-BUCKETED on the
superstep probe key so the join ships only the (small) state vector:
a `bucketBy(N, "src").sortBy("src", "dst")` parquet table scans with
`Bucketed: true` and satisfies hashpartitioning(src, N) straight off
disk — zero exchange on the 100 TB side of every iteration, across JOBS
and RESTARTS, which a localCheckpoint cannot give (it dies with the
session). On Iceberg the same layout is `bucket(N, src)` partitioning +
`sortedBy` (docs/SCALE.md states where an Iceberg backend goes).

The sorted-within-bucket layout is the columnar CSR analogue promised
in SURVEY §4: each bucket file holds contiguous, sorted (src, dst) runs.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def _drop_stale(spark: SparkSession, table: str) -> None:
    """Drop `table` and any orphaned warehouse directory left by a
    previous session: saveAsTable(mode=overwrite) refuses a location
    that exists on disk but is not in the current catalog
    (LOCATION_ALREADY_EXISTS), which is exactly the state a fresh JVM
    sees after an earlier bench/test run wrote the same managed table.

    When the table IS still cataloged, its real location is resolved
    from the catalog before the drop (ADVICE r4 — the name-derived
    fallback is wrong for db-qualified names or a non-default current
    database); the fallback reconstructs the managed-table convention
    (``<warehouse>/<db>.db/<tbl>``, default db at ``<warehouse>/<tbl>``)
    for the orphan case where no catalog entry exists.  Deleting by
    convention is still deletion by convention: keep table names
    namespaced (graft_*) so this can never race a concurrent writer."""
    import os
    import shutil

    def _local(p: str) -> str:
        return re.sub(r"^file:/*", "/", p)

    paths = []
    try:
        if spark.catalog.tableExists(table):
            row = (
                spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
                .filter("col_name = 'Location'")
                .collect()
            )
            if row:
                paths.append(_local(row[0]["data_type"]))
    except Exception:
        pass  # catalog probe is best-effort; the fallback below still runs
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = _local(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    parts = table.lower().split(".")
    if len(parts) == 2:
        db, tbl = parts
    else:
        db, tbl = (spark.catalog.currentDatabase() or "default").lower(), parts[0]
    rel = tbl if db == "default" else os.path.join(f"{db}.db", tbl)
    paths.append(os.path.join(wh, rel))
    for path in paths:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)


def write_bucketed_adjacency(
    edges: DataFrame, table: str, buckets: int = 32, key: str = "src"
) -> None:
    """Persist a (src, dst, weight) edge table bucketed+sorted by `key`.

    `key` is the superstep's probe column: "src" for PageRank-shaped
    joins, "dst" for the LPA neighbor-label aggregate. `buckets` is the
    cluster-lifetime parallelism unit: pick ~2-4x total executor cores at
    deployment scale; every co-partitioned consumer must shuffle to the
    SAME number (Spark only elides the exchange when partition counts
    line up)."""
    other = "dst" if key == "src" else "src"
    _drop_stale(edges.sparkSession, table)
    (
        edges.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key, other)
        .format("parquet")
        .saveAsTable(table)
    )


def read_bucketed_adjacency(spark: SparkSession, table: str) -> DataFrame:
    """Scan the bucketed adjacency; the plan reports `Bucketed: true` and
    downstream equi-joins/aggregations on `src` need no exchange."""
    return spark.table(table)


def physical_exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the compiled physical plan — the
    quantity every scale argument in docs/SCALE.md is about."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Exchange hashpartitioning", plan))


def scan_is_bucketed(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Bucketed: true" in plan


def write_oriented_adjacency(
    edges: DataFrame, table: str, buckets: int = 32
) -> None:
    """Precompute and persist the degree-ORIENTED edge table (lo, hi)
    for triangle counting (VERDICT r3 #4), bucketed+sorted by lo.

    Pass `read_bucketed_adjacency(spark, table)` as
    `triangle_count(..., oriented=...)`: the per-run orientation build
    (distinct + two degree joins, several exchanges) disappears, and
    the wedge join's lo-keyed side scans pre-partitioned — the
    triangle analogue of write_transition_table.  Orientation is
    low(degree, id) → high(degree, id), so hub vertices keep low
    out-degree in the stored layout (the skew guarantee survives the
    write)."""
    from sbm_communitydetection_spark.operators.triangles import _oriented

    _drop_stale(edges.sparkSession, table)
    (
        _oriented(edges)
        .write.mode("overwrite")
        .bucketBy(buckets, "lo")
        .sortBy("lo", "hi")
        .format("parquet")
        .saveAsTable(table)
    )


def write_transition_table(
    edges: DataFrame, table: str, buckets: int = 32
) -> None:
    """Precompute and persist the PageRank transition table
    (src, dst, frac = weight / out_weight(src)), bucketed+sorted by src.

    Pass `read_bucketed_adjacency(spark, table)` to
    `pagerank(..., transition=...)`: the per-run adjacency build AND its
    shuffle disappear — across restarts the 100 TB side never moves."""
    from pyspark.sql import functions as F

    _drop_stale(edges.sparkSession, table)
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    tr = edges.join(out_w, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("frac")
    )
    (
        tr.write.mode("overwrite")
        .bucketBy(buckets, "src")
        .sortBy("src", "dst")
        .format("parquet")
        .saveAsTable(table)
    )
