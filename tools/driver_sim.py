"""Simulates the round driver: entry() smoke + queries() vs oracle_sql() via DuckDB.

Usage: python tools/driver_sim.py [sf_dir] [--only name1,name2]
Compares row count, sorted-column schema, and an order-insensitive
value hash (rows sorted, columns sorted by name, floats rounded).
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = f"{v:.6g}"
            vals.append(str(v))
        canon.append("|".join(vals))
    canon.sort()
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def main(sf_dir: str = "/root/testdata/sf0.01", only: str | None = None):
    import __spark_entry__ as e
    from sbm_communitydetection_spark.session import get_spark

    # the session default: $SPARK_GRAFT_CPUS cores, else every core
    spark = get_spark(app_name="driver_sim")

    if only is None:
        res = e.entry(spark)
        rows = res.collect()
        print(f"entry(): {len(rows)} rows, schema={[f.name for f in res.schema.fields]}")
        assert len(rows) >= 0
        for r in rows[:5]:
            print("   ", tuple(r))

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = e.queries(), e.oracle_sql()
    if only:
        wanted = {n.strip() for n in only.split(",")}
        unknown = wanted - set(qs)
        if unknown:
            sys.exit(f"--only: unknown queries {sorted(unknown)}")
        qs = {n: f for n, f in qs.items() if n in wanted}
    failures = 0
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        scols = sorted(c.lower() for c in df.columns)
        srows = [tuple(r) for r in df.collect()]
        shash = value_hash(srows, [c.lower() for c in df.columns])
        if name not in oracles:
            print(f"  {name}: rows-only check, {len(srows)} rows (no oracle)")
            continue
        # fetch via pandas like the real driver: DuckDB HUGEINT (un-cast
        # SUM(BIGINT)) becomes float64 here, making the hash type-sensitive
        # exactly as the round driver is (VERDICT r1 #2)
        odf = con.execute(oracles[name]).fetchdf()
        ocols = [c.lower() for c in odf.columns]
        orows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
        ohash = value_hash(orows, ocols)
        ok_rows = len(srows) == len(orows)
        ok_schema = scols == sorted(ocols)
        ok_hash = shash == ohash
        status = "OK" if (ok_rows and ok_schema and ok_hash) else "MISMATCH"
        if status != "OK":
            failures += 1
        print(
            f"  {name}: {status} rows={len(srows)}/{len(orows)} "
            f"schema={'OK' if ok_schema else f'{scols} vs {sorted(ocols)}'} hash={'OK' if ok_hash else f'{shash} vs {ohash}'}"
        )
    spark.stop()
    if failures:
        sys.exit(1)
    print("driver_sim: ALL OK")


if __name__ == "__main__":
    argv = sys.argv[1:]
    kw = {}
    if "--only" in argv:
        i = argv.index("--only")
        kw["only"] = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    main(*argv, **kw)
