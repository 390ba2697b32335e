"""Simulate the driver's correctness gate locally: run every
__spark_entry__.queries() entry at a given sf and compare with its
oracle_sql() via DuckDB — row count, schema width, and an
order-insensitive value hash (columns sorted by name, rows sorted).
Each result line ends with the Spark time and the DuckDB oracle time.

Usage: python tests/driver_sim.py [sf0.01] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return ""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "sf0.01"
    only = set(sys.argv[2:])
    sf_dir = f"/root/testdata/{sf}"

    import duckdb

    import __spark_entry__ as ent
    from georaster_spark.session import get_spark, mem_total_mb

    import os

    spark = get_spark(master=os.environ.get("SPARK_GRAFT_MASTER"), app_name="driver-sim")
    def fresh_con():
        # bound the sibling allocator AND recycle it periodically: the
        # Spark JVM (heap = MemTotal/2) and DuckDB (MemTotal/4, the rest
        # left to the Python workers) share one box, and a
        # 549-query session fragments DuckDB's native arenas until a
        # kilobyte-sized malloc fails (std::bad_alloc ~query 400, seen
        # twice in r5 even with memory_limit set).  A fresh connection
        # every DUCK_RECYCLE queries returns the arenas to the OS; the
        # views are stateless so recreation is free.
        c = duckdb.connect()
        c.execute(f"SET memory_limit='{mem_total_mb() // 4}MiB'")
        c.execute("SET temp_directory='/tmp/duckdb_spill'")
        for t in [
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        ]:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return c

    DUCK_RECYCLE = 100
    con = fresh_con()
    n_since = 0

    qs = ent.queries()
    oracles = ent.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # release the previous query's pinned caches and py4j refs:
        # 545 queries in one JVM otherwise accumulate cache+checkpoint
        # blocks until the OS squeezes the sibling DuckDB allocator
        # (observed: OOM after ~400 queries).
        try:
            import gc

            spark.catalog.clearCache()
            gc.collect()
        except Exception:
            pass
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # match the real driver: one bad query = one err row
            print(f"{name:24s} ERR  {type(e).__name__}: {str(e).splitlines()[0][:120]}")
            failures += 1
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"{name:24s} rows={len(srows):8d}  (rows-only, no oracle)  {t1-t0:5.1f}s")
            continue
        n_since += 1
        if n_since >= DUCK_RECYCLE:
            con.close()
            con = fresh_con()
            n_since = 0
        orows = con.execute(oracles[name]).fetchall()
        ocols = [d[0] for d in con.description]
        t2 = time.time()
        sh = table_hash(scols, [tuple(r) for r in srows])
        oh = table_hash(ocols, orows)
        ok = len(srows) == len(orows) and sorted(scols) == sorted(ocols) and sh == oh
        status = "OK " if ok else "FAIL"
        print(
            f"{name:24s} {status} spark={len(srows):8d} duck={len(orows):8d} "
            f"hash {sh} vs {oh}  cols {sorted(scols) == sorted(ocols)}  {t1-t0:5.1f}s"
            f"  oracle {t2-t1:5.1f}s"
        )
        if not ok:
            failures += 1
            if sorted(scols) != sorted(ocols):
                print(f"   spark cols: {sorted(scols)}\n   duck  cols: {sorted(ocols)}")
            sset = {tuple(map(norm_cell, r)) for r in srows}
            oset = {tuple(map(norm_cell, r)) for r in orows}
            print(f"   only-spark sample: {list(sset - oset)[:3]}")
            print(f"   only-duck  sample: {list(oset - sset)[:3]}")
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(main())
