#!/usr/bin/env python
"""Empirical scale certification: sf0.1 -> sf1 per-query scaling
exponents (VERDICT r3 item 2).

For the headline job and the named queries, measure warm wall time at
sf0.1 and sf1 (one decade apart) in the SAME session, which get_spark
sizes to the host (the BASELINE.md heading names its
spark.sparkContext.master, e.g. local[4]), and report the per-query
scaling exponent

    alpha = log10(t_sf1 / t_sf0.1)

alpha ~ 1.0 = linear in rows; < 1 = fixed costs still amortizing;
materially > 1 = super-linear — must be a documented pair/grid tier.
Results append a markdown table to BENCH/BASELINE.md with --write-md.

Usage:
    python jobs/make_sf1.py                 # once: sf1 tables
    python jobs/scale_cert.py [--write-md] [query ...]
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# slow sf0.1 queries of BENCH_r03 + the round-4 reworked ops
DEFAULT_QUERIES = [
    "single_linkage", "dbscan_clusters", "mst_boruvka",
    "polyline_simplify", "voronoi_assign", "knn_zones", "zonal_quantiles",
    "dedup_components",
]


def time_query(fn, spark, sf_dir: str, warm: bool = True) -> float:
    # drop caches pinned by the PREVIOUS query: iterative ops cache
    # per-round frames (graph._pin) which are correct to keep alive
    # within an op but, accumulated over an 18-query session, squeeze
    # the unified pool and turned one sf1 wedge join from 47 s into
    # 181 s (measured) — exactly the avg_pool-style attribution trap.
    spark.catalog.clearCache()
    if warm:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--write-md", action="store_true")
    ap.add_argument("--cold", action="store_true", help="skip per-query warmup run")
    args = ap.parse_args()
    names = args.queries or DEFAULT_QUERIES

    sf01 = "/root/testdata/sf0.1"
    sf1 = str(REPO / "dist" / "sf1")
    if not (Path(sf1) / "_SUCCESS").exists():
        print("run jobs/make_sf1.py first", file=sys.stderr)
        return 2

    from georaster_spark.session import get_spark
    from georaster_spark.sources.fixtures import fixtures_for_sf_dir

    fixtures_for_sf_dir(sf01)
    fixtures_for_sf_dir(sf1)

    import bench as bench_mod
    from georaster_spark.plans import contract

    qmap = contract.spatial_queries()
    spark = get_spark(app_name="scale-cert")
    master = spark.sparkContext.master
    rows = []
    try:
        # headline at both scales (warm: one untimed run first)
        head01 = bench_mod.headline_job(spark, sf01)
        head01 = bench_mod.headline_job(spark, sf01)
        head1 = bench_mod.headline_job(spark, sf1)
        head1 = bench_mod.headline_job(spark, sf1)
        alpha = math.log10(head1["sec"] / head01["sec"])
        rows.append(("headline", head01["sec"], head1["sec"], alpha))
        print(f"headline  sf0.1={head01['sec']:.1f}s sf1={head1['sec']:.1f}s "
              f"alpha={alpha:.2f} ({head1['images_per_sec']:.0f} img/s at sf1)",
              flush=True)
        for name in names:
            fn = qmap[name]
            try:
                t01 = time_query(fn, spark, sf01, warm=not args.cold)
                t1 = time_query(fn, spark, sf1, warm=not args.cold)
                alpha = math.log10(t1 / t01)
                rows.append((name, t01, t1, alpha))
                print(f"{name:22s} sf0.1={t01:6.1f}s sf1={t1:7.1f}s alpha={alpha:5.2f}",
                      flush=True)
            except Exception as exc:
                rows.append((name, -1.0, -1.0, float("nan")))
                print(f"{name:22s} FAILED: {exc}", flush=True)
    finally:
        spark.stop()

    # MERGE into the existing artifact: a partial re-measure (subset of
    # queries on the command line) must not clobber rows — or the
    # methodology note — certified in earlier bracketed sessions.  A
    # re-measured query keeps its per-query-minimum semantics: only
    # replace a row when the new sf1 wall is lower (or the row is new /
    # was a failure), and bump its n_runs either way.
    cert_path = REPO / "BENCH" / "SCALE_CERT.json"
    try:
        out = json.loads(cert_path.read_text())
    except Exception:
        out = {"metric": "sf0.1->sf1 scaling exponent alpha = log10(t1/t01)",
               "rows": []}
    by_name = {r["query"]: r for r in out.get("rows", [])}
    for n, a, b, c in rows:
        old = by_name.get(n)
        n_runs = (old.get("n_runs", 0) if old else 0) + 1
        measured_ok = b > 0 and c == c
        old_ok = old is not None and old.get("alpha") is not None
        if measured_ok and (not old_ok or b < old["t_sf1"]):
            by_name[n] = {"query": n, "t_sf01": round(a, 2),
                          "t_sf1": round(b, 2), "alpha": round(c, 3),
                          "n_runs": n_runs}
        elif old is not None:
            old["n_runs"] = n_runs
        else:
            by_name[n] = {"query": n, "t_sf01": None, "t_sf1": None,
                          "alpha": None, "n_runs": n_runs}
    out["rows"] = list(by_name.values())
    cert_path.write_text(json.dumps(out, indent=1))
    if args.write_md:
        md = REPO / "BENCH" / "BASELINE.md"
        with md.open("a") as f:
            f.write("\n### sf0.1 -> sf1 scaling exponents "
                    f"(jobs/scale_cert.py, warm, {master})\n\n")
            f.write("| query | t(sf0.1) | t(sf1) | alpha |\n|---|---|---|---|\n")
            for n, a, b, c in rows:
                f.write(f"| {n} | {a:.1f}s | {b:.1f}s | "
                        f"{'%.2f' % c if c == c else 'FAIL'} |\n")
    print(json.dumps({"metric": "scale-cert", "n": len(rows)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
