"""Dump formatted physical plans of representative contract queries to
BENCH/PLANS.md — an auditable artifact of the plan-quality claims
(pruned scans, broadcast joins, single exchanges, codegen spans).

Each plan is followed by a codegen-size audit: the maxMethodCodeSize of
every WholeStageCodegen subtree, flagging those over HotSpot's
8,000-byte huge-method limit (such a method is never JIT-compiled).
Sizes come from the non-adaptive plan, because AQE creates the
subtrees only when the query runs.  The flagged queries are also
printed to standard output.

Usage: python jobs/dump_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

DEFAULT = [
    "tile_assign",        # E4: map-only ingest + explode, no shuffle
    "zone_image_stats",   # flagship: broadcast PIP + fused pixel leg
    "value_at_coords",    # R12: dedup-first sampling, bytes join last
    "zonal_stats",        # E7: partial+final, pixel bytes never shuffle
    "knn_zones",          # E6: one map-only Arrow pass + broadcast id join
    "rasterize_burn",     # map-only burn, bytes pruned from scan
    "asof_clicks",        # one-exchange window as-of
    "minhash_lsh_pairs",  # D3: bounded band join
    "equalize",           # two-pass: O(256) LUT + broadcast remap
    "zonal_quantiles",    # A23: histogram partials, O(pairs*values) shuffle
    "cell_rollup",        # A19: aggregates-of-aggregates up the cell tree
    "zone_overlap",       # A26: cell-prefiltered pair join, no cross join
    "image_augment",      # A32: one fused Arrow hop, bytes never emitted
    "radius_join",        # A46: cell filter-refine, no cross join
    "str_pack",           # A45: distributed rank, no unpartitioned window
    "geohash_rollup",     # A49: 40-term interleave in one codegen Project
    "image_quality",      # A41: map-only fused Laplacian pass
    "idw_interpolate",    # A52: filter-refine neighbor candidates
    "curation_pipeline",  # A59: composed gates, no pixel shuffle
    "zonal_frac",         # A89: fractional-coverage zonal, fused partials
    "pansharpen",         # A92: map-only fused Brovey pass
    "reclassify",         # A96: census Arrow hop + broadcast range join
    "coverage_audit",     # A97: broadcast dim + tiny census LEFT join
    "geary_lattice",      # A99: co-located lattice join, two tiny aggs
    "semivariogram",      # A101: filter-refine pair join, slim bin agg
    "kde_heatmap",        # A103: cover-explode x anchor-cell equi-join
    "getis_ord",          # A104: co-located lattice join + 2-scalar bcast
    "mst_boruvka",        # R3b: per-round min-struct agg + star contraction
    "merkle_cells",       # R3b: one Arrow decode + sorted md5 folds
    "pip_raycast",        # R3b: broadcast edges + parity groupBy
    "route_burn",         # A108: broadcast waypoint join + codegen DDA
    "dedup_components_star",  # A116: star-contraction CC rounds
    "adaptive_quadtree",  # A121: per-level census + bounded hot broadcasts
    "od_matrix",          # A122: one user-key window + OD-pair agg
    "payload_integrity",  # A127: map-only flags, single-row agg, stack()
    "geodesic_assign",    # A128: map-only chord argmin, codegen
    "hilbert_range_scan", # A130: driver range plan + OR-of-BETWEENs prune
    "voronoi_assign",     # A62: scalar least()+CASE argmin; past 128 centroids the one-pass routed knn tier
    "zonal_majority",     # A50-family (round-3 replan): cached-decode hist partials
    "box_nms",            # A165: named-column greedy cascade, zero shuffle
    "segment_intersections",  # A172: grid bucket join + ccw refine
    "ivm_audit",          # A201: delta-partition scan + dims outer merge
    "partition_skew_audit",   # A192: cell census + p99 order statistic
]


# HotSpot's DontCompileHugeMethods limit, in bytes of bytecode.
HUGE_METHOD_LIMIT = 8000


def codegen_sizes(df) -> list[tuple[str, int]]:
    """(subtree, maxMethodCodeSize) of every WholeStageCodegen subtree of
    `df`'s plan as planned with AQE off; `subtree` is the tree string."""
    spark = df.sparkSession
    jvm = spark._jvm
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        qe = spark._jsparkSession.sessionState().executePlan(
            df._jdf.queryExecution().logical(),
            jvm.org.apache.spark.sql.execution.CommandExecutionMode.ALL(),
        )
        plan = qe.executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    seq = jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(plan)
    out = []
    for i in range(seq.size()):
        t = seq.apply(i)
        out.append((t._1(), t._3().maxMethodCodeSize()))
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or DEFAULT

    from georaster_spark.session import get_spark

    spark = get_spark()
    from georaster_spark.plans import contract

    queries = contract.spatial_queries()
    jvm = spark._jvm
    out = ["# Physical plans (generated by jobs/dump_plans.py)\n"]
    flagged = []
    for name in names:
        df = queries[name](spark, sf_dir)
        txt = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        sizes = codegen_sizes(df)
        lines = [
            f"{size:>6}{'  OVER' if size > HUGE_METHOD_LIMIT else ''}  "
            + tree.split("\n", 1)[0][:100]
            for tree, size in sizes
        ]
        over = [size for _, size in sizes if size > HUGE_METHOD_LIMIT]
        if over:
            flagged.append(name)
            print(f"{name}: {len(over)} of {len(sizes)} codegen stages over "
                  f"{HUGE_METHOD_LIMIT} bytes: {sorted(over, reverse=True)}")
        out.append(
            f"\n## {name}\n\n```\n{txt}\n```\n\n"
            f"Codegen method sizes (bytes; OVER > {HUGE_METHOD_LIMIT}):\n\n"
            "```\n" + "\n".join(lines) + "\n```\n"
        )
    dest = REPO / "BENCH" / "PLANS.md"
    dest.write_text("".join(out))
    print(f"wrote {dest} ({len(names)} plans; {len(flagged)} with a stage over "
          f"{HUGE_METHOD_LIMIT} bytes: {' '.join(flagged)})")


if __name__ == "__main__":
    main()
