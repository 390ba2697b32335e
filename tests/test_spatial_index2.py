"""Geohash / zonal argmax / temporal trend: reference-value checks and
contract parity at sf0.001 (matching-sf oracle SQL built locally)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from georaster_spark.constants import DOMAIN
from georaster_spark.operators import georegister as geo
from georaster_spark.operators import spatial_index as si


def _py_geohash(cx: float, cy: float, precision: int = 8) -> str:
    """Independent NumPy-free reimplementation of the geohash layout."""
    nbits = (5 * precision + 1) // 2
    xb = 5 * precision - nbits
    bx = min(max(int(cx) * (1 << nbits) // DOMAIN, 0), (1 << nbits) - 1)
    by = min(max(int(cy) * (1 << xb) // DOMAIN, 0), (1 << xb) - 1)
    total = 5 * precision
    v = 0
    for t in range(total):
        ab = t // 2
        bit = (bx >> (nbits - 1 - ab)) & 1 if t % 2 == 0 else (by >> (xb - 1 - ab)) & 1
        v |= bit << (total - 1 - t)
    return "".join(
        si._GEOHASH_ALPHABET[(v >> (total - 5 * (k + 1))) & 31]
        for k in range(precision)
    )


def test_geohash_matches_independent_impl(spark):
    pts = [(123456, 654321), (0, 0), (DOMAIN - 1, DOMAIN - 1), (8192000, 192000)]
    df = spark.createDataFrame(pts, "cx long, cy long")
    got = df.select(
        "cx", "cy", si.geohash(F.col("cx"), F.col("cy"), 8).alias("gh")
    ).collect()
    for r in got:
        assert r["gh"] == _py_geohash(r["cx"], r["cy"]), (r["cx"], r["cy"])


def test_geohash_prefix_is_spatial(spark):
    """Nearby points share prefixes; far points don't (sanity of the
    interleave order)."""
    df = spark.createDataFrame(
        [(1000000, 1000000), (1000050, 1000050), (60000000, 60000000)],
        "cx long, cy long",
    )
    ghs = [
        r["gh"]
        for r in df.select(si.geohash(F.col("cx"), F.col("cy"), 8).alias("gh")).collect()
    ]
    assert ghs[0][:6] == ghs[1][:6]
    assert ghs[0][:2] != ghs[2][:2]


def test_new_contract_entries_vs_duckdb(spark):
    import duckdb

    from georaster_spark.plans import contract as ct
    from tests.driver_sim import table_hash

    sf_dir = "/root/testdata/sf0.001"
    fx = ct._fx(sf_dir)
    con = duckdb.connect()
    for name, qfn, sql in [
        ("geohash_rollup", ct.q_geohash, ct._sql_geohash(fx)),
        ("zonal_argmax", ct.q_zonal_argmax, ct._sql_zonal_argmax(fx, 32)),
        ("temporal_trend", ct.q_temporal_trend, ct._sql_temporal_trend(fx, 32)),
    ]:
        sdf = qfn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        orows = con.execute(sql).fetchall()
        ocols = [d[0] for d in con.description]
        assert len(srows) > 0, name
        assert len(srows) == len(orows), name
        assert sorted(sdf.columns) == sorted(ocols), name
        assert table_hash(sdf.columns, srows) == table_hash(ocols, orows), name


def test_trend_numerator_matches_numpy(spark, sf0001_dir):
    from georaster_spark import oracle
    from georaster_spark.operators import georegister as geo
    from georaster_spark.operators import temporal

    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).limit(5)
    got = {r["image_id"]: r for r in temporal.temporal_trend(tiles, 4, 17).collect()}
    eps = np.arange(4)
    for r in tiles.collect():
        base = oracle.decode_pixels(r["bytes"], r["w"], r["h"], r["fmt"]).astype(
            np.int64
        )
        stack = (base.ravel()[None, :] + 17 * eps[:, None]) % 256
        num = 4 * (eps[:, None] * stack).sum(axis=0) - 6 * stack.sum(axis=0)
        g = got[r["image_id"]]
        assert g["trend_sum"] == num.sum()
        assert g["n_rising"] == (num > 0).sum()
        assert g["n_falling"] == (num < 0).sum()


def test_mode_pool_voronoi_contract_vs_duckdb(spark):
    import duckdb

    from georaster_spark.plans import contract as ct
    from tests.driver_sim import table_hash

    sf_dir = "/root/testdata/sf0.001"
    fx = ct._fx(sf_dir)
    con = duckdb.connect()
    for name, qfn, sql in [
        ("mode_pool", ct.q_mode_pool, ct._sql_mode_pool(fx, 32)),
        ("voronoi_assign", ct.q_voronoi, ct._sql_voronoi(fx)),
    ]:
        sdf = qfn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        orows = con.execute(sql).fetchall()
        ocols = [d[0] for d in con.description]
        assert len(srows) > 0, name
        assert len(srows) == len(orows), name
        assert sorted(sdf.columns) == sorted(ocols), name
        assert table_hash(sdf.columns, srows) == table_hash(ocols, orows), name


def test_voronoi_partitions_the_corpus(spark, sf0001_dir):
    from georaster_spark.operators import georegister as geo
    from georaster_spark.operators import spatial_index as si

    tiles = geo.georegister(spark.read.parquet(str(sf0001_dir / "images.parquet")))
    zones = spark.read.parquet(str(sf0001_dir / "zones.parquet"))
    rows = si.voronoi_assign(tiles, zones).collect()
    total = tiles.count()
    assert sum(r["n_images"] for r in rows) == total  # every image assigned once
    assert len(rows) > 1  # more than one cell actually wins


def test_kdop_support_matches_bruteforce(spark, sf0001_dir):
    """kdop_support vs a pandas group-argmax brute force, incl. the
    (max dot, min point_id) tie rule."""
    import pandas as pd

    pts = spark.read.parquet(str(sf0001_dir / "points.parquet"))
    got = si.kdop_support(pts).toPandas()
    pdf = pts.select("point_id", "x", "y").toPandas()
    pdf["gx"] = np.floor(pdf.x / 8000.0).astype(np.int64)
    pdf["gy"] = np.floor(pdf.y / 8000.0).astype(np.int64)
    rows = []
    for k, (dx, dy) in enumerate(si.KDOP_DIRS):
        t = pdf.copy()
        t["dot"] = float(dx) * t.x + float(dy) * t.y
        t = t.sort_values(["gx", "gy", "dot", "point_id"],
                          ascending=[True, True, False, True])
        best = t.groupby(["gx", "gy"], as_index=False).first()
        best["dir"] = k
        rows.append(best)
    exp = pd.concat(rows).set_index(["gx", "gy", "dir"])
    got = got.set_index(["gx", "gy", "dir"])
    assert len(got) == len(exp)
    for key, r in got.iterrows():
        e = exp.loc[key]
        assert r["point_id"] == e["point_id"], key
        assert r["sx"] == e["x"] and r["sy"] == e["y"]


def test_kdop_support_points_lie_on_hull(spark, sf0001_dir):
    """Every emitted support point must be a vertex of its cell group's
    true convex hull (the k-DOP <= hull containment property)."""
    pts = spark.read.parquet(str(sf0001_dir / "points.parquet"))
    got = si.kdop_support(pts).toPandas()
    pdf = pts.select("point_id", "x", "y").toPandas()
    pdf["gx"] = np.floor(pdf.x / 8000.0).astype(np.int64)
    pdf["gy"] = np.floor(pdf.y / 8000.0).astype(np.int64)
    for (gx, gy), grp in got.groupby(["gx", "gy"]):
        cell = pdf[(pdf.gx == gx) & (pdf.gy == gy)]
        for _, r in grp.iterrows():
            # support point: no cell point is strictly further along dir
            dx, dy = si.KDOP_DIRS[int(r["dir"])]
            dots = dx * cell.x.to_numpy() + dy * cell.y.to_numpy()
            assert (dots <= dx * r["sx"] + dy * r["sy"] + 1e-9).all()


def test_kdop_plan_zero_udf_partial_agg(spark, sf0001_dir):
    """kdop_support must stay JVM-side (no Arrow/Python nodes) and
    aggregate with map-side partials (partial_max_by before the
    exchange)."""
    pts = spark.read.parquet(str(sf0001_dir / "points.parquet"))
    plan = si.kdop_support(pts)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "partial_max_by" in plan


def _py_xy2d(r: int, x: int, y: int) -> int:
    """Independent Hamilton xy2d reference."""
    d = 0
    for i in range(r - 1, -1, -1):
        s = 1 << i
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
    return d


def test_hilbert_column_matches_reference_and_is_a_curve(spark):
    """with_hilbert == the classic xy2d on a full 32x32 grid; the index
    is bijective and consecutive d are lattice neighbours (THE Hilbert
    property Z-order lacks)."""
    import pandas as pd

    r = 5
    pdf = pd.DataFrame(
        [(x, y) for x in range(32) for y in range(32)], columns=["x", "y"]
    )
    df = spark.createDataFrame(pdf)
    got = si.with_hilbert(df, "x", "y", out="d", r=r).toPandas()
    got["ref"] = [_py_xy2d(r, x, y) for x, y in zip(got.x, got.y)]
    assert (got.d == got.ref).all()
    assert sorted(got.d) == list(range(1024))  # bijective
    by_d = got.sort_values("d")
    dx = by_d.x.diff().abs().iloc[1:]
    dy = by_d.y.diff().abs().iloc[1:]
    assert ((dx + dy) == 1).all()  # unit steps: a true space-filling curve


def test_hilbert_rollup_locality_and_plan(spark, sf0001_dir):
    """Buckets are spatially compact (spread << lattice extent) and the
    plan is pure JVM codegen (zero Python nodes)."""
    from georaster_spark.operators import georegister as geo

    tiles = geo.georegister(spark.read.parquet(str(sf0001_dir / "images.parquet")))
    out = si.hilbert_rollup(tiles, bucket_shift=6).toPandas()
    # sf0.001: 1000 tiles on a 512x2 ragged lattice; every 64-wide
    # Hilbert bucket must stay compact in gx (<< 512 columns)
    assert out.n_tiles.sum() == 1000
    assert (out.gx_spread <= 16).all()
    plan = (
        si.hilbert_rollup(tiles)._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_round3_contract_vs_duckdb(spark):
    """sf0.001 parity for the round-3 batch: quadtree refinement,
    geodesic assignment, OD matrix, payload audit, Hilbert range
    scan — the same compare the driver runs at sf0.01."""
    import duckdb

    from georaster_spark.plans import contract as ct
    from tests.driver_sim import table_hash

    sf_dir = "/root/testdata/sf0.001"
    fx = ct._fx(sf_dir)
    con = duckdb.connect()
    for name, qfn, sql in [
        ("adaptive_quadtree", ct.q_adaptive_quadtree, ct._sql_adaptive_quadtree(fx)),
        ("geodesic_assign", ct.q_geodesic_assign, ct._sql_geodesic_assign(fx)),
        ("od_matrix", ct.q_od_matrix, ct._sql_od_matrix(fx)),
        ("payload_integrity", ct.q_payload_integrity, ct._sql_payload_integrity(fx)),
        (
            "hilbert_range_scan",
            ct.q_hilbert_range_scan,
            ct._sql_hilbert_range_scan(fx),
        ),
    ]:
        sdf = qfn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        orows = con.execute(sql).fetchall()
        ocols = [d[0] for d in con.description]
        assert len(srows) > 0, name
        assert len(srows) == len(orows), name
        assert sorted(sdf.columns) == sorted(ocols), name
        assert table_hash(sdf.columns, srows) == table_hash(ocols, orows), name


def test_quadtree_census_conserves_points(spark, sf0001_dir):
    from georaster_spark.operators import georegister as geo
    from georaster_spark.operators import spatial_index as si

    tiles = geo.georegister(spark.read.parquet(str(sf0001_dir / "images.parquet")))
    rows = si.adaptive_quadtree(tiles).collect()
    total = tiles.count()
    assert sum(r["n_points"] for r in rows) == total
    # every non-final level obeys the cap
    for r in rows:
        if r["res"] < si.QT_RES0 + si.QT_LEVELS - 1:
            assert r["n_points"] <= si.QT_CAP


def test_hilbert_block_ranges_cover_rect():
    """Pure-python planner invariants: every rect cell's full-order
    Hilbert index lands inside a planned range (no false negatives),
    and ranges are disjoint, sorted, merged."""
    from georaster_spark.operators.spatial_index import (
        HILBERT_R,
        _xy2d,
        hilbert_block_ranges,
    )

    x0, x1, y0, y1 = 96, 207, 0, 15
    ranges = hilbert_block_ranges(x0, x1, y0, y1)
    for (alo, ahi), (blo, bhi) in zip(ranges, ranges[1:]):
        assert ahi < blo - 1  # sorted, disjoint, adjacent runs merged
    import bisect

    los = [lo for lo, _ in ranges]
    for x in range(x0, x1 + 1):
        for y in range(y0, y1 + 1):
            d = _xy2d(HILBERT_R, x, y)
            k = bisect.bisect_right(los, d) - 1
            assert k >= 0 and d <= ranges[k][1], (x, y, d)


def test_segment_snap_matches_bruteforce(spark):
    pts = [
        (0, 5.0, 5.0),            # below first sweep -> seg 0
        (1, 511_999.5, 6_400.0),  # on first sweep
        (2, 512_500.0, 12_000.0), # right of domain -> right connector seg 1
        (3, 250_000.25, 100_000.75),
        (4, 0.0, 198_000.0),
    ]
    df = spark.createDataFrame(pts, schema="point_id long, x double, y double")
    got = {r["point_id"]: r for r in si.segment_snap(df).collect()}
    segs = si.route_segments()
    for pid, x, y in pts:
        best = None
        for sid, x0, y0, x1, y1 in segs:
            dx = max(0.0, x0 - x, x - x1)
            dy = max(0.0, y0 - y, y - y1)
            d2 = dx * dx + dy * dy
            if best is None or (d2, sid) < best[:2]:
                best = (
                    d2, sid, min(max(x, x0), x1), min(max(y, y0), y1)
                )
        r = got[pid]
        assert (r["dist2"], r["seg_id"], r["snap_x"], r["snap_y"]) == best, pid


def test_box_iou_assign_matches_bruteforce(spark, sf0001_dir):
    tiles = spark.read.parquet(str(sf0001_dir / "images.parquet")).where(
        F.substring("image_id", 4, 10).cast("long") % 97 == 0
    )
    got = {
        (r["image_id"], r["pred_id"]): r
        for r in si.box_iou_assign(tiles).collect()
    }
    assert len(got) == 11 * si.IOU_N_PRED
    for idx in range(0, 1000, 97):
        for p in range(si.IOU_N_PRED):
            px0, py0 = (idx * 3 + p * 7) % 20, (idx * 5 + p * 11) % 20
            pw, ph = (idx + p) % 10 + 6, (idx * 2 + p) % 10 + 6
            cands = []
            for g in range(si.IOU_N_GT):
                gx0, gy0 = (idx * 7 + g * 13) % 18, (idx * 11 + g * 3) % 18
                gw, gh = (idx + g) % 8 + 8, (idx * 3 + g) % 8 + 8
                iw = max(0, min(px0 + pw, gx0 + gw) - max(px0, gx0))
                ih = max(0, min(py0 + ph, gy0 + gh) - max(py0, gy0))
                inter = iw * ih
                cands.append((g, inter, pw * ph + gw * gh - inter))
            bg, bi, bu = cands[0]
            for g, i_, u_ in cands[1:]:
                if i_ * bu > bi * u_:
                    bg, bi, bu = g, i_, u_
            r = got[(f"img{idx:08d}", p)]
            assert (r["gt_id"], r["inter_area"], r["union_area"]) == (bg, bi, bu)
            assert r["iou_milli"] == 1000 * bi // bu


def test_hex_bin_matches_pure_python(spark):
    pts = [(i, (i * 137.25) % 50_000, (i * 89.5) % 40_000) for i in range(400)]
    df = spark.createDataFrame(pts, schema="point_id long, x double, y double")
    got = {(r["hq"], r["hr"]): r for r in si.hex_bin(df, size=3000.0).collect()}

    def hexof(x, y):
        q = (x * si._SQRT3_3 - y * si._THIRD) / 3000.0
        r = (y * si._TWO_THIRDS) / 3000.0
        yy = -q - r
        import math
        rx, ry, rz = math.floor(q + 0.5), math.floor(yy + 0.5), math.floor(r + 0.5)
        dx, dy, dz = abs(rx - q), abs(ry - yy), abs(rz - r)
        if dx > dy and dx > dz:
            rx = -ry - rz
        elif dy > dz:
            pass
        else:
            rz = -rx - ry
        return int(rx), int(rz)

    want = {}
    for pid, x, y in pts:
        k = hexof(x, y)
        c, s = want.get(k, (0, 0))
        want[k] = (c + 1, s + pid)
    assert {k: (r["n_points"], r["id_checksum"]) for k, r in got.items()} == want


def test_hex_bin_partition_is_total(spark):
    """Every point lands in exactly one hex, and hexes tile the plane:
    sum of counts == n and the cube constraint x+y+z=0 holds implicitly
    (hq/hr derived from a valid cube round)."""
    pts = spark.range(1000).select(
        F.col("id").alias("point_id"),
        (F.col("id") * 511.37 % 100_000).alias("x"),
        (F.col("id") * 257.91 % 80_000).alias("y"),
    )
    rows = si.hex_bin(pts, size=5000.0).collect()
    assert sum(r["n_points"] for r in rows) == 1000
    assert sum(r["id_checksum"] for r in rows) == 1000 * 999 // 2


def test_buffer_union_area_matches_bruteforce(spark):
    pts = [(0, 5_000.0, 5_000.0), (1, 5_100.0, 5_050.0), (2, 40_000.0, 1_000.0)]
    df = spark.createDataFrame(pts, schema="point_id long, x double, y double")
    r = si.buffer_union_area(df).collect()[0]
    edge = 1 << 10
    want = set()
    for _, x, y in pts:
        bx, by = int(x // edge), int(y // edge)
        for di in range(-2, 3):
            for dj in range(-2, 3):
                cx, cy = bx + di, by + dj
                ctrx, ctry = (cx + 0.5) * edge, (cy + 0.5) * edge
                if (ctrx - x) ** 2 + (ctry - y) ** 2 <= si.BUF_RADIUS ** 2 and cx >= 0 and cy >= 0:
                    want.add((cx, cy))
    assert r["n_cells"] == len(want)
    assert r["area"] == len(want) * edge * edge
    assert r["cell_checksum"] == sum(cy * (1 << 26) + cx for cx, cy in want)
    # overlapping disks (points 0/1) union: strictly fewer cells than 3 disjoint disks
    single = si.buffer_union_area(
        spark.createDataFrame(pts[:1], schema="point_id long, x double, y double")
    ).collect()[0]["n_cells"]
    assert r["n_cells"] < 3 * single


def test_box_nms_matches_greedy_bruteforce(spark, sf0001_dir):
    from georaster_spark.operators.spatial_index import (
        NMS_N_BOX,
        NMS_THR_MILLI,
        box_nms,
    )

    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).limit(40)
    got = {}
    for r in box_nms(tiles).collect():
        got[(r["image_id"], r["rank_pos"])] = (r["box_id"], r["score"], r["kept"])
    ids = [r["image_id"] for r in tiles.select("image_id").collect()]
    for image_id in ids:
        i = int(image_id[3:13])
        boxes = []
        for p in range(NMS_N_BOX):
            boxes.append(
                {
                    "p": p,
                    "x0": (i * 3 + p * 7) % 20,
                    "y0": (i * 5 + p * 11) % 20,
                    "bw": (i + p) % 10 + 6,
                    "bh": (i * 2 + p) % 10 + 6,
                    "score": (i * 13 + p * 29) % 100,
                }
            )
        order = sorted(boxes, key=lambda b: (-b["score"], b["p"]))
        kept = []
        for k, b in enumerate(order):
            ok = True
            for kb in kept:
                iw = max(0, min(b["x0"] + b["bw"], kb["x0"] + kb["bw"]) - max(b["x0"], kb["x0"]))
                ih = max(0, min(b["y0"] + b["bh"], kb["y0"] + kb["bh"]) - max(b["y0"], kb["y0"]))
                inter = iw * ih
                union = b["bw"] * b["bh"] + kb["bw"] * kb["bh"] - inter
                if 1000 * inter > NMS_THR_MILLI * union:
                    ok = False
                    break
            if ok:
                kept.append(b)
            want = (b["p"], b["score"], 1 if ok else 0)
            assert got[(image_id, k)] == want, (image_id, k, got[(image_id, k)], want)


def test_segment_intersections_bruteforce(spark, sf0001_dir):
    from georaster_spark.operators.spatial_index import (
        SEG_LEN,
        SEG_MOD,
        _segments,
        segment_intersections,
    )

    pts = spark.read.parquet(str(sf0001_dir / "points.parquet"))
    got = {(r["s1"], r["s2"]) for r in segment_intersections(pts).collect()}
    segs = {
        r["seg_id"]: (r["ax"], r["ay"], r["bx"], r["by"])
        for r in _segments(pts).collect()
    }

    def ccw(o, p, q):
        return (p[0] - o[0]) * (q[1] - o[1]) - (p[1] - o[1]) * (q[0] - o[0])

    want = set()
    ids = sorted(segs)
    for i, s1 in enumerate(ids):
        a1 = segs[s1][:2]
        b1 = segs[s1][2:]
        for s2 in ids[i + 1:]:
            a2 = segs[s2][:2]
            b2 = segs[s2][2:]
            if (
                ccw(a1, b1, a2) * ccw(a1, b1, b2) < 0
                and ccw(a2, b2, a1) * ccw(a2, b2, b1) < 0
            ):
                want.add((s1, s2))
    assert got == want
    assert len(want) > 0  # the fixture actually produces crossings


def test_affine_fit_recovers_exact_map_when_unperturbed(spark, sf0001_dir):
    """idx = 0 gets zero perturbation (0 % 5 = 0 % 7 = 0), so the LS fit
    must recover the true affine map exactly: num/det == the integer
    parameters and both residuals vanish."""
    from georaster_spark.operators.spatial_index import affine_fit

    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).where(F.col("image_id") == "img00000000")
    r = affine_fit(tiles).collect()[0]
    i = 0
    a, b, c = (i % 3) + 1, i % 2, (i * 7) % 40
    d, e, f = -(i % 2), (i % 4) + 1, (i * 11) % 40
    assert r["det"] != 0
    assert r["num_a"] == a * r["det"]
    assert r["num_b"] == b * r["det"]
    assert r["num_c"] == c * r["det"]
    assert r["num_d"] == d * r["det"]
    assert r["num_e"] == e * r["det"]
    assert r["num_f"] == f * r["det"]
    assert r["resx_scaled"] == 0 and r["resy_scaled"] == 0


def test_voronoi_routed_tier_matches_bruteforce(spark, sf0001_dir):
    """>128 centroids engages the exact cell-routed knn_join(k=1) tier;
    its per-zone census must equal the NumPy brute argmin with the
    (d2, zone_id) tie rule — the same answer the scalar tier gives."""
    import pandas as pd

    tiles = geo.georegister(spark.read.parquet(str(sf0001_dir / "images.parquet")))
    # 300 deterministic centroids spread over the domain (LCG, no RNG state)
    n = 300
    ks = np.arange(n, dtype=np.int64)
    zx = ((ks * 2654435761) % DOMAIN).astype(np.float64)
    zy = ((ks * 40503 * 65537) % DOMAIN).astype(np.float64)
    zones = spark.createDataFrame(
        pd.DataFrame({"zone_id": ks, "cx": zx, "cy": zy})
    )
    got = {r["zone_id"]: r for r in si.voronoi_assign(tiles, zones).collect()}

    img = tiles.select(
        "image_id",
        F.substring("image_id", 4, 10).cast("long").alias("idx"),
        (F.col("gt_x0") + F.lit(500.0)).alias("ix"),
        (F.col("gt_y0") - F.lit(500.0)).alias("iy"),
    ).toPandas()
    ix = img["ix"].to_numpy()[:, None]
    iy = img["iy"].to_numpy()[:, None]
    d2 = (ix - zx[None, :]) ** 2 + (iy - zy[None, :]) ** 2
    best = d2.argmin(axis=1)  # argmin returns FIRST min -> smallest zone_id
    bd = d2[np.arange(len(img)), best]
    exp = pd.DataFrame({"zone_id": ks[best], "idx": img["idx"], "d2": bd})
    g = exp.groupby("zone_id")
    for zid, grp in g:
        r = got[zid]
        assert r["n_images"] == len(grp)
        assert r["idx_checksum"] == grp["idx"].sum()
        assert r["min_dist2"] == grp["d2"].min()
        assert r["max_dist2"] == grp["d2"].max()
    assert len(got) == len(g)
