"""Raster map algebra / change detection (operators/algebra)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from georaster_spark import oracle
from georaster_spark.operators import algebra
from georaster_spark.operators import georegister as geo


def _pairs(spark, sf0001_dir, lim=64):
    im = spark.read.parquet(str(sf0001_dir / "images.parquet")).where(
        geo.image_idx() < lim
    )
    pair = F.shiftright(geo.image_idx(), 1).alias("pair_id")
    a = im.where(geo.image_idx() % 2 == 0).select(pair, "bytes", "fmt")
    b = im.where(geo.image_idx() % 2 == 1).select(pair, "bytes", "fmt")
    return algebra.change_detect(a, b, key="pair_id")


def test_change_detect_matches_numpy(spark, sf0001_dir):
    got = {r["pair_id"]: r for r in _pairs(spark, sf0001_dir).collect()}
    assert len(got) == 32
    for p in range(32):
        va = oracle.ramp_tile(2 * p, 32, 32).astype(np.int64)
        vb = oracle.ramp_tile(2 * p + 1, 32, 32).astype(np.int64)
        if (2 * p) % 10 == 3:
            va = oracle.quantize(va)
        if (2 * p + 1) % 10 == 3:
            vb = oracle.quantize(vb)
        d = np.abs(va - vb)
        r = got[p]
        assert r["n_changed"] == int((d != 0).sum())
        assert r["max_abs"] == int(d.max())
        assert r["sum_abs"] == int(d.sum())


def test_change_detect_single_arrow_hop(spark, sf0001_dir):
    """Both payloads must cross Arrow exactly once: one ArrowEvalPython
    node, and the scans read only (image_id-derived key, bytes, fmt)."""
    plan = _pairs(spark, sf0001_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "ReadSchema: struct<image_id:string,bytes:binary,fmt:string>" in plan, plan


def _horn(z: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    gx = (
        z[:-2, 2:] + 2 * z[1:-1, 2:] + z[2:, 2:]
        - z[:-2, :-2] - 2 * z[1:-1, :-2] - z[2:, :-2]
    )
    gy = (
        z[2:, :-2] + 2 * z[2:, 1:-1] + z[2:, 2:]
        - z[:-2, :-2] - 2 * z[:-2, 1:-1] - z[:-2, 2:]
    )
    return gx, gy


def test_terrain_stats_matches_numpy(spark, sf0001_dir):
    lim = 48
    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).where(geo.image_idx() < lim)
    got = {r["image_id"]: r for r in algebra.terrain_stats(tiles).collect()}
    assert len(got) == lim
    for idx in range(lim):
        z = oracle.ramp_tile(idx, 32, 32).astype(np.int64)
        if idx % 10 == 3:
            z = oracle.quantize(z)
        gx, gy = _horn(z)
        s2 = gx * gx + gy * gy
        wt = np.arange(1, 30 * 30 + 1, dtype=np.int64).reshape(30, 30)
        r = got[f"img{idx:08d}"]
        assert r["n_interior"] == 900
        assert r["slope_sq_sum"] == int(s2.sum())
        assert r["slope_sq_max"] == int(s2.max())
        assert r["slope_checksum"] == int((s2 * wt).sum())
        assert r["n_flat"] == int(((gx == 0) & (gy == 0)).sum())
        assert r["n_east"] == int((gx > np.abs(gy)).sum())
        assert r["n_west"] == int((-gx > np.abs(gy)).sum())
        assert r["n_north"] == int((-gy > np.abs(gx)).sum())
        assert r["n_south"] == int((gy > np.abs(gx)).sum())


def test_terrain_stats_map_only_plan(spark, sf0001_dir):
    tiles = geo.georegister(spark.read.parquet(str(sf0001_dir / "images.parquet")))
    plan = algebra.terrain_stats(tiles)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") == 1, plan


def test_diff_stats_raises_on_shape_mismatch(spark):
    df = spark.createDataFrame(
        [(b"\x00\x01", b"\x00", "raw", "raw")], "a binary, b binary, fa string, fb string"
    )
    out = df.select(
        algebra.diff_stats(F.col("a"), F.col("b"), F.col("fa"), F.col("fb")).alias("d")
    )
    import pytest

    with pytest.raises(Exception, match="payload shapes differ"):
        out.collect()


def test_flow_direction_matches_numpy_float_rule(spark, sf0001_dir):
    """The integer 2·drop² rule must equal the float drop/dist steepest-
    descent rule pixel-for-pixel (same priority ties), and the contract
    query must match its DuckDB oracle."""
    import numpy as np

    from georaster_spark import oracle
    from georaster_spark.operators import algebra
    from georaster_spark.operators import georegister as geo

    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).limit(5)
    got = {r["image_id"]: r for r in algebra.flow_direction_stats(tiles).collect()}
    for r in tiles.collect():
        z = oracle.decode_pixels(r["bytes"], r["w"], r["h"], r["fmt"]).astype(
            np.int64
        )
        h, w = z.shape
        c0 = z[1:-1, 1:-1]
        # float rule: drop / distance, priority order on ties
        fls = []
        for code, di, dj, mult in algebra._D8_DIRS:
            nb = z[1 + di : h - 1 + di, 1 + dj : w - 1 + dj]
            drop = (c0 - nb).astype(np.float64)
            dist = 1.0 if mult == 2 else np.sqrt(2.0)
            fls.append(np.where(drop > 0, drop / dist, -1.0))
        stack = np.stack(fls)
        best = stack.max(axis=0)
        pick = stack.argmax(axis=0)
        codes = np.array([c for c, *_ in algebra._D8_DIRS])
        code = np.where(best > 0, codes[pick], 0)
        g = got[r["image_id"]]
        assert g["n_flat"] == (code == 0).sum()
        for c in codes:
            assert g[f"n_d{c}"] == (code == c).sum(), (r["image_id"], c)
        wt = np.arange(1, code.size + 1).reshape(code.shape)
        assert g["d8_checksum"] == (code * wt).sum()


def test_flow_direction_contract_vs_duckdb(spark):
    import duckdb

    from georaster_spark.plans import contract as ct
    from tests.driver_sim import table_hash

    sf_dir = "/root/testdata/sf0.001"
    fx = ct._fx(sf_dir)
    con = duckdb.connect()
    sdf = ct.q_flow_direction(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    orows = con.execute(ct._sql_flow_direction(fx, 32)).fetchall()
    ocols = [d[0] for d in con.description]
    assert len(srows) == len(orows) > 0
    assert sorted(sdf.columns) == sorted(ocols)
    assert table_hash(sdf.columns, srows) == table_hash(ocols, orows)


def test_flow_accumulation_matches_numpy_path_count(spark, sf0001_dir):
    """acc(p) must equal the number of interior pixels whose unique D8
    path reaches p in <= k steps (self included) — checked against a
    literal follow-the-pointer NumPy walk."""
    k = 4
    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).limit(4)
    got = {r["image_id"]: r for r in algebra.flow_accumulation_stats(tiles, k=k).collect()}
    for r in tiles.collect():
        z = oracle.decode_pixels(r["bytes"], r["w"], r["h"], r["fmt"]).astype(np.int64)
        h, w = z.shape
        ih, iw = h - 2, w - 2
        c0 = z[1:-1, 1:-1]
        scores, steps = [], []
        for code, di, dj, mult in algebra._D8_DIRS:
            nb = z[1 + di : h - 1 + di, 1 + dj : w - 1 + dj]
            drop = c0 - nb
            scores.append(np.where(drop > 0, mult * drop * drop, -1))
            steps.append((di, dj))
        stack = np.stack(scores)
        best = stack.max(axis=0)
        pick = stack.argmax(axis=0)
        acc = np.zeros((ih, iw), dtype=np.int64)
        n_out = 0
        for i in range(ih):
            for j in range(iw):
                ci, cj, d = i, j, 0
                acc[ci, cj] += 1  # self at depth 0
                while d < k and best[ci, cj] > 0:
                    di, dj = steps[pick[ci, cj]]
                    ni, nj = ci + di, cj + dj
                    if not (0 <= ni < ih and 0 <= nj < iw):
                        if d == 0:
                            n_out += 1
                        break
                    ci, cj, d = ni, nj, d + 1
                    acc[ci, cj] += 1
        # n_outlets counts pixels whose own first step leaves the interior
        flows = best > 0
        dis = np.array([s[0] for s in steps])
        djs = np.array([s[1] for s in steps])
        ii, jj = np.meshgrid(np.arange(ih), np.arange(iw), indexing="ij")
        ti, tj = ii + dis[pick], jj + djs[pick]
        outlet = flows & ~((ti >= 0) & (ti < ih) & (tj >= 0) & (tj < iw))
        g = got[r["image_id"]]
        assert g["n_interior"] == ih * iw
        assert g["n_outlets"] == int(outlet.sum())
        assert g["n_sources"] == int((acc == 1).sum())
        assert g["total_acc"] == int(acc.sum())
        assert g["max_acc"] == int(acc.max())
        wt = np.arange(1, acc.size + 1).reshape(acc.shape)
        assert g["acc_checksum"] == int((acc * wt).sum())


def test_tpi_terrain_matches_numpy(spark, sf0001_dir):
    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).limit(4)
    got = {r["image_id"]: r for r in algebra.tpi_terrain_stats(tiles).collect()}
    for r in tiles.collect():
        z = oracle.decode_pixels(r["bytes"], r["w"], r["h"], r["fmt"]).astype(np.int64)
        h, w = z.shape
        c0 = z[1:-1, 1:-1]
        tpi = 8 * c0
        tri = np.zeros_like(c0)
        mx, mn = c0.copy(), c0.copy()
        for di, dj in algebra._N8:
            nb = z[1 + di : h - 1 + di, 1 + dj : w - 1 + dj]
            tpi -= nb
            tri += np.abs(c0 - nb)
            np.maximum(mx, nb, out=mx)
            np.minimum(mn, nb, out=mn)
        g = got[r["image_id"]]
        assert g["n_ridge"] == int((tpi > 0).sum())
        assert g["n_valley"] == int((tpi < 0).sum())
        assert g["sum_tpi"] == int(tpi.sum())
        assert g["sum_tri"] == int(tri.sum())
        assert g["sum_rough"] == int((mx - mn).sum())
        wt = np.arange(1, tpi.size + 1).reshape(tpi.shape)
        assert g["tpi_checksum"] == int((tpi * wt).sum())


def test_flow_accum_tpi_contract_vs_duckdb(spark):
    import duckdb

    from georaster_spark.plans import contract as ct
    from tests.driver_sim import table_hash

    sf_dir = "/root/testdata/sf0.001"
    fx = ct._fx(sf_dir)
    con = duckdb.connect()
    for qfn, sfn in (
        (ct.q_flow_accum, ct._sql_flow_accum),
        (ct.q_tpi_terrain, ct._sql_tpi_terrain),
    ):
        sdf = qfn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        orows = con.execute(sfn(fx, 32)).fetchall()
        ocols = [d[0] for d in con.description]
        assert len(srows) == len(orows) > 0
        assert sorted(sdf.columns) == sorted(ocols)
        assert table_hash(sdf.columns, srows) == table_hash(ocols, orows)


def test_crosstab_matches_numpy(spark, sf0001_dir):
    got = {}
    im = spark.read.parquet(str(sf0001_dir / "images.parquet")).where(
        geo.image_idx() < 64
    )
    pair = F.shiftright(geo.image_idx(), 1).alias("pair_id")
    a = im.where(geo.image_idx() % 2 == 0).select(pair, "bytes", "fmt")
    b = im.where(geo.image_idx() % 2 == 1).select(pair, "bytes", "fmt")
    for r in algebra.crosstab_stats(a, b, key="pair_id", bins=4).collect():
        got[(r["pair_id"], r["class_a"], r["class_b"])] = r["n_px"]
    total = 0
    for p in range(32):
        va = oracle.ramp_tile(2 * p, 32, 32).astype(np.int64)
        vb = oracle.ramp_tile(2 * p + 1, 32, 32).astype(np.int64)
        if (2 * p) % 10 == 3:
            va = oracle.quantize(va)
        if (2 * p + 1) % 10 == 3:
            vb = oracle.quantize(vb)
        ca, cb = va // 64, vb // 64
        for x in range(4):
            for y in range(4):
                n = int(((ca == x) & (cb == y)).sum())
                if n:
                    assert got[(p, x, y)] == n
                    total += 1
                else:
                    assert (p, x, y) not in got
    assert total == len(got)


def test_sobel_orientation_matches_numpy_atan2(spark, sf0001_dir):
    """The integer octant rule must equal float atan2 45-degree sectors
    pixel-for-pixel (boundary angles land in the ccw-opening sector)."""
    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).limit(5)
    got = {r["image_id"]: r for r in algebra.sobel_orientation_stats(tiles).collect()}
    for r in tiles.collect():
        z = oracle.decode_pixels(r["bytes"], r["w"], r["h"], r["fmt"]).astype(np.int64)
        h, w = z.shape

        def sh(di, dj):
            return z[1 + di : h - 1 + di, 1 + dj : w - 1 + dj]

        gx = (sh(-1, 1) + 2 * sh(0, 1) + sh(1, 1)) - (
            sh(-1, -1) + 2 * sh(0, -1) + sh(1, -1)
        )
        gy = (sh(1, -1) + 2 * sh(1, 0) + sh(1, 1)) - (
            sh(-1, -1) + 2 * sh(-1, 0) + sh(-1, 1)
        )
        flat = (gx == 0) & (gy == 0)
        ang = np.degrees(np.arctan2(gy, gx))  # (-180, 180]
        ang = np.where(ang < 0, ang + 360.0, ang)
        octf = np.floor(ang / 45.0).astype(np.int64) % 8
        g = got[r["image_id"]]
        assert g["n_flat"] == int(flat.sum())
        for o in range(8):
            assert g[f"n_o{o}"] == int((~flat & (octf == o)).sum()), (o,)
        assert g["grad_l1_sum"] == int((np.abs(gx) + np.abs(gy)).sum())
        wt = np.arange(1, gx.size + 1).reshape(gx.shape)
        assert g["orient_checksum"] == int((np.where(flat, 0, octf + 1) * wt).sum())


def test_crosstab_sobel_moran_contract_vs_duckdb(spark):
    import duckdb

    from georaster_spark.plans import contract as ct
    from tests.driver_sim import table_hash

    sf_dir = "/root/testdata/sf0.001"
    fx = ct._fx(sf_dir)
    con = duckdb.connect()
    for qfn, sfn in (
        (ct.q_crosstab, ct._sql_crosstab),
        (ct.q_sobel_orient, ct._sql_sobel_orient),
        (ct.q_moran, ct._sql_moran),
    ):
        sdf = qfn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        orows = con.execute(sfn(fx, 32)).fetchall()
        ocols = [d[0] for d in con.description]
        assert len(srows) == len(orows) > 0, qfn.__name__
        assert sorted(sdf.columns) == sorted(ocols)
        assert table_hash(sdf.columns, srows) == table_hash(ocols, orows)


def _tiles(spark, sf0001_dir, mod=37):
    return geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).where(geo.image_idx() % mod == 0)


def _ramp(idx: int, w: int = 32) -> np.ndarray:
    v = oracle.ramp_tile(idx, w, w).astype(np.int64)
    return oracle.quantize(v) if idx % 10 == 3 else v


def test_otsu_matches_bruteforce(spark, sf0001_dir):
    """otsu_stats vs an independent float-free brute force using
    Fraction comparison (not the scaled-key trick, so the trick itself
    is under test)."""
    from fractions import Fraction

    got = {r["image_id"]: r for r in algebra.otsu_stats(_tiles(spark, sf0001_dir)).collect()}
    assert len(got) == 28  # 1000 images, idx % 37 == 0
    for idx in range(0, 1000, 37):
        z = _ramp(idx).ravel()
        N = z.size
        best_t, best_f = -1, Fraction(-1)
        for t in range(255):
            w0 = int((z <= t).sum())
            if not 0 < w0 < N:
                continue
            s0 = int(z[z <= t].sum())
            a = int(z.sum()) * w0 - N * s0
            f = Fraction(a * a, w0 * (N - w0))
            if f > best_f:
                best_f, best_t = f, t
        r = got[f"img{idx:08d}"]
        assert r["otsu_t"] == best_t
        assert r["n_below"] == int((z <= best_t).sum())
        assert r["sum_above"] == int(z[z > best_t].sum())


def test_focal_median_matches_numpy(spark, sf0001_dir):
    got = {r["image_id"]: r for r in algebra.focal_median_stats(_tiles(spark, sf0001_dir)).collect()}
    for idx in range(0, 1000, 37):
        z = _ramp(idx)
        win = np.stack(
            [z[1 + di:31 + di, 1 + dj:31 + dj] for di in (-1, 0, 1) for dj in (-1, 0, 1)]
        )
        med = np.median(win, axis=0).astype(np.int64)  # 9 ints -> exact
        r = got[f"img{idx:08d}"]
        assert r["n_interior"] == 900
        assert r["sum_med"] == int(med.sum())
        assert r["n_changed"] == int((med != z[1:-1, 1:-1]).sum())


def test_openness_matches_bruteforce(spark, sf0001_dir):
    """openness_stats vs a Fraction-compare brute force over each ray
    (exercises the lcm-key ordering incl. negative rises and ties)."""
    from fractions import Fraction

    rows = algebra.openness_stats(_tiles(spark, sf0001_dir)).collect()
    got = {(r["image_id"], r["dir"]): r for r in rows}
    assert len(got) == 28 * 8
    n8 = ((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))
    for idx in range(0, 1000, 37):
        z = _ramp(idx)
        ci = cj = 16
        L = 15
        for d, (di, dj) in enumerate(n8):
            p = [int(z[ci + k * di, cj + k * dj]) - int(z[ci, cj]) for k in range(1, L + 1)]
            hor = max(range(L), key=lambda i: (Fraction(p[i], i + 1), -i))
            r = got[(f"img{idx:08d}", d)]
            assert r["horizon_k"] == hor + 1
            assert r["horizon_num"] == p[hor]
            assert r["n_rising"] == sum(1 for x in p if x > 0)
            assert r["ray_checksum"] == sum(x * (i + 1) for i, x in enumerate(p))


def test_new_ops_single_arrow_hop(spark, sf0001_dir):
    for op in (algebra.otsu_stats, algebra.focal_median_stats, algebra.openness_stats):
        plan = op(_tiles(spark, sf0001_dir))._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") == 1, (op, plan)


def test_viewshed_matches_bruteforce(spark, sf0001_dir):
    """viewshed_stats vs a Fraction-compare running-max brute force
    (exercises the strict-compare rule, observer height, and the
    first-blocked/furthest bookkeeping)."""
    from fractions import Fraction

    rows = algebra.viewshed_stats(_tiles(spark, sf0001_dir)).collect()
    got = {(r["image_id"], r["dir"]): r for r in rows}
    assert len(got) == 28 * 8
    n8 = ((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))
    for idx in range(0, 1000, 37):
        z = _ramp(idx)
        ci = cj = 16
        L = 15
        zo = int(z[ci, cj]) + algebra.VIEWSHED_OBS_H
        for d, (di, dj) in enumerate(n8):
            ang = [Fraction(int(z[ci + k * di, cj + k * dj]) - zo, k)
                   for k in range(1, L + 1)]
            vis, best = [], None
            for a in ang:
                vis.append(best is None or a > best)
                best = a if best is None or a > best else best
            r = got[(f"img{idx:08d}", d)]
            assert r["n_visible"] == sum(vis)
            assert r["furthest_k"] == max(i + 1 for i, v in enumerate(vis) if v)
            blocked = [i + 1 for i, v in enumerate(vis) if not v]
            assert r["first_blocked"] == (blocked[0] if blocked else 0)
            assert r["vis_checksum"] == sum(i + 1 for i, v in enumerate(vis) if v)


def test_stretch_matches_bruteforce(spark, sf0001_dir):
    """stretch_stats vs a per-pixel Python recompute (exact order-stat
    bounds, saturation bookkeeping, integer stretch formula)."""
    rows = algebra.stretch_stats(_tiles(spark, sf0001_dir)).collect()
    got = {r["image_id"]: r for r in rows}
    for idx in range(0, 1000, 37):
        z = _ramp(idx).astype(np.int64).ravel()
        n = z.size
        srt = np.sort(z)
        lo = int(srt[n * algebra.STRETCH_P_LO // 100])
        hi = int(srt[n * algebra.STRETCH_P_HI // 100])
        out = []
        for v in z:
            v = int(v)
            if hi == lo or v <= lo:
                out.append(0)
            elif v >= hi:
                out.append(255)
            else:
                out.append((v - lo) * 255 // (hi - lo))
        r = got[f"img{idx:08d}"]
        assert (r["lo"], r["hi"]) == (lo, hi)
        assert r["n_sat_lo"] == int((z <= lo).sum())
        assert r["n_sat_hi"] == (int((z >= hi).sum()) if hi > lo else 0)
        assert r["out_sum"] == sum(out)
        assert r["out_checksum"] == sum(o * (i + 1) for i, o in enumerate(out))


def test_watershed_basins_matches_python(spark, sf0001_dir):
    from georaster_spark.operators.algebra import _D8_DIRS, watershed_basins

    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).where(geo.image_idx() % 97 == 0)
    got = {r["image_id"]: r for r in watershed_basins(tiles).collect()}
    assert len(got) == 11
    for image_id, r in got.items():
        idx = int(image_id[3:])
        z = oracle.ramp_tile(idx, 32, 32)
        if idx % 10 == 3:
            z = oracle.quantize(z)
        z = z.astype(np.int64)
        h = w = 32

        def step(i, j):
            bs, bc = 0, 0
            for code, di, dj, mult in _D8_DIRS:
                drop = z[i, j] - z[i + di, j + dj]
                s = mult * drop * drop if drop > 0 else -1
                if s > 0 and s > bs:
                    bs, bc = s, code
            return bc

        labels = {}
        for i in range(1, h - 1):
            for j in range(1, w - 1):
                ci, cj = i, j
                while 1 <= ci <= h - 2 and 1 <= cj <= w - 2:
                    c = step(ci, cj)
                    if c == 0:
                        break
                    for code, di, dj, _ in _D8_DIRS:
                        if code == c:
                            ci, cj = ci + di, cj + dj
                            break
                labels[(i, j)] = ci * w + cj
        labs = sorted(set(labels.values()))
        assert r["n_interior"] == 900
        assert r["n_basins"] == len(labs)
        from collections import Counter

        assert r["max_basin"] == max(Counter(labels.values()).values())
        cks = sum(
            lab * ((i - 1) * 30 + (j - 1) + 1) for (i, j), lab in labels.items()
        )
        assert r["label_checksum"] == cks


def test_flow_length_matches_python(spark, sf0001_dir):
    from georaster_spark.operators.algebra import _D8_DIRS, flow_length_stats

    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).where(geo.image_idx() % 97 == 0)
    got = {r["image_id"]: r for r in flow_length_stats(tiles).collect()}
    assert len(got) == 11
    for image_id, r in got.items():
        idx = int(image_id[3:])
        z = oracle.ramp_tile(idx, 32, 32)
        if idx % 10 == 3:
            z = oracle.quantize(z)
        z = z.astype(np.int64)
        h = w = 32

        def step(i, j):
            bs, bc, bcost = 0, 0, 0
            for code, di, dj, mult in _D8_DIRS:
                drop = z[i, j] - z[i + di, j + dj]
                s = mult * drop * drop if drop > 0 else -1
                if s > 0 and s > bs:
                    bs, bc, bcost = s, code, 5 if mult == 2 else 7
            return bc, bcost

        lengths = {}
        for i in range(1, h - 1):
            for j in range(1, w - 1):
                ci, cj, acc = i, j, 0
                while 1 <= ci <= h - 2 and 1 <= cj <= w - 2:
                    c, cost = step(ci, cj)
                    if c == 0:
                        break
                    acc += cost
                    for code, di, dj, _ in _D8_DIRS:
                        if code == c:
                            ci, cj = ci + di, cj + dj
                            break
                lengths[(i, j)] = acc
        assert r["n_interior"] == 900
        assert r["n_zero"] == sum(1 for v in lengths.values() if v == 0)
        assert r["max_len"] == max(lengths.values())
        assert r["sum_len"] == sum(lengths.values())
        cks = sum(
            v * ((i - 1) * 30 + (j - 1) + 1) for (i, j), v in lengths.items()
        )
        assert r["len_checksum"] == cks


def test_cost_distance_dijkstra_parity(spark, sf0001_dir):
    """After k min-plus rounds the settled ball must equal a literal
    k-bounded Bellman-Ford from the center on the same grid."""
    import heapq

    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).limit(3)
    got = {r["image_id"]: r for r in algebra.cost_distance(tiles).collect()}
    for r in tiles.collect():
        z = oracle.decode_pixels(r["bytes"], r["w"], r["h"], r["fmt"]).astype(np.int64)
        h, w = z.shape
        INF = algebra.COST_INF
        d = np.full((h, w), INF, dtype=np.int64)
        d[h // 2, w // 2] = 0
        for _ in range(algebra.COST_ROUNDS):
            nd = d.copy()
            for i in range(h):
                for j in range(w):
                    best = d[i, j]
                    for di, dj in ((-1, 0), (1, 0), (0, -1), (0, 1)):
                        ni, nj = i + di, j + dj
                        if 0 <= ni < h and 0 <= nj < w:
                            best = min(best, d[ni, nj] + z[i, j] + 1)
                    nd[i, j] = best
            d = nd
        reach = d < INF
        g = got[r["image_id"]]
        assert g["n_reached"] == reach.sum()
        assert g["cost_sum"] == d[reach].sum()
        wt = (np.arange(h)[:, None] * w + np.arange(w)[None, :] + 1)
        assert g["cost_checksum"] == (np.where(reach, d, 0) * wt).sum()


def test_chamfer_two_pass_equals_closed_form(spark, sf0001_dir):
    """Borgefors exactness: the two-pass scan must equal the brute
    min-over-features of the chamfer norm 3*max+min, per pixel."""
    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet")).where(
            geo.image_idx() < 40
        )
    )
    got = {r["image_id"]: r for r in algebra.chamfer_stats(tiles).collect()}
    n_checked = 0
    for idx in range(40):
        v = oracle.ramp_tile(idx, 32, 32).astype(np.int64)
        if idx % 10 == 3:
            v = oracle.quantize(v)
        fi, fj = np.nonzero(v < algebra.CHAMFER_THRESH)
        image_id = f"img{idx:08d}"
        if len(fi) == 0:
            assert image_id not in got
            continue
        ii, jj = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        di = np.abs(ii[:, :, None] - fi[None, None, :])
        dj = np.abs(jj[:, :, None] - fj[None, None, :])
        d = (3 * np.maximum(di, dj) + np.minimum(di, dj)).min(axis=2)
        g = got[image_id]
        wt = np.arange(1, 32 * 32 + 1, dtype=np.int64).reshape(32, 32)
        assert g["n_feat"] == len(fi)
        assert g["sum_d"] == d.sum()
        assert g["max_d"] == d.max()
        assert g["d_checksum"] == (d * wt).sum()
        n_checked += 1
    assert n_checked > 0


def test_bilateral_matches_numpy(spark, sf0001_dir):
    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet")).where(
            geo.image_idx() < 24
        )
    )
    got = {r["image_id"]: r for r in algebra.bilateral_stats(tiles).collect()}
    rng = np.asarray(algebra._BILAT_RANGE, dtype=np.int64)
    for idx in range(24):
        v = oracle.ramp_tile(idx, 32, 32).astype(np.int64)
        if idx % 10 == 3:
            v = oracle.quantize(v)
        c0 = v[1:-1, 1:-1]
        num = np.zeros_like(c0)
        den = np.zeros_like(c0)
        for k, (di, dj) in enumerate(
            (di, dj) for di in (-1, 0, 1) for dj in (-1, 0, 1)
        ):
            t = v[1 + di : 31 + di, 1 + dj : 31 + dj]
            wgt = algebra._BILAT_SPATIAL[k] * rng[np.abs(t - c0) >> 5]
            num += wgt * t
            den += wgt
        o = num // den
        g = got[f"img{idx:08d}"]
        wt = np.arange(1, 30 * 30 + 1, dtype=np.int64).reshape(30, 30)
        assert g["n_interior"] == 900
        assert g["sum_out"] == o.sum()
        assert g["n_changed"] == (o != c0).sum()
        assert g["out_checksum"] == (o * wt).sum()
