"""Round-3 spatial statistics + burn operators vs pure-NumPy oracles:
Getis-Ord Gi* moments, KDE heatmap, DDA route burn, transect profile."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from georaster_spark import oracle
from georaster_spark.constants import DOMAIN, GRID_W
from georaster_spark.operators import georegister as geo
from georaster_spark.operators.rasterize import (
    ROUTE_RES,
    ROUTE_STEPS,
    ROUTE_STRIDE,
    route_burn,
)
from georaster_spark.operators.raster_stats import getis_ord_moments
from georaster_spark.operators.spatial_index import (
    KDE_RADIUS,
    KDE_RES,
    KDE_SUB,
    kde_heatmap,
)

N, W = 1000, 32


def _tiles(spark, sf0001_dir):
    return geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    )


def _site_means() -> dict[tuple[int, int], int]:
    out = {}
    for idx in range(N):
        v = oracle.ramp_tile(idx, W, W)
        if idx % 10 == 3:
            v = oracle.quantize(v)
        out[(idx % GRID_W, idx // GRID_W)] = int(v.sum()) // (W * W)
    return out


def test_getis_ord_matches_bruteforce(spark, sf0001_dir):
    m = _site_means()
    n, s = len(m), sum(m.values())
    rows = getis_ord_moments(_tiles(spark, sf0001_dir)).collect()
    assert len(rows) == N
    for r in rows[::37]:
        gx, gy = r["gx"], r["gy"]
        nb = [
            m[k]
            for k in ((gx + 1, gy), (gx - 1, gy), (gx, gy + 1), (gx, gy - 1))
            if k in m
        ]
        star_sum = sum(nb) + m[(gx, gy)]
        star_k = len(nb) + 1
        assert r["star_k"] == star_k
        assert r["star_sum"] == star_sum
        assert r["gi_num"] == n * star_sum - star_k * s


def _centroids(sub_mod: int) -> np.ndarray:
    idx = np.arange(N, dtype=np.int64)
    g = oracle.georegister(idx, np.full(N, W))
    cx = g["gt_x0"] + 500.0
    cy = g["gt_y0"] - 500.0
    keep = idx % sub_mod == 0
    return np.stack([cx[keep], cy[keep]], axis=1)


def test_kde_heatmap_matches_bruteforce(spark, sf0001_dir):
    pts = _centroids(KDE_SUB)
    cell_ids = oracle.cell_encode(pts[:, 0], pts[:, 1], KDE_RES)
    r2 = KDE_RADIUS * KDE_RADIUS
    edge = DOMAIN >> KDE_RES
    want = {}
    for cell in np.unique(cell_ids):
        rest = int(cell) - (KDE_RES << 58)
        ccol, crow = rest % (1 << KDE_RES), rest // (1 << KDE_RES)
        x0 = ccol * edge + edge / 2
        y0 = DOMAIN - (crow * edge + edge / 2)
        d2 = (pts[:, 0] - x0) ** 2 + (pts[:, 1] - y0) ** 2
        sel = d2 <= r2
        want[int(cell)] = (int(sel.sum()), int((r2 - d2[sel]).sum()))
    got = {
        r["cell"]: (r["n_pts"], r["density"])
        for r in kde_heatmap(_tiles(spark, sf0001_dir)).collect()
    }
    assert got == want


def test_route_burn_matches_python_dda(spark, sf0001_dir):
    idx = np.arange(0, N, ROUTE_STRIDE, dtype=np.int64)
    g = oracle.georegister(idx, np.full(len(idx), W))
    cx = (g["gt_x0"] + 500.0).astype(np.int64)
    cy = (g["gt_y0"] - 500.0).astype(np.int64)
    edge = DOMAIN >> ROUTE_RES
    den = ROUTE_STEPS * edge
    nmax = (1 << ROUTE_RES) - 1
    want = {}
    for s in range(len(idx) - 1):
        k = np.arange(ROUTE_STEPS, dtype=np.int64)
        nx = cx[s] * (ROUTE_STEPS - k) + cx[s + 1] * k
        ny = cy[s] * (ROUTE_STEPS - k) + cy[s + 1] * k
        col = np.minimum(np.maximum(nx, 0) // den, nmax)
        row = np.minimum(np.maximum(DOMAIN * ROUTE_STEPS - ny, 0) // den, nmax)
        rc = np.unique(row * (1 << ROUTE_RES) + col)
        want[s] = (len(rc), int(rc.sum()), int(rc.min()), int(rc.max()))
    got = {
        r["seg_id"]: (r["n_cells"], r["rc_sum"], r["rc_min"], r["rc_max"])
        for r in route_burn(_tiles(spark, sf0001_dir)).collect()
    }
    assert got == want
    assert len(got) == len(idx) - 1


def test_transect_profile_values(spark, sf0001_dir):
    from georaster_spark.plans.contract import _TRANSECT_N, q_transect_profile

    rows = q_transect_profile(spark, str(sf0001_dir)).collect()
    assert 0 < len(rows) <= _TRANSECT_N
    # brute-force the gather for every returned station
    idx = np.arange(N, dtype=np.int64)
    g = oracle.georegister(idx, np.full(N, W))
    for r in rows[::29]:
        k = r["point_id"]
        x, y = 400.0 * k + 700.125, 551.0 + 0.5 * k
        inside = np.nonzero(
            (x >= g["gt_x0"]) & (x < g["gt_x0"] + 1000.0)
            & (y > g["gt_y0"] - 1000.0) & (y <= g["gt_y0"])
        )[0]
        best = int(inside.min())
        assert int(r["image_id"][3:]) == best
        arr = oracle.ramp_tile(best, W, W)
        if best % 10 == 3:
            arr = oracle.quantize(arr)
        jx = min(max(int((x - g["gt_x0"][best]) // (1000.0 / W)), 0), W - 1)
        iy = min(max(int((g["gt_y0"][best] - y) // (1000.0 / W)), 0), W - 1)
        assert r["val"] == float(arr[iy, jx])
