"""NumPy expectations the benchmark checks the engine's outputs against.

Every function here takes the benchmark's generated inputs (fixture
arrays, point batches, sampled image ids) and returns what the engine
must produce, computed with `georaster_spark.oracle` — the repository's
normative single-node spec — and plain NumPy.  Nothing here calls Spark.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.parquet as pq

from georaster_spark import oracle
from georaster_spark.constants import DOMAIN

TILE_W = 64  # sf0.1 tiles are 64 x 64


def round6(x: float) -> float:
    """Spark's round(x, 6) on a double: HALF_UP on its decimal string."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def tile_pixels(idx: int) -> np.ndarray:
    """Pixels of fixture image `idx` as the fixture writer encodes them."""
    arr = oracle.ramp_tile(idx, TILE_W, TILE_W)
    return oracle.quantize(arr) if idx % 10 == 3 else arr


class Tiles:
    """Footprints of every fixture image, derived from its index exactly
    as the engine's georegister does (oracle.georegister)."""

    def __init__(self, n_images: int):
        g = oracle.georegister(np.arange(n_images, dtype=np.int64), np.full(n_images, TILE_W))
        self.x0 = g["gt_x0"]
        self.y0 = g["gt_y0"]
        self.res = float(g["gt_xres"][0])
        span = TILE_W * self.res
        self.xmin, self.xmax = self.x0, self.x0 + span
        self.ymin, self.ymax = self.y0 - span, self.y0
        self.cx = self.x0 + TILE_W * self.res / 2.0
        self.cy = self.y0 - TILE_W * self.res / 2.0
        self._by_x = np.argsort(self.xmin, kind="stable")
        self._xs = self.xmin[self._by_x]
        self._span = span

    def containing(self, x: float, y: float) -> int:
        """Lowest image index whose closed-open box holds (x, y), or -1."""
        lo = np.searchsorted(self._xs, x - self._span, side="right")
        hi = np.searchsorted(self._xs, x, side="right")
        cand = self._by_x[lo:hi]
        hit = cand[(x < self.xmax[cand]) & (y > self.ymin[cand]) & (y <= self.ymax[cand])]
        return int(hit.min()) if hit.size else -1


def cover_count(tiles: Tiles, r: int) -> int:
    """Number of (image, res-r cell) tile assignments: for each box, the
    cells oracle.cell_cover lists, counted without listing them."""
    s = float(DOMAIN >> r)
    n = (1 << r) - 1
    ix0 = np.clip(np.floor(tiles.xmin / s), 0, n)
    ix1 = np.maximum(np.clip(np.ceil(tiles.xmax / s) - 1, 0, n), ix0)
    iy0 = np.clip(np.floor((DOMAIN - tiles.ymax) / s), 0, n)
    iy1 = np.maximum(np.clip(np.ceil((DOMAIN - tiles.ymin) / s) - 1, 0, n), iy0)
    return int(((ix1 - ix0 + 1) * (iy1 - iy0 + 1)).sum())


def zone_rings(zones) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """zone_id -> (ring x, ring y) from the zones table (pandas)."""
    return {
        int(z): (
            np.asarray([p["x"] for p in ring], dtype=np.float64),
            np.asarray([p["y"] for p in ring], dtype=np.float64),
        )
        for z, ring in zip(zones["zone_id"], zones["ring"])
    }


def tile_means(images_path: str) -> np.ndarray:
    """Mean pixel value of every image, indexed by image index."""
    f = pq.ParquetFile(images_path)
    means = np.empty(f.metadata.num_rows, dtype=np.float64)
    for batch in f.iter_batches(batch_size=8192, columns=["image_id", "bytes"]):
        ids = np.fromiter((int(s[3:]) for s in batch.column(0).to_pylist()), dtype=np.int64)
        col = batch.column(1)  # equal-length tiles: one contiguous data buffer
        offsets = np.frombuffer(col.buffers()[1], dtype=np.int32)[col.offset : col.offset + len(col) + 1]
        raw = np.frombuffer(col.buffers()[2], dtype=np.uint8)[offsets[0] : offsets[-1]]
        means[ids] = raw.reshape(len(ids), -1).mean(axis=1, dtype=np.float64)
    return means


def zone_image_stats(tiles: Tiles, zones, means: np.ndarray) -> dict[int, tuple[int, float]]:
    """zone_id -> (n_images, avg_tile_mean): images whose centroid lies in
    the zone (convex half-plane test, boundary inside)."""
    rings = zone_rings(zones)
    out = {}
    for z, xmin, xmax, ymin, ymax in zip(
        zones["zone_id"], zones["xmin"], zones["xmax"], zones["ymin"], zones["ymax"]
    ):
        box = np.nonzero(
            (tiles.cx >= xmin) & (tiles.cx <= xmax) & (tiles.cy >= ymin) & (tiles.cy <= ymax)
        )[0]
        rx, ry = rings[int(z)]
        inside = box[oracle.pip_halfplane(rx, ry, tiles.cx[box], tiles.cy[box])]
        if inside.size:
            out[int(z)] = (int(inside.size), round6(means[inside].sum() / inside.size))
    return out


def sample(tiles: Tiles, xs: np.ndarray, ys: np.ndarray, ids: np.ndarray, mode: str) -> dict:
    """point_id -> (image_id, value) for every point inside some tile,
    sampled from the lowest-image_id containing tile."""
    fn = {
        "value": oracle.value_at,
        "interp1": oracle.interp_bilinear,
        "interp3": oracle.interp_bicubic,
    }[mode]
    out = {}
    for pid, x, y in zip(ids, xs, ys):
        k = tiles.containing(x, y)
        if k < 0:
            continue
        g = (tiles.x0[k], tiles.y0[k], tiles.res, tiles.res)
        v = fn(tile_pixels(k), np.asarray([x]), np.asarray([y]), *g)
        out[int(pid)] = (f"img{k:08d}", float(np.asarray(v, dtype=np.float64)[0]))
    return out


def knn(xs: np.ndarray, ys: np.ndarray, ids: np.ndarray, zones, k: int) -> dict:
    """(point_id, rank) -> (zone_id, d2): brute-force distances to every
    zone centroid, ranked by (d2, zone_id) — the engine's total order."""
    zid = zones["zone_id"].to_numpy(np.int64)
    cx = zones["cx"].to_numpy(np.float64)
    cy = zones["cy"].to_numpy(np.float64)
    out = {}
    for pid, x, y in zip(ids, xs, ys):
        d2 = (x - cx) * (x - cx) + (y - cy) * (y - cy)
        order = np.lexsort((zid, d2))[:k]
        for rank, j in enumerate(order, start=1):
            out[(int(pid), rank)] = (int(zid[j]), float(d2[j]))
    return out


def zonal_stats(tiles: Tiles, zones, sample_idx: np.ndarray) -> dict:
    """zone_id -> (n_pixels, sum, min, max, mean) over the pixels of the
    sampled images whose centers fall inside the zone."""
    rings = zone_rings(zones)
    zb = list(zip(zones["zone_id"], zones["xmin"], zones["xmax"], zones["ymin"], zones["ymax"]))
    acc: dict[int, list[int]] = {}
    for k in sample_idx:
        k = int(k)
        hits = [
            int(z)
            for z, xmin, xmax, ymin, ymax in zb
            if tiles.xmin[k] < xmax and tiles.xmax[k] > xmin
            and tiles.ymin[k] < ymax and tiles.ymax[k] > ymin
        ]
        if not hits:
            continue
        arr = tile_pixels(k)
        px, py = oracle.pixel_centers(tiles.x0[k], tiles.y0[k], tiles.res, tiles.res, TILE_W, TILE_W)
        for z in hits:
            vals = arr.ravel()[oracle.pip_halfplane(*rings[z], px.ravel(), py.ravel())].astype(np.int64)
            if vals.size == 0:
                continue
            a = acc.setdefault(z, [0, 0, 255, 0])
            a[0] += int(vals.size)
            a[1] += int(vals.sum())
            a[2] = min(a[2], int(vals.min()))
            a[3] = max(a[3], int(vals.max()))
    return {z: (n, s, mn, mx, round6(s / n)) for z, (n, s, mn, mx) in acc.items()}
