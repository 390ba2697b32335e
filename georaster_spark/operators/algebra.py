"""Raster map algebra beyond georaster's per-raster surface: change
detection between two co-registered rasters; focal, terrain and
hydrology kernels (focal statistics and median, proximity, slope and
aspect, hillshade, curvature, TPI/TRI, openness, horizon shadow,
viewshed, D8 flow direction, accumulation and length, watershed basins,
accumulated cost distance); stretch, Otsu and crosstab classification
with Sobel orientation; and the kernels of the rows INVENTORY.md lists
as "unplaced" (chamfer and exact distance transforms, bilateral and
Perona-Malik smoothing, adaptive and Schmitt thresholds, a homography
warp, integer transforms, codec censuses, RLSA smearing, the structure
tensor).  Reference analog: the NumPy a georaster user runs over loaded
rasters' ``self.r`` arrays (`georaster/georaster.py ::
SingleBandRaster.__init__` eager-load ≈L620-700 ⚠ UNVERIFIED, SURVEY
§0), lifted to distributed passes over tile corpora.

Scale shape: the change-detection pair join is a plain equi-join on the
tile key, so at 100 TB both sides co-partition on that key and Catalyst
picks SMJ/AQE; if both corpora are written as bucketed tables on the key
(sources/bucketed.py) the join is SHUFFLE-FREE — neither side's pixel
bytes ever move.  Every kernel is then ONE fused pandas UDF or
``mapInPandas`` pass: pixels cross the JVM->Python Arrow boundary
exactly once and only per-tile integer statistics come back, so nothing
pixel-sized is materialized between stages.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .. import oracle

_DIFF_SCHEMA = StructType(
    [
        StructField("n_changed", LongType()),
        StructField("max_abs", LongType()),
        StructField("sum_abs", LongType()),
    ]
)


def diff_stats(
    bytes_a: Column, bytes_b: Column, fmt_a: Column, fmt_b: Column
) -> Column:
    """Fused per-pair change statistics over two equal-shape payloads:
    n_changed (pixels that differ), max_abs and sum_abs of the integer
    difference.  Integer-exact (int64 arithmetic), so the DuckDB oracle
    re-derives the same values from the pixel formulas.

    Vectorized by byte-length group: equal-shaped pairs decode as two
    (n, npix) blocks and reduce with three vectorized axis-1 ops — no
    per-row Python loop.
    """

    @F.pandas_udf(_DIFF_SCHEMA)
    def _diff(da: pd.Series, db: pd.Series, fa: pd.Series, fb: pd.Series) -> pd.DataFrame:
        n = len(da)
        n_changed = np.empty(n, dtype=np.int64)
        max_abs = np.empty(n, dtype=np.int64)
        sum_abs = np.empty(n, dtype=np.int64)
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
        groups: dict[tuple, list[int]] = {}
        for k in range(n):
            if len(da.iat[k]) != len(db.iat[k]):
                raise ValueError("diff_stats: payload shapes differ within a pair")
            groups.setdefault((len(da.iat[k]), fa.iat[k], fb.iat[k]), []).append(k)
        for (_, f_a, f_b), idx in groups.items():
            a = np.frombuffer(b"".join(da.iat[k] for k in idx), dtype=dt[f_a]).reshape(len(idx), -1)
            b = np.frombuffer(b"".join(db.iat[k] for k in idx), dtype=dt[f_b]).reshape(len(idx), -1)
            d = np.abs(a.astype(np.int64) - b.astype(np.int64))
            ii = np.asarray(idx)
            n_changed[ii] = (d != 0).sum(axis=1)
            max_abs[ii] = d.max(axis=1)
            sum_abs[ii] = d.sum(axis=1)
        return pd.DataFrame(
            {"n_changed": n_changed, "max_abs": max_abs, "sum_abs": sum_abs}
        )

    return _diff(bytes_a, bytes_b, fmt_a, fmt_b)


_FOCAL_SCHEMA = (
    "image_id string, n_interior long, focal_checksum long, "
    "grad_l1_sum long, grad_max long"
)


def focal_stats(tiles: DataFrame) -> DataFrame:
    """Per-tile 3x3 focal map algebra (the neighborhood ops — focal sum /
    gradient — a georaster user writes over ``self.r`` with scipy
    ``uniform_filter``/``np.gradient``; upstream georaster is a
    single-raster library, so focal semantics are per-tile with interior
    pixels only — no cross-tile halo is defined for its jittered tiles).

    One fused mapInPandas pass: pixels cross Arrow once per tile, all
    levels of reduction happen in NumPy, output is 5 slim columns.
    Integer-exact surfaces so the DuckDB oracle re-derives them from the
    ramp formula:
      n_interior     — (h-2)*(w-2)
      focal_checksum — sum over interior of box3x3_sum(i,j) * ((i-1)*(w-2)+(j-1)+1)
      grad_l1_sum    — sum over interior of |v[i,j+1]-v[i,j-1]| + |v[i+1,j]-v[i-1,j]|
      grad_max       — max of that central-difference L1 gradient

    Scale shape: map-only (no shuffle, no join); vectorized per
    (byte-length, fmt-class) group as one (n, h, w) int64 block, so the
    interior slicing + reductions are whole-block NumPy ops, never
    per-pixel Python."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")

    def _focal(batches):
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
        for pdf in batches:
            n = len(pdf)
            out = {
                "image_id": pdf["image_id"].to_numpy(dtype=object),
                "n_interior": np.zeros(n, dtype=np.int64),
                "focal_checksum": np.zeros(n, dtype=np.int64),
                "grad_l1_sum": np.zeros(n, dtype=np.int64),
                "grad_max": np.zeros(n, dtype=np.int64),
            }
            groups: dict[tuple, list[int]] = {}
            for k in range(n):
                key = (int(pdf["w"].iat[k]), int(pdf["h"].iat[k]), pdf["fmt"].iat[k])
                groups.setdefault(key, []).append(k)
            for (w, h, fmt), idx in groups.items():
                if w < 3 or h < 3:
                    continue  # no interior; stats stay 0
                blk = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[k] for k in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int64)
                )
                box = sum(
                    blk[:, 1 + di : h - 1 + di, 1 + dj : w - 1 + dj]
                    for di in (-1, 0, 1)
                    for dj in (-1, 0, 1)
                )
                grad = np.abs(blk[:, 1:-1, 2:] - blk[:, 1:-1, :-2]) + np.abs(
                    blk[:, 2:, 1:-1] - blk[:, :-2, 1:-1]
                )
                wt = np.arange(1, (h - 2) * (w - 2) + 1, dtype=np.int64).reshape(
                    h - 2, w - 2
                )
                ii = np.asarray(idx)
                out["n_interior"][ii] = (h - 2) * (w - 2)
                out["focal_checksum"][ii] = (box * wt).sum(axis=(1, 2))
                out["grad_l1_sum"][ii] = grad.sum(axis=(1, 2))
                out["grad_max"][ii] = grad.max(axis=(1, 2))
            yield pd.DataFrame(out)

    return slim.mapInPandas(_focal, schema=_FOCAL_SCHEMA)


_TERRAIN_SCHEMA = (
    "image_id string, n_interior long, slope_sq_sum long, slope_sq_max long, "
    "slope_checksum long, n_flat long, n_east long, n_north long, "
    "n_west long, n_south long"
)


def terrain_stats(tiles: DataFrame) -> DataFrame:
    """Per-tile terrain analysis over the interior pixels: Horn (1981)
    3x3 slope/aspect — the DEM derivative a georaster user computes over
    ``self.r`` with `gdaldem slope/aspect` or `np.gradient` (upstream
    georaster exposes the raw array; `georaster/georaster.py ::
    SingleBandRaster.r` ≈L600-780 ⚠ UNVERIFIED, SURVEY §0) — here as a
    distributed map-only pass with integer-exact surfaces so the DuckDB
    oracle re-derives every value from the ramp formula.

    Horn kernel (integer, unnormalized — the 1/(8*cellsize) factor is a
    constant scale that only matters for degrees conversion):
      gx = (z[-1,+1] + 2 z[0,+1] + z[+1,+1]) - (z[-1,-1] + 2 z[0,-1] + z[+1,-1])
      gy = (z[+1,-1] + 2 z[+1,0] + z[+1,+1]) - (z[-1,-1] + 2 z[-1,0] + z[-1,+1])

    Surfaces (all int64-exact):
      slope_sq_sum / slope_sq_max — sum/max of gx^2 + gy^2
      slope_checksum — sum of (gx^2+gy^2) * ((i-1)*(w-2)+(j-1)+1)
      n_flat  — gx = 0 AND gy = 0
      n_east  — gx >  |gy| (steepest ascent due +x)
      n_west  — -gx > |gy|
      n_north — -gy > |gx| (row index grows southward)
      n_south — gy >  |gx|
    Strict comparisons make the compass classes exact and unambiguous;
    exact diagonals fall in none (recoverable as interior - others).

    Scale shape: map-only fused mapInPandas (no shuffle, no join);
    vectorized per (w,h,fmt) group as one (n,h,w) int64 block."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")

    def _terrain(batches):
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
        cols = (
            "n_interior", "slope_sq_sum", "slope_sq_max", "slope_checksum",
            "n_flat", "n_east", "n_north", "n_west", "n_south",
        )
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in cols:
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for k in range(n):
                key = (int(pdf["w"].iat[k]), int(pdf["h"].iat[k]), pdf["fmt"].iat[k])
                groups.setdefault(key, []).append(k)
            for (w, h, fmt), idx in groups.items():
                if w < 3 or h < 3:
                    continue
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[k] for k in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int64)
                )
                gx = (
                    z[:, :-2, 2:] + 2 * z[:, 1:-1, 2:] + z[:, 2:, 2:]
                    - z[:, :-2, :-2] - 2 * z[:, 1:-1, :-2] - z[:, 2:, :-2]
                )
                gy = (
                    z[:, 2:, :-2] + 2 * z[:, 2:, 1:-1] + z[:, 2:, 2:]
                    - z[:, :-2, :-2] - 2 * z[:, :-2, 1:-1] - z[:, :-2, 2:]
                )
                s2 = gx * gx + gy * gy
                ax, ay = np.abs(gx), np.abs(gy)
                wt = np.arange(1, (h - 2) * (w - 2) + 1, dtype=np.int64).reshape(
                    h - 2, w - 2
                )
                ii = np.asarray(idx)
                out["n_interior"][ii] = (h - 2) * (w - 2)
                out["slope_sq_sum"][ii] = s2.sum(axis=(1, 2))
                out["slope_sq_max"][ii] = s2.max(axis=(1, 2))
                out["slope_checksum"][ii] = (s2 * wt).sum(axis=(1, 2))
                out["n_flat"][ii] = ((gx == 0) & (gy == 0)).sum(axis=(1, 2))
                out["n_east"][ii] = (gx > ay).sum(axis=(1, 2))
                out["n_west"][ii] = (-gx > ay).sum(axis=(1, 2))
                out["n_north"][ii] = (-gy > ax).sum(axis=(1, 2))
                out["n_south"][ii] = (gy > ax).sum(axis=(1, 2))
            yield pd.DataFrame(out)

    return slim.mapInPandas(_terrain, schema=_TERRAIN_SCHEMA)


_HILLSHADE_SCHEMA = (
    "image_id string, n_interior long, shade_sum long, shade_min long, "
    "shade_max long, n_shadow long, shade_checksum long"
)


def hillshade_stats(
    tiles: DataFrame, lx: int = -3, ly: int = 4, lz: int = 12
) -> DataFrame:
    """Integer-exact hillshade (`gdaldem hillshade` analog, A37): the
    Lambertian illumination NUMERATOR over interior pixels.

    With the Horn gradients gx, gy of terrain_stats, the (unnormalized)
    surface normal is n = (-gx, -gy, 8) (unit cell, z up; 8 = Horn kernel
    weight sum).  For an integer light vector L = (lx, ly, lz) the shade
    numerator is

        shade = L . n = -lx*gx - ly*gy + 8*lz            (int64-exact)

    True hillshade is shade / (|L| |n|); the positive scale |L||n| never
    changes the SIGN, so lit-vs-shadow classification (n_shadow: shade
    <= 0) matches the normalized value exactly, and the raw numerator
    stats are bit-reproducible across engines — the same
    integer-surface discipline as terrain_stats (which a float
    cos/sin hillshade could not satisfy cross-engine).  Default L =
    (-3, 4, 12) (|L| = 13): light from the ESE at ~67 deg elevation.

    Scale shape: identical to terrain_stats — map-only fused
    mapInPandas, vectorized per (w,h,fmt) group, no shuffle."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")

    def _shade(batches):
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
        cols = (
            "n_interior", "shade_sum", "shade_min", "shade_max",
            "n_shadow", "shade_checksum",
        )
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in cols:
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for k in range(n):
                key = (int(pdf["w"].iat[k]), int(pdf["h"].iat[k]), pdf["fmt"].iat[k])
                groups.setdefault(key, []).append(k)
            for (w, h, fmt), idx in groups.items():
                if w < 3 or h < 3:
                    continue
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[k] for k in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int64)
                )
                gx = (
                    z[:, :-2, 2:] + 2 * z[:, 1:-1, 2:] + z[:, 2:, 2:]
                    - z[:, :-2, :-2] - 2 * z[:, 1:-1, :-2] - z[:, 2:, :-2]
                )
                gy = (
                    z[:, 2:, :-2] + 2 * z[:, 2:, 1:-1] + z[:, 2:, 2:]
                    - z[:, :-2, :-2] - 2 * z[:, :-2, 1:-1] - z[:, :-2, 2:]
                )
                shade = -lx * gx - ly * gy + 8 * lz
                wt = np.arange(1, (h - 2) * (w - 2) + 1, dtype=np.int64).reshape(
                    h - 2, w - 2
                )
                ii = np.asarray(idx)
                out["n_interior"][ii] = (h - 2) * (w - 2)
                out["shade_sum"][ii] = shade.sum(axis=(1, 2))
                out["shade_min"][ii] = shade.min(axis=(1, 2))
                out["shade_max"][ii] = shade.max(axis=(1, 2))
                out["n_shadow"][ii] = (shade <= 0).sum(axis=(1, 2))
                out["shade_checksum"][ii] = (shade * wt).sum(axis=(1, 2))
            yield pd.DataFrame(out)

    return slim.mapInPandas(_shade, schema=_HILLSHADE_SCHEMA)


def change_detect(a: DataFrame, b: DataFrame, key: str = "image_id") -> DataFrame:
    """Join two co-registered tile corpora on `key` and emit per-tile
    change statistics.  Columns taken from each side: bytes, fmt (plus
    the key).  Output: key, n_changed, max_abs, sum_abs."""
    lhs = a.select(key, F.col("bytes").alias("_ba"), F.col("fmt").alias("_fa"))
    rhs = b.select(key, F.col("bytes").alias("_bb"), F.col("fmt").alias("_fb"))
    joined = lhs.join(rhs, key)
    d = diff_stats(F.col("_ba"), F.col("_bb"), F.col("_fa"), F.col("_fb"))
    return joined.withColumn("_d", d).select(
        key, "_d.n_changed", "_d.max_abs", "_d.sum_abs"
    )


_STRIP_SCHEMA = (
    "tid long, own int, di int, dj int, w int, h int, fmt string, data binary"
)
_FOCAL_M_SCHEMA = (
    "tile_id long, n_interior long, focal_checksum long, "
    "grad_l1_sum long, grad_max long"
)


def focal_mosaic(mosaic: DataFrame, ntx: int, nty: int) -> DataFrame:
    """3x3 focal map algebra over a TILED COMMON-GRID mosaic with
    inter-tile HALO EXCHANGE — the distributed focal case per-tile ops
    can't express: pixels on interior tile seams need their neighbors'
    edge pixels, so each tile ships 1-px strips (edges + corners, ~2% of
    its payload) to its 8 neighbors, and the focal window is evaluated
    over the (h+2, w+2) halo-padded array.  Seam pixels come out
    bit-identical to a single-array evaluation of the whole mosaic (the
    DuckDB oracle computes exactly that, via separable 3-row + 3-col
    window sums over the global pixel relation).

    Input: warp.reproject output (tile_id = ty*ntx + tx, uniform w/h,
    north-up common grid).  Mosaic-boundary pixels are excluded (global
    interior only), matching the per-tile focal_stats interior rule
    lifted to the mosaic level.

    Scale shape: ONE shuffle of strip rows (keyed to the receiving tile)
    plus the co-partitioning pass of the tiles themselves — and the tile
    side arrives already hash-partitioned on tile_id from the warp's
    groupBy, so in the composed reproject->focal plan only the strips
    move.  Stats: same integer-exact surfaces as focal_stats, with
    GLOBAL pixel weights (gi * W_mosaic + gj + 1)."""
    slim = mosaic.select("tile_id", "bytes", "w", "h", "fmt")

    def _emit(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("tid", "own", "di", "dj", "w", "h", "fmt", "data")}

            def put(tid, own, di, dj, w, h, fmt, data):
                out["tid"].append(int(tid)); out["own"].append(own)
                out["di"].append(di); out["dj"].append(dj)
                out["w"].append(w); out["h"].append(h)
                out["fmt"].append(fmt); out["data"].append(data)

            for t in pdf.itertuples(index=False):
                w, h = int(t.w), int(t.h)
                tx, ty = int(t.tile_id) % ntx, int(t.tile_id) // ntx
                put(t.tile_id, 1, 0, 0, w, h, t.fmt, t.bytes)
                arr = None
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        if (dx, dy) == (0, 0):
                            continue
                        nx_, ny_ = tx + dx, ty + dy
                        if not (0 <= nx_ < ntx and 0 <= ny_ < nty):
                            continue
                        if arr is None:
                            arr = oracle.decode_pixels(t.bytes, w, h, t.fmt)
                        rs = (slice(h - 1, h) if dy == 1
                              else slice(0, 1) if dy == -1 else slice(None))
                        cs = (slice(w - 1, w) if dx == 1
                              else slice(0, 1) if dx == -1 else slice(None))
                        strip = np.ascontiguousarray(arr[rs, cs])
                        put(ny_ * ntx + nx_, 0, dy, dx,
                            strip.shape[1], strip.shape[0], t.fmt,
                            strip.tobytes())
            yield pd.DataFrame(out)

    parts = slim.mapInPandas(_emit, schema=_STRIP_SCHEMA)

    def _assemble(key, pdf: pd.DataFrame):
        tid = int(key[0])
        own = pdf[pdf["own"] == 1]
        if len(own) != 1:
            raise ValueError(f"focal_mosaic: tile {tid} has {len(own)} payload rows")
        o = own.iloc[0]
        w, h = int(o["w"]), int(o["h"])
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}[o["fmt"]]
        arr = np.frombuffer(o["data"], dtype=dt).reshape(h, w)
        pad = np.zeros((h + 2, w + 2), dtype=np.int64)
        pad[1 : h + 1, 1 : w + 1] = arr
        for s in pdf[pdf["own"] == 0].itertuples(index=False):
            sd = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}[s.fmt]
            sa = np.frombuffer(s.data, dtype=sd).reshape(int(s.h), int(s.w))
            # sender direction (di=dy, dj=dx); it sits on our (-dy,-dx) side
            rs = (slice(0, 1) if s.di == 1 else slice(h + 1, h + 2)
                  if s.di == -1 else slice(1, h + 1))
            cs = (slice(0, 1) if s.dj == 1 else slice(w + 1, w + 2)
                  if s.dj == -1 else slice(1, w + 1))
            pad[rs, cs] = sa
        box = sum(
            pad[1 + di : h + 1 + di, 1 + dj : w + 1 + dj]
            for di in (-1, 0, 1)
            for dj in (-1, 0, 1)
        )
        grad = np.abs(pad[1 : h + 1, 2 : w + 2] - pad[1 : h + 1, 0:w]) + np.abs(
            pad[2 : h + 2, 1 : w + 1] - pad[0:h, 1 : w + 1]
        )
        # global-interior mask + global weights
        tx, ty = tid % ntx, tid // ntx
        GW, GH = w * ntx, h * nty
        gi = ty * h + np.arange(h, dtype=np.int64)[:, None]
        gj = tx * w + np.arange(w, dtype=np.int64)[None, :]
        interior = (gi >= 1) & (gi <= GH - 2) & (gj >= 1) & (gj <= GW - 2)
        wt = gi * GW + gj + 1
        n_int = int(interior.sum())
        return pd.DataFrame(
            {
                "tile_id": [tid],
                "n_interior": [n_int],
                "focal_checksum": [int((box * wt * interior).sum())],
                "grad_l1_sum": [int((grad * interior).sum())],
                "grad_max": [int(grad[interior].max()) if n_int else 0],
            }
        )

    return parts.groupBy("tid").applyInPandas(_assemble, schema=_FOCAL_M_SCHEMA)


_D8_SCHEMA = (
    "image_id string, n_interior long, n_flat long, "
    + ", ".join(f"n_d{c} long" for c in (1, 2, 4, 8, 16, 32, 64, 128))
    + ", d8_checksum long"
)

# ESRI D8 codes in PRIORITY order (ties resolve to the first):
# E=1, SE=2, S=4, SW=8, W=16, NW=32, N=64, NE=128
_D8_DIRS = (
    (1, 0, 1, 2), (2, 1, 1, 1), (4, 1, 0, 2), (8, 1, -1, 1),
    (16, 0, -1, 2), (32, -1, -1, 1), (64, -1, 0, 2), (128, -1, 1, 1),
)  # (code, di, dj, score_mult): cardinal drops score 2*drop², diagonal drop²


def flow_direction_stats(tiles: DataFrame) -> DataFrame:
    """D8 flow direction (the ArcGIS/GRASS hydrology primitive) on an
    integer-exact surface: each interior pixel flows toward the
    steepest-descent neighbor.  The 1/√2 diagonal distance is folded
    into the INTEGER score ``s = mult·drop²`` (mult 2 for cardinals, 1
    for diagonals, drops ≤ 0 excluded): for positive drops,
    drop_c/1 > drop_d/√2  ⇔  2·drop_c² > drop_d², so the integer argmax
    equals the float steepest-descent rule exactly.  Ties resolve in
    fixed ESRI code order (E, SE, S, SW, W, NW, N, NE); no positive
    drop ⇒ flat/pit (code 0).

    Emits per-tile direction counts and the position-weighted code
    checksum.  Map-only fused Arrow pass, zero shuffle."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
    count_cols = [f"n_d{c}" for c, *_ in _D8_DIRS]

    def _d8(batches):
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in ["n_interior", "n_flat", *count_cols, "d8_checksum"]:
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for k in range(n):
                key = (int(pdf["w"].iat[k]), int(pdf["h"].iat[k]), pdf["fmt"].iat[k])
                groups.setdefault(key, []).append(k)
            for (w, h, fmt), idx in groups.items():
                if w < 3 or h < 3:
                    continue
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[k] for k in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int64)
                )
                c0 = z[:, 1:-1, 1:-1]
                scores = []
                for _, di, dj, mult in _D8_DIRS:
                    nb = z[:, 1 + di : h - 1 + di, 1 + dj : w - 1 + dj]
                    drop = c0 - nb
                    scores.append(np.where(drop > 0, mult * drop * drop, -1))
                stack = np.stack(scores)  # priority order: argmax -> first max
                best = stack.max(axis=0)
                pick = stack.argmax(axis=0)
                codes = np.array([c for c, *_ in _D8_DIRS], dtype=np.int64)
                code = np.where(best > 0, codes[pick], 0)
                wt = np.arange(1, code[0].size + 1, dtype=np.int64).reshape(
                    h - 2, w - 2
                )
                ii = np.asarray(idx)
                out["n_interior"][ii] = (h - 2) * (w - 2)
                out["n_flat"][ii] = (code == 0).sum(axis=(1, 2))
                for ci, (c, *_rest) in enumerate(_D8_DIRS):
                    out[f"n_d{c}"][ii] = (code == c).sum(axis=(1, 2))
                out["d8_checksum"][ii] = (code * wt).sum(axis=(1, 2))
            yield pd.DataFrame(out)

    return slim.mapInPandas(_d8, schema=_D8_SCHEMA)


_PROX_SCHEMA = (
    "tile_id long, n_feat long, n_reached long, sum_d2 long, d2_checksum long"
)


def proximity_mosaic(
    mosaic: DataFrame, ntx: int, nty: int, radius: int = 4, threshold: int = 250
) -> DataFrame:
    """Windowed proximity raster (``gdal_proximity.py -maxdist`` analog,
    GDAL's distance-to-feature transform; reference analog: the
    ``scipy.ndimage.distance_transform_edt`` call a georaster user runs
    on a loaded ``self.r`` array — SURVEY §0 ⚠, nothing on disk) over a
    TILED COMMON-GRID mosaic with an R-pixel HALO EXCHANGE.

    Per pixel: the minimum SQUARED euclidean distance to any feature
    pixel (value >= threshold) within the (2R+1)^2 Chebyshev window,
    else the sentinel ``2R^2+1`` (strictly greater than any in-window
    squared distance).  Squared distances keep every compared value an
    exact integer — the same cross-engine discipline as focal_mosaic.

    Distribution: distance search crosses tile seams, so each tile ships
    R-px strips (edges + R x R corners) to its 8 neighbors — the focal
    halo generalized from 1 to R pixels — and the transform is evaluated
    on the (h+2R, w+2R) padded array as (2R+1)^2 vectorized shifted-mask
    min passes.  Missing neighbors (mosaic edge or sourceless grid
    tiles) pad as 0 = non-feature, matching the oracle's coalesce(v,0).

    Scale shape: ONE shuffle of strip rows (~2R/h of the payload) keyed
    to the receiving tile; the tile side arrives hash-partitioned on
    tile_id from the warp's groupBy, so composed reproject->proximity
    moves only strips.  Emits per tile: feature count, reached count,
    sum of reached d^2, and the global-position-weighted d^2 checksum
    pinning every pixel's value."""
    if threshold < 1:
        raise ValueError("proximity_mosaic: threshold must be >= 1 (padding is 0)")
    R = int(radius)
    sent = 2 * R * R + 1
    slim = mosaic.select("tile_id", "bytes", "w", "h", "fmt")

    def _emit(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("tid", "own", "di", "dj", "w", "h", "fmt", "data")}

            def put(tid, own, di, dj, w, h, fmt, data):
                out["tid"].append(int(tid)); out["own"].append(own)
                out["di"].append(di); out["dj"].append(dj)
                out["w"].append(w); out["h"].append(h)
                out["fmt"].append(fmt); out["data"].append(data)

            for t in pdf.itertuples(index=False):
                w, h = int(t.w), int(t.h)
                if R > min(w, h):
                    raise ValueError("proximity_mosaic: radius exceeds tile size")
                tx, ty = int(t.tile_id) % ntx, int(t.tile_id) // ntx
                put(t.tile_id, 1, 0, 0, w, h, t.fmt, t.bytes)
                arr = None
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        if (dx, dy) == (0, 0):
                            continue
                        nx_, ny_ = tx + dx, ty + dy
                        if not (0 <= nx_ < ntx and 0 <= ny_ < nty):
                            continue
                        if arr is None:
                            arr = oracle.decode_pixels(t.bytes, w, h, t.fmt)
                        rs = (slice(h - R, h) if dy == 1
                              else slice(0, R) if dy == -1 else slice(None))
                        cs = (slice(w - R, w) if dx == 1
                              else slice(0, R) if dx == -1 else slice(None))
                        strip = np.ascontiguousarray(arr[rs, cs])
                        put(ny_ * ntx + nx_, 0, dy, dx,
                            strip.shape[1], strip.shape[0], t.fmt,
                            strip.tobytes())
            yield pd.DataFrame(out)

    parts = slim.mapInPandas(_emit, schema=_STRIP_SCHEMA)

    def _assemble(key, pdf: pd.DataFrame):
        tid = int(key[0])
        own = pdf[pdf["own"] == 1]
        if len(own) != 1:
            raise ValueError(
                f"proximity_mosaic: tile {tid} has {len(own)} payload rows")
        o = own.iloc[0]
        w, h = int(o["w"]), int(o["h"])
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}[o["fmt"]]
        arr = np.frombuffer(o["data"], dtype=dt).reshape(h, w)
        pad = np.zeros((h + 2 * R, w + 2 * R), dtype=np.int64)
        pad[R : h + R, R : w + R] = arr
        for s in pdf[pdf["own"] == 0].itertuples(index=False):
            sd = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}[s.fmt]
            sa = np.frombuffer(s.data, dtype=sd).reshape(int(s.h), int(s.w))
            # sender direction (di=dy, dj=dx); it sits on our (-dy,-dx) side
            rs = (slice(0, R) if s.di == 1 else slice(h + R, h + 2 * R)
                  if s.di == -1 else slice(R, h + R))
            cs = (slice(0, R) if s.dj == 1 else slice(w + R, w + 2 * R)
                  if s.dj == -1 else slice(R, w + R))
            pad[rs, cs] = sa
        feat = pad >= threshold
        d2 = np.full((h, w), sent, dtype=np.int64)
        for di in range(-R, R + 1):
            for dj in range(-R, R + 1):
                dd = di * di + dj * dj
                m = feat[R + di : R + di + h, R + dj : R + dj + w]
                np.minimum(d2, np.where(m, dd, sent), out=d2)
        tx, ty = tid % ntx, tid // ntx
        GW = w * ntx
        gi = ty * h + np.arange(h, dtype=np.int64)[:, None]
        gj = tx * w + np.arange(w, dtype=np.int64)[None, :]
        wt = gi * GW + gj + 1
        reached = d2 < sent
        return pd.DataFrame(
            {
                "tile_id": [tid],
                "n_feat": [int(feat[R : h + R, R : w + R].sum())],
                "n_reached": [int(reached.sum())],
                "sum_d2": [int(d2[reached].sum())],
                "d2_checksum": [int((d2 * wt).sum())],
            }
        )

    return parts.groupBy("tid").applyInPandas(_assemble, schema=_PROX_SCHEMA)


_FLOW_ACC_SCHEMA = (
    "image_id string, n_interior long, n_sources long, n_outlets long, "
    "total_acc long, max_acc long, acc_checksum long"
)


def flow_accumulation_stats(tiles: DataFrame, k: int = 4) -> DataFrame:
    """Bounded D8 flow accumulation (ArcGIS Flow Accumulation / GRASS
    r.watershed analog; reference analog: the hydrology post-processing a
    georaster user runs on a loaded DEM array — SURVEY §0 ⚠, nothing on
    disk): for each interior pixel, the number of interior pixels whose
    D8 steepest-descent path reaches it in <= k steps (self included, so
    acc >= 1).  k bounds the transitive closure, making the operator a
    fixed-depth iteration with an exactly SQL-expressible oracle
    (recursive CTE with a depth counter) — the unbounded fixpoint is the
    same loop run to quiescence.

    D8 codes come from the identical integer steepest-descent rule as
    flow_direction_stats (2·drop² cardinal vs drop² diagonal, ESRI tie
    order); flow into the 1-px boundary ring leaves the tile (the pixel
    is an outlet), flat/pit pixels (code 0) also terminate paths.

    Emits per tile: interior count, source count (acc == 1: no upstream
    inflow within k), outlet count, total/max accumulation, and the
    position-weighted accumulation checksum pinning every pixel.

    Distribution: map-only fused Arrow pass — the k-step scatter-add
    iteration runs batched across ALL tiles of a (w,h,fmt) group on one
    flat index (np.add.at), zero shuffle, no per-pixel Python."""
    if k < 1:
        raise ValueError("flow_accumulation_stats: k must be >= 1")
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _acc(batches):
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in ("n_interior", "n_sources", "n_outlets",
                      "total_acc", "max_acc", "acc_checksum"):
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for r in range(n):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                if w < 3 or h < 3:
                    continue
                b = len(idx)
                ih, iw = h - 2, w - 2
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )
                c0 = z[:, 1:-1, 1:-1]
                scores = []
                for _, di, dj, mult in _D8_DIRS:
                    nb = z[:, 1 + di : h - 1 + di, 1 + dj : w - 1 + dj]
                    drop = c0 - nb
                    scores.append(np.where(drop > 0, mult * drop * drop, -1))
                stack = np.stack(scores)
                best = stack.max(axis=0)
                pick = stack.argmax(axis=0)
                # interior (0-based) coordinates + D8 step per pixel
                dis = np.array([d[1] for d in _D8_DIRS], dtype=np.int64)
                djs = np.array([d[2] for d in _D8_DIRS], dtype=np.int64)
                ii = np.broadcast_to(
                    np.arange(ih, dtype=np.int64)[None, :, None], (b, ih, iw))
                jj = np.broadcast_to(
                    np.arange(iw, dtype=np.int64)[None, None, :], (b, ih, iw))
                ti = ii + dis[pick]
                tj = jj + djs[pick]
                flows = best > 0
                in_bounds = (ti >= 0) & (ti < ih) & (tj >= 0) & (tj < iw)
                valid = flows & in_bounds          # edge stays inside interior
                outlet = flows & ~in_bounds        # drains into the boundary ring
                bb = np.broadcast_to(
                    np.arange(b, dtype=np.int64)[:, None, None], (b, ih, iw))
                src = (bb * ih * iw + ii * iw + jj)[valid]
                tgt = (bb * ih * iw + ti * iw + tj)[valid]
                acc = np.ones(b * ih * iw, dtype=np.int64)
                for _ in range(k):
                    contrib = np.zeros(b * ih * iw, dtype=np.int64)
                    np.add.at(contrib, tgt, acc[src])
                    acc = 1 + contrib
                acc3 = acc.reshape(b, ih, iw)
                wt = ((ii * iw) + jj + 1)
                rows = np.asarray(idx)
                out["n_interior"][rows] = ih * iw
                out["n_sources"][rows] = (acc3 == 1).sum(axis=(1, 2))
                out["n_outlets"][rows] = outlet.sum(axis=(1, 2))
                out["total_acc"][rows] = acc3.sum(axis=(1, 2))
                out["max_acc"][rows] = acc3.max(axis=(1, 2))
                out["acc_checksum"][rows] = (acc3 * wt).sum(axis=(1, 2))
            yield pd.DataFrame(out)

    return slim.mapInPandas(_acc, schema=_FLOW_ACC_SCHEMA)


_TPI_SCHEMA = (
    "image_id string, n_interior long, n_ridge long, n_valley long, "
    "sum_tpi long, sum_tri long, sum_rough long, tpi_checksum long"
)

_N8 = ((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))


def tpi_terrain_stats(tiles: DataFrame) -> DataFrame:
    """TPI / TRI / roughness terrain metrics (gdaldem TPI/TRI/roughness
    analogs; reference analog: the terrain derivatives a georaster user
    computes from a loaded DEM — SURVEY §0 ⚠, nothing on disk), on the
    integer-exact surface:

    - tpi_num = 8·center − Σ(8 neighbours)   (8× the usual TPI — keeps
      the mean-of-neighbours comparison in exact integers)
    - tri     = Σ|center − neighbour|        (8× Wilson TRI mean)
    - rough   = max(3×3) − min(3×3)          (gdaldem roughness exactly)

    Per tile: interior count, ridge/valley counts (tpi_num >/< 0),
    Σtpi_num, Σtri, Σrough, and the position-weighted tpi checksum.
    Map-only fused Arrow pass, zero shuffle, batched across each
    (w,h,fmt) group."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _tpi(batches):
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in ("n_interior", "n_ridge", "n_valley", "sum_tpi",
                      "sum_tri", "sum_rough", "tpi_checksum"):
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for r in range(n):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                if w < 3 or h < 3:
                    continue
                b = len(idx)
                ih, iw = h - 2, w - 2
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )
                c0 = z[:, 1:-1, 1:-1]
                tpi = 8 * c0
                tri = np.zeros_like(c0)
                mx = c0.copy()
                mn = c0.copy()
                for di, dj in _N8:
                    nb = z[:, 1 + di : h - 1 + di, 1 + dj : w - 1 + dj]
                    tpi -= nb
                    tri += np.abs(c0 - nb)
                    np.maximum(mx, nb, out=mx)
                    np.minimum(mn, nb, out=mn)
                rough = mx - mn
                wt = np.arange(1, ih * iw + 1, dtype=np.int64).reshape(ih, iw)
                rows = np.asarray(idx)
                out["n_interior"][rows] = ih * iw
                out["n_ridge"][rows] = (tpi > 0).sum(axis=(1, 2))
                out["n_valley"][rows] = (tpi < 0).sum(axis=(1, 2))
                out["sum_tpi"][rows] = tpi.sum(axis=(1, 2))
                out["sum_tri"][rows] = tri.sum(axis=(1, 2))
                out["sum_rough"][rows] = rough.sum(axis=(1, 2))
                out["tpi_checksum"][rows] = (tpi * wt).sum(axis=(1, 2))
            yield pd.DataFrame(out)

    return slim.mapInPandas(_tpi, schema=_TPI_SCHEMA)


_XTAB_SCHEMA = "pair_id long, class_a int, class_b int, n_px long"


def crosstab_stats(a: DataFrame, b: DataFrame, key: str, bins: int = 4) -> DataFrame:
    """Zonal crosstab / tabulate-area between two co-registered rasters
    (ArcGIS TabulateArea / GRASS r.stats -c two-map analog; reference
    analog: the `np.histogram2d` a georaster user runs over two loaded
    ``self.r`` arrays — SURVEY §0 ⚠, nothing on disk): per pair, the
    categorical contingency table n_px[class_a][class_b] where each
    pixel's class is v // (256/bins).

    Same join shape as change_detect (equi-join on the pair key —
    shuffle-free when both corpora are bucketed on it); then ONE fused
    Arrow pass per pair computes the whole (bins x bins) table as a
    single vectorized offset-bincount (bincount of bins*ca+cb with
    per-row offsets), never a Python loop over pixels or classes.
    Emits one row per non-empty (pair, class_a, class_b) cell."""
    if not 1 <= bins <= 256:
        raise ValueError("crosstab_stats: bins must be in [1, 256]")
    width = 256 // bins
    j = a.select(key, F.col("bytes").alias("ba"), F.col("fmt").alias("fa")).join(
        b.select(key, F.col("bytes").alias("bb"), F.col("fmt").alias("fb")), key
    )

    def _xtab(batches):
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
        for pdf in batches:
            n = len(pdf)
            groups: dict[tuple, list[int]] = {}
            for k in range(n):
                if len(pdf["ba"].iat[k]) // (2 if pdf["fa"].iat[k] == "raw16" else 1) != len(
                    pdf["bb"].iat[k]
                ) // (2 if pdf["fb"].iat[k] == "raw16" else 1):
                    raise ValueError("crosstab_stats: pixel counts differ within a pair")
                groups.setdefault(
                    (len(pdf["ba"].iat[k]), pdf["fa"].iat[k], pdf["fb"].iat[k]), []
                ).append(k)
            keys_out, ca_out, cb_out, n_out = [], [], [], []
            for (_, f_a, f_b), idx in groups.items():
                m = len(idx)
                va = np.frombuffer(
                    b"".join(pdf["ba"].iat[k] for k in idx), dtype=dt[f_a]
                ).reshape(m, -1).astype(np.int64)
                vb = np.frombuffer(
                    b"".join(pdf["bb"].iat[k] for k in idx), dtype=dt[f_b]
                ).reshape(m, -1).astype(np.int64)
                cell = (va // width) * bins + (vb // width)
                # one flat bincount across the whole group: row r's cells
                # live at offset r*bins*bins
                flat = (
                    np.arange(m, dtype=np.int64)[:, None] * (bins * bins) + cell
                ).ravel()
                counts = np.bincount(flat, minlength=m * bins * bins).reshape(
                    m, bins, bins
                )
                rr, aa, bb2 = np.nonzero(counts)
                keys_out.append(pdf[key].to_numpy()[np.asarray(idx)[rr]])
                ca_out.append(aa)
                cb_out.append(bb2)
                n_out.append(counts[rr, aa, bb2])
            if keys_out:
                yield pd.DataFrame(
                    {
                        "pair_id": np.concatenate(keys_out).astype(np.int64),
                        "class_a": np.concatenate(ca_out).astype(np.int32),
                        "class_b": np.concatenate(cb_out).astype(np.int32),
                        "n_px": np.concatenate(n_out).astype(np.int64),
                    }
                )

    return j.mapInPandas(_xtab, schema=_XTAB_SCHEMA)


_SOBEL_SCHEMA = (
    "image_id string, n_interior long, n_flat long, "
    "n_o0 long, n_o1 long, n_o2 long, n_o3 long, n_o4 long, "
    "n_o5 long, n_o6 long, n_o7 long, grad_l1_sum long, orient_checksum long"
)


def sobel_orientation_stats(tiles: DataFrame) -> DataFrame:
    """Sobel gradient-orientation census (HOG-lite feature extraction —
    the per-image edge/orientation descriptor a training-data curation
    pipeline computes before clustering; reference analog: the
    `scipy.ndimage.sobel` a georaster user runs over ``self.r`` —
    SURVEY §0 ⚠, nothing on disk).

    Integer Sobel gx/gy over the interior, then each pixel is binned
    into one of 8 exact 45-degree octants of atan2(gy, gx) using only
    integer sign/magnitude comparisons (no float angles anywhere):
    normalize to the upper half-plane (flip both signs, +4) so
    theta in [0,180), then sector 0..3 by {gx>0 & gy<gx; gx>0;
    gy>-gx; else}.  gx==gy==0 is 'flat' and joins no octant.

    Per tile: interior count, flat count, 8 octant counts, L1 gradient
    energy sum, and the position-weighted (octant+1) checksum pinning
    every pixel's bin.  Map-only fused Arrow pass, zero shuffle,
    batched per (w,h,fmt) group."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _sobel(batches):
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            cols = ["n_interior", "n_flat"] + [f"n_o{o}" for o in range(8)] + [
                "grad_l1_sum", "orient_checksum"]
            for c in cols:
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for r in range(n):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                if w < 3 or h < 3:
                    continue
                b = len(idx)
                ih, iw = h - 2, w - 2
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )

                def sh(di, dj):
                    return z[:, 1 + di : h - 1 + di, 1 + dj : w - 1 + dj]

                gx = (sh(-1, 1) + 2 * sh(0, 1) + sh(1, 1)) - (
                    sh(-1, -1) + 2 * sh(0, -1) + sh(1, -1)
                )
                gy = (sh(1, -1) + 2 * sh(1, 0) + sh(1, 1)) - (
                    sh(-1, -1) + 2 * sh(-1, 0) + sh(-1, 1)
                )
                flat = (gx == 0) & (gy == 0)
                flip = (gy < 0) | ((gy == 0) & (gx < 0))
                nx = np.where(flip, -gx, gx)
                ny = np.where(flip, -gy, gy)
                sector = np.where(
                    (nx > 0) & (ny < nx), 0,
                    np.where(nx > 0, 1, np.where(ny > -nx, 2, 3)),
                )
                octant = sector + np.where(flip, 4, 0)
                wt = np.arange(1, ih * iw + 1, dtype=np.int64).reshape(ih, iw)
                rows = np.asarray(idx)
                out["n_interior"][rows] = ih * iw
                out["n_flat"][rows] = flat.sum(axis=(1, 2))
                for o in range(8):
                    out[f"n_o{o}"][rows] = (~flat & (octant == o)).sum(axis=(1, 2))
                out["grad_l1_sum"][rows] = (np.abs(gx) + np.abs(gy)).sum(axis=(1, 2))
                out["orient_checksum"][rows] = (
                    np.where(flat, 0, octant + 1) * wt
                ).sum(axis=(1, 2))
            yield pd.DataFrame(out)

    return slim.mapInPandas(_sobel, schema=_SOBEL_SCHEMA)


_OTSU_SCHEMA = (
    "image_id string, otsu_t int, n_below long, n_above long, "
    "sum_below long, sum_above long"
)


def otsu_stats(tiles: DataFrame) -> DataFrame:
    """Per-tile Otsu threshold (the classic global-binarization step a
    georaster user runs on ``self.r`` via skimage ``threshold_otsu``
    before polygonizing — SURVEY §0 ⚠, nothing on disk), made
    bit-for-bit checkable across engines.

    Otsu maximizes the between-class variance
        f(t) = (sT*w0(t) - N*s0(t))^2 / (w0(t)*(N - w0(t)))
    over thresholds t (class "below" = v <= t).  All quantities are
    integers except the quotient, so instead of float math each t gets
    the EXACT order-preserving integer key

        key(t) = floor(a(t)^2 * K / b(t)),   K = (N^2 // 4)^2

    where a = sT*w0 - N*s0 and b = w0*(N-w0) <= N^2/4.  Distinct
    fractions differ by >= 1/(b1*b2) >= 1/K, so their keys differ —
    the argmax (first-max tie-break => smallest t) is identical in
    arbitrary-precision Python ints here and HUGEINT in the DuckDB
    oracle.  a^2 exceeds int64 for 64x64 tiles, hence object-dtype
    (Python-int) NumPy arithmetic over the tiny (tiles x 256) grid —
    never over pixels.

    Scale shape: map-only fused Arrow pass (pixels cross once, output is
    6 slim columns); the 256-bin histogram per tile is one vectorized
    offset-bincount per (w,h,fmt) group.  raw16 inputs are right-shifted
    to 8 bits first (the standard 256-bin Otsu reduction)."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _otsu(batches):
        for pdf in batches:
            n = len(pdf)
            out = {
                "image_id": pdf["image_id"].to_numpy(dtype=object),
                "otsu_t": np.full(n, -1, dtype=np.int32),
            }
            for c in ("n_below", "n_above", "sum_below", "sum_above"):
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for r in range(n):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                b = len(idx)
                N = w * h
                z = np.frombuffer(
                    b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                ).reshape(b, N)
                if fmt == "raw16":
                    z = z >> 8
                z = z.astype(np.int64)
                # (b, 256) histogram as ONE flat bincount with row offsets
                flat = np.arange(b, dtype=np.int64)[:, None] * 256 + z
                cnt = np.bincount(flat.ravel(), minlength=b * 256).reshape(b, 256)
                w0 = np.cumsum(cnt, axis=1)                      # (b, 256)
                s0 = np.cumsum(cnt * np.arange(256), axis=1)
                sT = s0[:, -1:]
                a = sT * w0 - N * s0                             # |a| <= 255*N^2
                bden = w0 * (N - w0)
                K = (N * N // 4) ** 2
                # exact keys on the valid range t in [0, 254], b(t) > 0
                A = a[:, :255].astype(object)
                B = bden[:, :255].astype(object)
                valid = bden[:, :255] > 0
                keys = np.where(valid, A * A * K, -1)
                keys = np.where(valid, keys // np.where(valid, B, 1), -1)
                best = np.argmax(keys, axis=1)                   # first max = smallest t
                rows = np.asarray(idx)
                any_valid = valid.any(axis=1)
                bi = np.arange(b)
                out["otsu_t"][rows] = np.where(any_valid, best, -1).astype(np.int32)
                out["n_below"][rows] = np.where(any_valid, w0[bi, best], 0)
                out["sum_below"][rows] = np.where(any_valid, s0[bi, best], 0)
                out["n_above"][rows] = np.where(any_valid, N - w0[bi, best], 0)
                out["sum_above"][rows] = np.where(
                    any_valid, sT[:, 0] - s0[bi, best], 0
                )
            yield pd.DataFrame(out)

    return slim.mapInPandas(_otsu, schema=_OTSU_SCHEMA)


_MEDIAN_SCHEMA = (
    "image_id string, n_interior long, sum_med long, n_changed long, "
    "med_checksum long"
)


def focal_median_stats(tiles: DataFrame) -> DataFrame:
    """3x3 focal-median census (salt-and-pepper denoise — scipy
    ``median_filter`` over a loaded ``self.r``; SURVEY §0 ⚠).  The
    median of 9 integers is the 5th order statistic — an exact integer,
    so the DuckDB oracle re-derives it as list_sort([...])[5] over the
    ramp formula.  Per tile: interior count, sum of medians, count of
    pixels the filter changes, position-weighted median checksum.

    Scale shape: map-only fused Arrow pass; the 9-element sort runs as
    ONE np.sort over a (tiles, 9, ih, iw) block per (w,h,fmt) group —
    no per-pixel Python."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _med(batches):
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in ("n_interior", "sum_med", "n_changed", "med_checksum"):
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for r in range(n):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                if w < 3 or h < 3:
                    continue
                b = len(idx)
                ih, iw = h - 2, w - 2
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )
                stack = np.stack(
                    [
                        z[:, 1 + di : h - 1 + di, 1 + dj : w - 1 + dj]
                        for di in (-1, 0, 1)
                        for dj in (-1, 0, 1)
                    ],
                    axis=1,
                )  # (b, 9, ih, iw)
                stack.sort(axis=1)
                med = stack[:, 4]
                c0 = z[:, 1:-1, 1:-1]
                wt = np.arange(1, ih * iw + 1, dtype=np.int64).reshape(ih, iw)
                rows = np.asarray(idx)
                out["n_interior"][rows] = ih * iw
                out["sum_med"][rows] = med.sum(axis=(1, 2))
                out["n_changed"][rows] = (med != c0).sum(axis=(1, 2))
                out["med_checksum"][rows] = (med * wt).sum(axis=(1, 2))
            yield pd.DataFrame(out)

    return slim.mapInPandas(_med, schema=_MEDIAN_SCHEMA)


_OPEN_SCHEMA = (
    "image_id string, dir int, horizon_k int, horizon_num long, "
    "n_rising long, ray_checksum long"
)


def openness_stats(tiles: DataFrame) -> DataFrame:
    """8-ray topographic-openness / horizon-angle census (Yokoyama et
    al. 2002 positive openness; gdaldem has no direct analog — a
    georaster user derives it from a loaded DEM.  SURVEY §0 ⚠).

    From the tile center z0 = z[h//2, w//2], along each of the 8
    principal directions, steps k = 1..L (L = distance to the nearest
    edge): the horizon is the step maximizing the elevation angle
    (z_k - z0)/k.  Along a principal ray the per-step ground distance is
    k times a constant (1 or sqrt(2)) which CANCELS inside the ray, so
    the argmax is a pure rational compare — made an exact int64 sort key
    by multiplying through the common denominator D = lcm(1..L):

        key(k) = (z_k - z0) * (D // k)          |key| <= 255 * D < 2^63

    First-max tie-break = smallest k, identical in NumPy and the DuckDB
    oracle's row_number ordering.  No division of signed ints anywhere
    (DuckDB `//` truncates toward zero, Python floors — keys dodge the
    mismatch entirely).

    Output: one row per (tile, dir) with the horizon step, its rise
    z_hor - z0, the count of rising steps, and the rise-weighted ray
    checksum.  Map-only fused Arrow pass."""
    import math

    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _open(batches):
        for pdf in batches:
            groups: dict[tuple, list[int]] = {}
            for r in range(len(pdf)):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            cols: dict[str, list] = {c: [] for c in (
                "image_id", "dir", "horizon_k", "horizon_num", "n_rising",
                "ray_checksum")}
            for (w, h, fmt), idx in groups.items():
                ci, cj = h // 2, w // 2
                L = min(ci, cj, h - 1 - ci, w - 1 - cj)
                if L < 1:
                    continue
                D = math.lcm(*range(1, L + 1))
                m = np.array([D // k for k in range(1, L + 1)], dtype=np.int64)
                ks = np.arange(1, L + 1, dtype=np.int64)
                b = len(idx)
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )
                z0 = z[:, ci, cj][:, None]
                ids = pdf["image_id"].to_numpy(dtype=object)[np.asarray(idx)]
                for d, (di, dj) in enumerate(_N8):
                    p = (
                        z[:, ci + ks * di, cj + ks * dj] - z0
                    )  # (b, L) rises along the ray
                    keys = p * m
                    hor = np.argmax(keys, axis=1)  # first max = smallest k
                    bi = np.arange(b)
                    cols["image_id"].extend(ids)
                    cols["dir"].extend([d] * b)
                    cols["horizon_k"].extend((hor + 1).astype(np.int32))
                    cols["horizon_num"].extend(p[bi, hor])
                    cols["n_rising"].extend((p > 0).sum(axis=1))
                    cols["ray_checksum"].extend((p * ks).sum(axis=1))
            yield pd.DataFrame(cols) if cols["image_id"] else pd.DataFrame(
                {c: [] for c in cols}
            )

    return slim.mapInPandas(_open, schema=_OPEN_SCHEMA)


_VIEW_SCHEMA = (
    "image_id string, dir int, n_visible long, furthest_k int, "
    "first_blocked int, vis_checksum long"
)

VIEWSHED_OBS_H = 2  # observer height above the center cell (elevation units)


def viewshed_stats(tiles: DataFrame) -> DataFrame:
    """8-ray line-of-sight viewshed census (gdal_viewshed analog; the
    classic DEM visibility op a georaster user derives next after
    openness — SURVEY §0 ⚠).  Observer at the tile center, eye level
    zo = z[h//2, w//2] + VIEWSHED_OBS_H; along each principal ray the
    cell at step k is VISIBLE iff its elevation angle strictly exceeds
    every earlier angle on the ray:

        (z_k - zo)/k  >  max_{j<k} (z_j - zo)/j      (k = 1 always seen)

    The per-step ground-distance constant cancels inside a ray (same
    argument as openness_stats), so the compare is exact int64 after
    multiplying through D = lcm(1..L): key(k) = (z_k - zo) * (D // k)
    and visibility is a running-max compare — no signed division
    anywhere, bit-identical in NumPy and the DuckDB window oracle.

    Output per (tile, dir): n_visible, furthest_k (last visible step),
    first_blocked (smallest hidden step; 0 = ray fully visible) and the
    step-weighted visibility checksum pinning the exact visible set.
    Map-only fused Arrow pass, zero shuffle."""
    import math

    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _vs(batches):
        for pdf in batches:
            groups: dict[tuple, list[int]] = {}
            for r in range(len(pdf)):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            cols: dict[str, list] = {c: [] for c in (
                "image_id", "dir", "n_visible", "furthest_k", "first_blocked",
                "vis_checksum")}
            for (w, h, fmt), idx in groups.items():
                ci, cj = h // 2, w // 2
                L = min(ci, cj, h - 1 - ci, w - 1 - cj)
                if L < 1:
                    continue
                D = math.lcm(*range(1, L + 1))
                m = np.array([D // k for k in range(1, L + 1)], dtype=np.int64)
                ks = np.arange(1, L + 1, dtype=np.int64)
                b = len(idx)
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )
                zo = z[:, ci, cj][:, None] + VIEWSHED_OBS_H
                ids = pdf["image_id"].to_numpy(dtype=object)[np.asarray(idx)]
                for d, (di, dj) in enumerate(_N8):
                    p = z[:, ci + ks * di, cj + ks * dj] - zo  # (b, L)
                    keys = p * m
                    run = np.maximum.accumulate(keys, axis=1)
                    vis = np.empty(keys.shape, dtype=bool)
                    vis[:, 0] = True
                    vis[:, 1:] = keys[:, 1:] > run[:, :-1]
                    inv = ~vis
                    fb = np.where(inv.any(axis=1), inv.argmax(axis=1) + 1, 0)
                    # last visible step: vis[:, 0] is always True
                    fur = L - vis[:, ::-1].argmax(axis=1)
                    cols["image_id"].extend(ids)
                    cols["dir"].extend([d] * b)
                    cols["n_visible"].extend(vis.sum(axis=1))
                    cols["furthest_k"].extend(fur.astype(np.int32))
                    cols["first_blocked"].extend(fb.astype(np.int32))
                    cols["vis_checksum"].extend((vis * ks).sum(axis=1))
            yield pd.DataFrame(cols) if cols["image_id"] else pd.DataFrame(
                {c: [] for c in cols}
            )

    return slim.mapInPandas(_vs, schema=_VIEW_SCHEMA)


_STRETCH_SCHEMA = (
    "image_id string, lo long, hi long, n_sat_lo long, n_sat_hi long, "
    "out_sum long, out_checksum long"
)

STRETCH_P_LO = 2   # lower percentile (exact order statistic, not interpolated)
STRETCH_P_HI = 98


def stretch_stats(tiles: DataFrame) -> DataFrame:
    """Percentile contrast stretch (the `gdal_translate -scale` /
    QGIS "cumulative count cut 2–98%" default a georaster user applies
    before display — SURVEY §0 ⚠).  Bounds are EXACT order statistics:
    lo = sorted(v)[n·2//100], hi = sorted(v)[n·98//100] (0-indexed), so
    both engines pick the identical pixel — no interpolated quantile.
    Stretch on an all-integer surface:

        out = 0                         v <= lo   (or hi == lo)
            = 255                       v >= hi
            = (v - lo)·255 // (hi - lo) otherwise

    Emits per image the bounds, saturated-pixel counts and the
    position-weighted checksum pinning every stretched value.
    Map-only fused Arrow pass, zero shuffle; the sort is per-tile
    (n = w·h pixels) inside the executor, never a Spark sort."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _st(batches):
        for pdf in batches:
            groups: dict[tuple, list[int]] = {}
            for r in range(len(pdf)):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            cols: dict[str, list] = {c: [] for c in (
                "image_id", "lo", "hi", "n_sat_lo", "n_sat_hi", "out_sum",
                "out_checksum")}
            for (w, h, fmt), idx in groups.items():
                n = w * h
                klo, khi = n * STRETCH_P_LO // 100, n * STRETCH_P_HI // 100
                b = len(idx)
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, n)
                    .astype(np.int64)
                )
                srt = np.sort(z, axis=1)
                lo, hi = srt[:, klo][:, None], srt[:, khi][:, None]
                rng = hi - lo
                out = np.zeros_like(z)
                mid = (z > lo) & (z < hi) & (rng > 0)
                np.floor_divide((z - lo) * 255, rng, out=out, where=mid)
                out[(z >= hi) & (rng > 0)] = 255
                wt = np.arange(1, n + 1, dtype=np.int64)
                ids = pdf["image_id"].to_numpy(dtype=object)[np.asarray(idx)]
                cols["image_id"].extend(ids)
                cols["lo"].extend(lo[:, 0])
                cols["hi"].extend(hi[:, 0])
                cols["n_sat_lo"].extend((z <= lo).sum(axis=1))
                cols["n_sat_hi"].extend(((z >= hi) & (rng > 0)).sum(axis=1))
                cols["out_sum"].extend(out.sum(axis=1))
                cols["out_checksum"].extend((out * wt).sum(axis=1))
            yield pd.DataFrame(cols) if cols["image_id"] else pd.DataFrame(
                {c: [] for c in cols}
            )

    return slim.mapInPandas(_st, schema=_STRETCH_SCHEMA)


# ---------------------------------------------------------------------------
# Watershed basin labeling (round 3) — D8 pointer jumping
# ---------------------------------------------------------------------------

_WSHED_SCHEMA = (
    "image_id string, n_interior long, n_basins long, "
    "n_interior_sinks long, n_outlet_sinks long, max_basin long, "
    "label_checksum long"
)


def watershed_basins(tiles: DataFrame) -> DataFrame:
    """Watershed / basin delineation (ArcGIS Watershed, GRASS
    r.watershed basins output): every interior pixel is labeled with
    the TERMINAL of its D8 steepest-descent path — an interior flat/pit
    (code 0) or the boundary-ring pixel it drains into.  Labels are
    full-image flat indices i*w + j, so the label set is the basin
    partition.  The D8 rule is the same integer steepest-descent as
    flow_direction_stats (2·drop² cardinal vs drop² diagonal, ESRI tie
    order); values strictly decrease along paths, so they are acyclic
    and <= 255 steps.

    Per tile: basin count, interior-sink vs outlet-sink split, largest
    basin size, and the position-weighted label checksum pinning every
    pixel's basin.

    Plan: map-only fused Arrow pass; the path resolution is POINTER
    JUMPING (ptr = ptr[ptr], ⌈log2 path⌉ = 10 rounds) on one flat
    array batched across all tiles of a (w,h,fmt) group — O(P log P)
    work, no per-pixel Python, zero shuffle."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _wshed(batches):
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in ("n_interior", "n_basins", "n_interior_sinks",
                      "n_outlet_sinks", "max_basin", "label_checksum"):
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for r in range(n):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                if w < 3 or h < 3:
                    continue
                b = len(idx)
                ih, iw = h - 2, w - 2
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )
                c0 = z[:, 1:-1, 1:-1]
                scores = []
                for _, di, dj, mult in _D8_DIRS:
                    nb = z[:, 1 + di : h - 1 + di, 1 + dj : w - 1 + dj]
                    drop = c0 - nb
                    scores.append(np.where(drop > 0, mult * drop * drop, -1))
                stack = np.stack(scores)
                best = stack.max(axis=0)
                pick = stack.argmax(axis=0)
                dis = np.array([d[1] for d in _D8_DIRS], dtype=np.int64)
                djs = np.array([d[2] for d in _D8_DIRS], dtype=np.int64)
                # full-image coordinates of interior pixels + their targets
                ii = np.broadcast_to(
                    np.arange(1, h - 1, dtype=np.int64)[None, :, None], (b, ih, iw))
                jj = np.broadcast_to(
                    np.arange(1, w - 1, dtype=np.int64)[None, None, :], (b, ih, iw))
                flows = best > 0
                ti = np.where(flows, ii + dis[pick], ii)
                tj = np.where(flows, jj + djs[pick], jj)
                # one flat pointer array across the batch: boundary and
                # flat/pit pixels point at themselves (terminals)
                ptr = np.arange(b * h * w, dtype=np.int64).reshape(b, h, w)
                bb = np.broadcast_to(
                    np.arange(b, dtype=np.int64)[:, None, None], (b, ih, iw))
                ptr[:, 1:-1, 1:-1] = bb * h * w + ti * w + tj
                ptr = ptr.ravel()
                for _ in range(10):  # 2^10 = 1024 >= any acyclic path here
                    ptr = ptr[ptr]
                lab = ptr.reshape(b, h, w)[:, 1:-1, 1:-1]
                lab_local = lab - (np.arange(b, dtype=np.int64) * h * w)[:, None, None]
                wt = np.arange(1, ih * iw + 1, dtype=np.int64).reshape(ih, iw)
                rows = np.asarray(idx)
                out["n_interior"][rows] = ih * iw
                out["label_checksum"][rows] = (lab_local * wt).sum(axis=(1, 2))
                for k in range(b):
                    labs, cnts = np.unique(lab_local[k], return_counts=True)
                    is_int = (
                        (labs // w >= 1) & (labs // w <= h - 2)
                        & (labs % w >= 1) & (labs % w <= w - 2)
                    )
                    out["n_basins"][idx[k]] = len(labs)
                    out["n_interior_sinks"][idx[k]] = int(is_int.sum())
                    out["n_outlet_sinks"][idx[k]] = int((~is_int).sum())
                    out["max_basin"][idx[k]] = int(cnts.max())
            yield pd.DataFrame(out)

    return slim.mapInPandas(_wshed, schema=_WSHED_SCHEMA)


# ---------------------------------------------------------------------------
# Downstream flow length (round 3) — D8 pointer jumping with additive weights
# ---------------------------------------------------------------------------

_FLOWLEN_SCHEMA = (
    "image_id string, n_interior long, n_zero long, "
    "max_len long, sum_len long, len_checksum long"
)


def flow_length_stats(tiles: DataFrame) -> DataFrame:
    """Downstream flow length (ArcGIS FlowLength / GRASS r.flow
    lgU — the hydrological drainage-path metric): for every interior
    pixel, the INTEGER length of its D8 steepest-descent path to its
    terminal, with cardinal steps costing 5 and diagonal steps 7
    (5:7 is the classic integer chamfer surrogate for 1:√2 — exact
    integers keep the whole statistic bit-reproducible; upstream
    FlowLength reports cellsize·(1,√2) floats, SURVEY §2.1 ⚠).

    Same D8 rule as flow_direction_stats/watershed_basins (2·drop²
    cardinal vs drop² diagonal, ESRI tie order), so all three
    hydrology ops agree on the drainage graph.

    Per tile: interior count, zero-length pixels (terminals: interior
    flats/pits), the longest drainage path, total length, and the
    position-weighted checksum pinning every pixel's length.

    Plan: map-only fused Arrow pass; POINTER JUMPING with additive
    weights (dist += dist[ptr]; ptr = ptr[ptr], 10 rounds) over one
    flat array batched across each (w,h,fmt) group — O(P log P) work,
    zero shuffle, no per-pixel Python."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _flen(batches):
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in ("n_interior", "n_zero", "max_len", "sum_len",
                      "len_checksum"):
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for r in range(n):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                if w < 3 or h < 3:
                    continue
                b = len(idx)
                ih, iw = h - 2, w - 2
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )
                c0 = z[:, 1:-1, 1:-1]
                scores = []
                for _, di, dj, mult in _D8_DIRS:
                    nb = z[:, 1 + di : h - 1 + di, 1 + dj : w - 1 + dj]
                    drop = c0 - nb
                    scores.append(np.where(drop > 0, mult * drop * drop, -1))
                stack = np.stack(scores)
                best = stack.max(axis=0)
                pick = stack.argmax(axis=0)
                dis = np.array([d[1] for d in _D8_DIRS], dtype=np.int64)
                djs = np.array([d[2] for d in _D8_DIRS], dtype=np.int64)
                # chamfer step cost: cardinal (score mult 2) = 5, diagonal = 7
                costs = np.array(
                    [5 if d[3] == 2 else 7 for d in _D8_DIRS], dtype=np.int64)
                ii = np.broadcast_to(
                    np.arange(1, h - 1, dtype=np.int64)[None, :, None], (b, ih, iw))
                jj = np.broadcast_to(
                    np.arange(1, w - 1, dtype=np.int64)[None, None, :], (b, ih, iw))
                flows = best > 0
                ti = np.where(flows, ii + dis[pick], ii)
                tj = np.where(flows, jj + djs[pick], jj)
                ptr = np.arange(b * h * w, dtype=np.int64).reshape(b, h, w)
                bb = np.broadcast_to(
                    np.arange(b, dtype=np.int64)[:, None, None], (b, ih, iw))
                ptr[:, 1:-1, 1:-1] = bb * h * w + ti * w + tj
                ptr = ptr.ravel()
                dist = np.zeros(b * h * w, dtype=np.int64).reshape(b, h, w)
                dist[:, 1:-1, 1:-1] = np.where(flows, costs[pick], 0)
                dist = dist.ravel()
                for _ in range(10):  # doubles covered path length per round
                    dist = dist + dist[ptr]
                    ptr = ptr[ptr]
                fl = dist.reshape(b, h, w)[:, 1:-1, 1:-1]
                wt = np.arange(1, ih * iw + 1, dtype=np.int64).reshape(ih, iw)
                rows = np.asarray(idx)
                out["n_interior"][rows] = ih * iw
                out["n_zero"][rows] = (fl == 0).sum(axis=(1, 2))
                out["max_len"][rows] = fl.max(axis=(1, 2))
                out["sum_len"][rows] = fl.sum(axis=(1, 2))
                out["len_checksum"][rows] = (fl * wt).sum(axis=(1, 2))
            yield pd.DataFrame(out)

    return slim.mapInPandas(_flen, schema=_FLOWLEN_SCHEMA)


# ---------------------------------------------------------------------------
# Fixed-point bilinear resize (round 3) — gdalwarp -r bilinear upsample
# ---------------------------------------------------------------------------


_CURV_SCHEMA = (
    "image_id string, n_interior long, lap_sum long, lap_abs_sum long, "
    "n_convex long, n_concave long, zxy_sq_sum long, lap_checksum long"
)


def curvature_stats(tiles: DataFrame) -> DataFrame:
    """Zevenbergen & Thorne (1987) second-derivative terrain curvature
    (`gdaldem`-family analog; upstream georaster exposes only the raw
    array — SURVEY §2.1 ⚠) as integer-exact per-tile surfaces the
    DuckDB oracle re-derives from the ramp formula.

    Interior stencils (unnormalized numerators — the cellsize^2 factor
    is a constant scale):
      zxx  = z[i,j-1] - 2 z[i,j] + z[i,j+1]
      zyy  = z[i-1,j] - 2 z[i,j] + z[i+1,j]
      zxy4 = z[i+1,j+1] + z[i-1,j-1] - z[i-1,j+1] - z[i+1,j-1]
      lap  = zxx + zyy        (Laplacian = -2 * Z-T general curvature)

    Surfaces (all int64-exact): lap_sum, lap_abs_sum, strict-sign
    convex/concave censuses (lap < 0 / lap > 0), zxy_sq_sum, and the
    position-weighted lap_checksum pinning every interior value.

    Scale shape: map-only fused mapInPandas — zero shuffle; stencils in
    int16/int32 (bandwidth-bound kernels), sums accumulate int64."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")

    def _curv(batches):
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
        cols = (
            "n_interior", "lap_sum", "lap_abs_sum", "n_convex",
            "n_concave", "zxy_sq_sum", "lap_checksum",
        )
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in cols:
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for k in range(n):
                key = (int(pdf["w"].iat[k]), int(pdf["h"].iat[k]), pdf["fmt"].iat[k])
                groups.setdefault(key, []).append(k)
            for (w, h, fmt), idx in groups.items():
                if w < 3 or h < 3:
                    continue
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[k] for k in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int16)
                )
                c = z[:, 1:-1, 1:-1].astype(np.int32)
                zxx = z[:, 1:-1, :-2] - 2 * c + z[:, 1:-1, 2:]
                zyy = z[:, :-2, 1:-1] - 2 * c + z[:, 2:, 1:-1]
                zxy4 = (
                    z[:, 2:, 2:].astype(np.int32) + z[:, :-2, :-2]
                    - z[:, :-2, 2:] - z[:, 2:, :-2]
                )
                lap = zxx + zyy
                wt = np.arange(1, (h - 2) * (w - 2) + 1, dtype=np.int64).reshape(
                    h - 2, w - 2
                )
                ii = np.asarray(idx)
                out["n_interior"][ii] = (h - 2) * (w - 2)
                out["lap_sum"][ii] = lap.sum(axis=(1, 2), dtype=np.int64)
                out["lap_abs_sum"][ii] = np.abs(lap).sum(axis=(1, 2), dtype=np.int64)
                out["n_convex"][ii] = (lap < 0).sum(axis=(1, 2))
                out["n_concave"][ii] = (lap > 0).sum(axis=(1, 2))
                out["zxy_sq_sum"][ii] = (
                    (zxy4.astype(np.int64) ** 2).sum(axis=(1, 2))
                )
                out["lap_checksum"][ii] = np.einsum(
                    "bij,ij->b", lap.astype(np.int64), wt
                )
            yield pd.DataFrame(out)

    return slim.mapInPandas(_curv, schema=_CURV_SCHEMA)


_HORIZON_SCHEMA = (
    "image_id string, n_px long, n_shadow long, shadow_checksum long"
)

# Sun ray tangent NUM/DEN (rise per 1-px westward step needed to shadow).
HORIZON_NUM = 3
HORIZON_DEN = 2


def horizon_shadow_stats(tiles: DataFrame) -> DataFrame:
    """Cast-shadow census along the west->east sun ray (GRASS
    `r.horizon` / `r.sun` shadow test; upstream georaster users run it
    over ``self.r`` — SURVEY §2.1 ⚠), integer-exact: pixel (i, j) is
    shadowed iff some pixel k < j on its row rises above the sun ray,
    i.e. (z[i,k] - z[i,j]) * DEN > (j - k) * NUM.

    The test linearizes: with s = z*DEN + col*NUM it is exactly
    ``max_{k<j} s[i,k] > s[i,j]`` — a running maximum, O(w) per row
    (np.maximum.accumulate), and a plain window MAX OVER (... ROWS
    UNBOUNDED PRECEDING TO 1 PRECEDING) on the oracle side.  No pair
    blowup on either engine.

    Scale shape: map-only fused mapInPandas — zero shuffle."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")

    def _horizon(batches):
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in ("n_px", "n_shadow", "shadow_checksum"):
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for k in range(n):
                key = (int(pdf["w"].iat[k]), int(pdf["h"].iat[k]), pdf["fmt"].iat[k])
                groups.setdefault(key, []).append(k)
            for (w, h, fmt), idx in groups.items():
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[k] for k in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int32)
                )
                s = z * HORIZON_DEN + np.arange(w, dtype=np.int32) * HORIZON_NUM
                runmax = np.maximum.accumulate(s, axis=2)
                shadowed = np.zeros_like(s, dtype=bool)
                shadowed[:, :, 1:] = runmax[:, :, :-1] > s[:, :, 1:]
                wt = np.arange(1, h * w + 1, dtype=np.int64).reshape(h, w)
                ii = np.asarray(idx)
                out["n_px"][ii] = h * w
                out["n_shadow"][ii] = shadowed.sum(axis=(1, 2))
                out["shadow_checksum"][ii] = np.einsum(
                    "bij,ij->b", shadowed.astype(np.int64), wt
                )
            yield pd.DataFrame(out)

    return slim.mapInPandas(_horizon, schema=_HORIZON_SCHEMA)


# --- 2-level Haar S-transform census ---------------------------------------------


# --- bounded-round cost distance ---------------------------------------------------
COST_ROUNDS = 4
COST_INF = 1 << 40


def cost_distance(tiles: DataFrame) -> DataFrame:
    """Bounded-round accumulated-cost distance (ArcGIS CostDistance /
    GRASS r.cost, 4-connected min-plus form): from a seed at the tile
    center, COST_ROUNDS rounds of dist = min(dist, min_nbr(dist) +
    v + 1) — entering a pixel costs its value + 1, so the relaxation is
    a Bellman-Ford step on the grid graph and after k rounds exactly
    the k-hop cost-ball is settled (bounded-round Bellman-Ford,
    per-tile).

    Census per tile: pixels reached, Σ accumulated cost, max reached
    cost, and the position checksum over reached pixels.

    Scale shape: map-only fused mapInPandas — each relaxation round is
    five vectorized shifted-slice mins on the whole batch block; zero
    shuffle."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")

    def _cost(batches):
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
        cols = ("n_reached", "cost_sum", "cost_max", "cost_checksum")
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in cols:
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for k in range(n):
                key = (int(pdf["w"].iat[k]), int(pdf["h"].iat[k]), pdf["fmt"].iat[k])
                groups.setdefault(key, []).append(k)
            for (w, h, fmt), idx in groups.items():
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[k] for k in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int64)
                )
                enter = z + 1
                d = np.full_like(z, COST_INF)
                d[:, h // 2, w // 2] = 0
                for _ in range(COST_ROUNDS):
                    p = np.pad(d, ((0, 0), (1, 1), (1, 1)), constant_values=COST_INF)
                    best = d
                    for di, dj in ((-1, 0), (1, 0), (0, -1), (0, 1)):
                        nb = p[:, 1 + di : 1 + di + h, 1 + dj : 1 + dj + w]
                        best = np.minimum(best, nb + enter)
                    d = best
                reached = d < COST_INF
                ii = np.asarray(idx)
                wt = (
                    np.arange(h, dtype=np.int64)[:, None] * w
                    + np.arange(w, dtype=np.int64)[None, :]
                    + 1
                )
                out["n_reached"][ii] = reached.sum(axis=(1, 2))
                out["cost_sum"][ii] = np.where(reached, d, 0).sum(axis=(1, 2))
                out["cost_max"][ii] = np.where(reached, d, 0).max(axis=(1, 2))
                out["cost_checksum"][ii] = np.einsum(
                    "bij,ij->b", np.where(reached, d, 0), wt
                )
            yield pd.DataFrame(out)

    return slim.mapInPandas(
        _cost,
        schema=(
            "image_id string, n_reached long, cost_sum long, cost_max long, "
            "cost_checksum long"
        ),
    )


# --- chamfer 3-4 distance transform ----------------------------------------------------

CHAMFER_THRESH = 8  # feature pixels: v < CHAMFER_THRESH
_CHAMFER_INF = np.int64(1) << 30


def chamfer_stats(tiles: DataFrame, thresh: int = CHAMFER_THRESH) -> DataFrame:
    """Chamfer 3-4 distance transform census (Borgefors 1986) — the
    distance-to-nearest-feature map driving proximity masks, morphology
    halos and seeded segmentation: per tile, the exact weighted-path
    distance from every pixel to the nearest dark pixel (v < thresh),
    orthogonal step 3 / diagonal step 4.  For the 3x3 mask the classic
    forward+backward raster scan pair is EXACT, and the metric has the
    closed form d(p) = 3*max(|di|,|dj|) + min(|di|,|dj|) over feature
    offsets — which is what the DuckDB oracle replays as a pixel x
    feature MIN join (tiles with zero features drop out on both sides).
    Emits per tile: feature count, sum/max of distances, and the
    position-weighted distance checksum.

    Scale shape: map-only fused Arrow pass, pixels cross once.  The
    raster scans are sequential in the scan direction by nature; they
    run as h*(w+1) numpy steps vectorized across the whole Arrow batch
    of tiles (not per-pixel Python), so cost stays O(pixels) per task
    with batch-level SIMD."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _scan(d: np.ndarray) -> None:
        """In-place forward+backward chamfer relaxation, d: (b, h, w)."""
        b, h, w = d.shape
        for i in range(h):  # forward pass
            if i > 0:
                up = d[:, i - 1, :]
                np.minimum(d[:, i, :], up + 3, out=d[:, i, :])
                np.minimum(d[:, i, 1:], up[:, :-1] + 4, out=d[:, i, 1:])
                np.minimum(d[:, i, :-1], up[:, 1:] + 4, out=d[:, i, :-1])
            row = d[:, i, :]
            for j in range(1, w):
                np.minimum(row[:, j], row[:, j - 1] + 3, out=row[:, j])
        for i in range(h - 1, -1, -1):  # backward pass
            if i < h - 1:
                dn = d[:, i + 1, :]
                np.minimum(d[:, i, :], dn + 3, out=d[:, i, :])
                np.minimum(d[:, i, 1:], dn[:, :-1] + 4, out=d[:, i, 1:])
                np.minimum(d[:, i, :-1], dn[:, 1:] + 4, out=d[:, i, :-1])
            row = d[:, i, :]
            for j in range(w - 2, -1, -1):
                np.minimum(row[:, j], row[:, j + 1] + 3, out=row[:, j])

    def _chamfer(batches):
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in ("n_feat", "sum_d", "max_d", "d_checksum"):
                out[c] = np.zeros(n, dtype=np.int64)
            keep = np.zeros(n, dtype=bool)
            groups: dict[tuple, list[int]] = {}
            for r in range(n):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                b = len(idx)
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )
                feat = z < thresh
                nf = feat.sum(axis=(1, 2))
                d = np.where(feat, np.int64(0), _CHAMFER_INF)
                _scan(d)
                wt = np.arange(1, h * w + 1, dtype=np.int64).reshape(h, w)
                rows = np.asarray(idx)
                has = nf > 0
                keep[rows] = has
                out["n_feat"][rows] = nf
                d[~has] = 0  # no feature: row dropped below
                out["sum_d"][rows] = d.sum(axis=(1, 2))
                out["max_d"][rows] = d.max(axis=(1, 2))
                out["d_checksum"][rows] = (d * wt).sum(axis=(1, 2))
            pdf_out = pd.DataFrame(out)
            yield pdf_out[keep]

    return slim.mapInPandas(
        _chamfer,
        schema="image_id string, n_feat long, sum_d long, max_d long, d_checksum long",
    )


# --- bilateral LUT filter --------------------------------------------------------------

# spatial kernel (Gaussian-ish integer weights) and intensity LUT on
# |dv| // 32 buckets: the edge-preserving smoother every denoise
# pipeline runs; all-integer so both engines agree bit-for-bit.
_BILAT_SPATIAL = (1, 2, 1, 2, 4, 2, 1, 2, 1)  # row-major 3x3
_BILAT_RANGE = (8, 4, 2, 1, 0, 0, 0, 0)  # index |dv| >> 5


def bilateral_stats(tiles: DataFrame) -> DataFrame:
    """3x3 bilateral-filter census — edge-preserving smoothing with a
    separable integer model: weight(tap) = spatial[tap] *
    range_lut[|v_tap - v_center| // 32], out = floor(sum(w*v)/sum(w)).
    The center tap always contributes 4*8=32, so the denominator is
    never zero and floor division over nonnegative ints is exact and
    engine-agnostic.  Emits per tile (interior pixels): count, sum of
    filtered values, count of changed pixels, position-weighted
    checksum.

    Scale shape: map-only fused Arrow pass, one hop, vectorized
    9-tap gather over the whole batch; output is 5 slim columns."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
    rng = np.asarray(_BILAT_RANGE, dtype=np.int64)

    def _bilat(batches):
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in ("n_interior", "sum_out", "n_changed", "out_checksum"):
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for r in range(n):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                if w < 3 or h < 3:
                    continue
                b = len(idx)
                ih, iw = h - 2, w - 2
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )
                c0 = z[:, 1 : h - 1, 1 : w - 1]
                num = np.zeros_like(c0)
                den = np.zeros_like(c0)
                for k, (di, dj) in enumerate(
                    (di, dj) for di in (-1, 0, 1) for dj in (-1, 0, 1)
                ):
                    v = z[:, 1 + di : h - 1 + di, 1 + dj : w - 1 + dj]
                    wgt = _BILAT_SPATIAL[k] * rng[np.abs(v - c0) >> 5]
                    num += wgt * v
                    den += wgt
                o = num // den
                wt = np.arange(1, ih * iw + 1, dtype=np.int64).reshape(ih, iw)
                rows = np.asarray(idx)
                out["n_interior"][rows] = ih * iw
                out["sum_out"][rows] = o.sum(axis=(1, 2))
                out["n_changed"][rows] = (o != c0).sum(axis=(1, 2))
                out["out_checksum"][rows] = (o * wt).sum(axis=(1, 2))
            yield pd.DataFrame(out)

    return slim.mapInPandas(
        _bilat,
        schema=(
            "image_id string, n_interior long, sum_out long,"
            " n_changed long, out_checksum long"
        ),
    )


# --- Perona-Malik anisotropic diffusion -------------------------------------------------

_ANISO_G = (8, 5, 3, 2, 1, 1, 0, 0)  # conductance LUT on min(|dv| // 32, 7)
ANISO_ITERS = 2


def aniso_stats(tiles: DataFrame, iters: int = ANISO_ITERS) -> DataFrame:
    """Perona-Malik anisotropic diffusion census (Perona & Malik, PAMI
    1990) — the edge-aware smoother classical denoising runs before
    thresholding: per pixel, flux = sum over 4-neighbors of
    g(|dv|)*dv with a conductance LUT g = _ANISO_G[min(|dv|//32, 7)]
    (low conductance across strong edges), update
    v' = v + floor(flux/16), iterated ANISO_ITERS times with
    edge-replicate boundaries (boundary flux 0).  All-integer with an
    explicit float-floor division (numpy floor_divide == floor(x/16.0)
    in SQL — DuckDB's native // truncates toward zero on negatives, the
    signed-division hazard SURVEY §7.6 catalogues).  Census per tile:
    pixel count, sum of diffused values, count changed vs input,
    position-weighted checksum.

    Scale shape: map-only fused Arrow pass; each iteration is four
    vectorized shifted-difference adds over the whole batch, pixels
    cross the boundary once."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
    g = np.asarray(_ANISO_G, dtype=np.int64)

    def _step(v: np.ndarray) -> np.ndarray:
        flux = np.zeros_like(v)
        for axis, shift in ((1, 1), (1, -1), (2, 1), (2, -1)):
            nb = np.roll(v, shift, axis=axis)
            # edge-replicate: the rolled-in wrap row/col equals the edge
            if axis == 1 and shift == 1:
                nb[:, 0, :] = v[:, 0, :]
            elif axis == 1 and shift == -1:
                nb[:, -1, :] = v[:, -1, :]
            elif axis == 2 and shift == 1:
                nb[:, :, 0] = v[:, :, 0]
            else:
                nb[:, :, -1] = v[:, :, -1]
            d = nb - v
            flux += g[np.minimum(np.abs(d) >> 5, 7)] * d
        return v + np.floor_divide(flux, 16)

    def _aniso(batches):
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in ("n_px", "sum_out", "n_changed", "out_checksum"):
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for r in range(n):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                b = len(idx)
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )
                v = z
                for _ in range(iters):
                    v = _step(v)
                wt = np.arange(1, h * w + 1, dtype=np.int64).reshape(h, w)
                rows = np.asarray(idx)
                out["n_px"][rows] = h * w
                out["sum_out"][rows] = v.sum(axis=(1, 2))
                out["n_changed"][rows] = (v != z).sum(axis=(1, 2))
                out["out_checksum"][rows] = (v * wt).sum(axis=(1, 2))
            yield pd.DataFrame(out)

    return slim.mapInPandas(
        _aniso,
        schema=(
            "image_id string, n_px long, sum_out long,"
            " n_changed long, out_checksum long"
        ),
    )


# --- adaptive local-mean threshold ------------------------------------------------------

ATHRESH_R = 7    # box radius -> 15x15 window, edge-truncated
ATHRESH_C = 24   # offset in 16ths of a level: fg iff v < mean - C/16


def adaptive_threshold_stats(tiles: DataFrame) -> DataFrame:
    """Adaptive local-mean thresholding census (the Bradley/Roth
    integral-image binarization every document/scene segmentation
    pipeline runs when global Otsu fails under illumination gradients):
    a pixel is FOREGROUND iff v < boxmean - C/16 over its edge-truncated
    (2R+1)^2 window, evaluated exactly in integers as
    16*v*n + C*n - 16*s < 0 (n = window pixel count, s = window sum).
    Box sums come from separable prefix-sum passes — the same two
    1-D cumulative windows the DuckDB twin runs as SQL window frames.
    Census per tile: pixel count, foreground count, foreground
    position-checksum, and the total of all window sums.

    Scale shape: map-only fused Arrow pass; the box filter is two
    cumsum sweeps per batch (O(pixels), no 225-tap gather)."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
    R, C = ATHRESH_R, ATHRESH_C

    def _box(z: np.ndarray) -> np.ndarray:
        """Edge-truncated box sum over the last two axes via cumsum."""
        b, h, w = z.shape
        cs = np.cumsum(z, axis=1)
        top = np.clip(np.arange(h) - R - 1, -1, h - 1)
        bot = np.clip(np.arange(h) + R, 0, h - 1)
        col = cs[:, bot, :] - np.where(
            (top >= 0)[None, :, None], cs[:, np.maximum(top, 0), :], 0
        )
        cs2 = np.cumsum(col, axis=2)
        lef = np.clip(np.arange(w) - R - 1, -1, w - 1)
        rig = np.clip(np.arange(w) + R, 0, w - 1)
        return cs2[:, :, rig] - np.where(
            (lef >= 0)[None, None, :], cs2[:, :, np.maximum(lef, 0)], 0
        )

    def _fn(batches):
        for pdf in batches:
            n_rows = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in ("n_px", "n_fg", "fg_checksum", "box_sum_total"):
                out[c] = np.zeros(n_rows, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for r in range(n_rows):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                b = len(idx)
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )
                s = _box(z)
                n = _box(np.ones_like(z))
                fg = 16 * z * n + C * n - 16 * s < 0
                wt = np.arange(1, h * w + 1, dtype=np.int64).reshape(h, w)
                rows = np.asarray(idx)
                out["n_px"][rows] = h * w
                out["n_fg"][rows] = fg.sum(axis=(1, 2))
                out["fg_checksum"][rows] = (fg * wt).sum(axis=(1, 2))
                out["box_sum_total"][rows] = s.sum(axis=(1, 2))
            yield pd.DataFrame(out)

    return slim.mapInPandas(
        _fn,
        schema=(
            "image_id string, n_px long, n_fg long,"
            " fg_checksum long, box_sum_total long"
        ),
    )


# --- projective (homography) warp -------------------------------------------------------

# integer homography (row-major [[a,b,c],[d,e,f],[g,h,k]]): target pixel
# (i=row, j=col) gathers source (v=row, u=col) with
#   u = floor((a*j + b*i + c) / den),  v = floor((d*j + e*i + f) / den),
#   den = g*j + h*i + k  (positive over the whole grid by construction)
HOMOG_H = (1000, 20, 500, -15, 980, 300, 1, 2, 1100)


def homography_stats(tiles: DataFrame) -> DataFrame:
    """Projective warp census — the perspective (homography) resample of
    registration/rectification pipelines, the projective superset of the
    affine warp (warp.reproject) : every target pixel maps through an
    integer 3x3 homography, the rational source coordinate floors to a
    nearest-neighbor gather, out-of-range gathers clamp to the edge (and
    are counted).  The projective divide stays exact across engines:
    floor(num/den) with den > 0 is numpy floor_divide on one side and
    float floor on the other (exact for these magnitudes — quotients of
    int32-scale rationals never round across an integer).  Census per
    tile: n_px, sum of warped values, count of out-of-bounds gathers,
    position-weighted checksum.

    Scale shape: map-only fused Arrow pass; the (u, v) gather grids are
    computed once per (w, h) group and broadcast across the batch."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
    a, b_, c, d, e, f, g, h_, k = HOMOG_H

    def _fn(batches):
        for pdf in batches:
            n_rows = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for col in ("n_px", "sum_out", "n_oob", "out_checksum"):
                out[col] = np.zeros(n_rows, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for r in range(n_rows):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                i = np.arange(h, dtype=np.int64)[:, None]
                j = np.arange(w, dtype=np.int64)[None, :]
                den = g * j + h_ * i + k
                u = np.floor_divide(a * j + b_ * i + c, den)
                v = np.floor_divide(d * j + e * i + f, den)
                oob = (u < 0) | (u > w - 1) | (v < 0) | (v > h - 1)
                uc = np.clip(u, 0, w - 1)
                vc = np.clip(v, 0, h - 1)
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int64)
                )
                warped = z[:, vc, uc]  # fancy-gather broadcast over batch
                wt = np.arange(1, h * w + 1, dtype=np.int64).reshape(h, w)
                rows = np.asarray(idx)
                out["n_px"][rows] = h * w
                out["sum_out"][rows] = warped.sum(axis=(1, 2))
                out["n_oob"][rows] = int(oob.sum())
                out["out_checksum"][rows] = (warped * wt).sum(axis=(1, 2))
            yield pd.DataFrame(out)

    return slim.mapInPandas(
        _fn,
        schema=(
            "image_id string, n_px long, sum_out long,"
            " n_oob long, out_checksum long"
        ),
    )


def edt_stats(tiles: DataFrame, thresh: int = CHAMFER_THRESH) -> DataFrame:
    """EXACT squared-Euclidean distance transform census (Felzenszwalb
    & Huttenlocher 2004, scipy distance_transform_edt**2 analog) — the
    true-metric companion to chamfer_stats: per tile, for every pixel
    the exact min over feature pixels (v < thresh) of
    (di)^2 + (dj)^2, all integer so every engine agrees bit-for-bit.
    Decomposes separably: phase 1 per column is the 1D nearest-feature
    scan (min |di|, then squared — exact in 1D); phase 2 per row takes
    min_c(g[., c] + (j - c)^2).  Emits the same census columns as
    chamfer_stats, so the chamfer 3-4 approximation error is directly
    auditable by diffing the two queries.

    Scale shape: map-only fused Arrow pass; phase 1 is 2h vectorized
    relaxation steps, phase 2 is w vectorized min-reductions — O(w^2 h)
    per tile with batch-level SIMD, no shuffle, slim output."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
    BIG = np.int64(1) << 40

    def _edt(batches):
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in ("n_feat", "sum_d2", "max_d2", "d2_checksum"):
                out[c] = np.zeros(n, dtype=np.int64)
            keep = np.zeros(n, dtype=bool)
            groups: dict[tuple, list[int]] = {}
            for r in range(n):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                b = len(idx)
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )
                feat = z < thresh
                nf = feat.sum(axis=(1, 2))
                # phase 1: per-column 1D city-block scan, then square
                r1 = np.where(feat, np.int64(0), np.int64(h + 1))
                for i in range(1, h):
                    np.minimum(r1[:, i, :], r1[:, i - 1, :] + 1, out=r1[:, i, :])
                for i in range(h - 2, -1, -1):
                    np.minimum(r1[:, i, :], r1[:, i + 1, :] + 1, out=r1[:, i, :])
                g = np.where(r1 > h, BIG, r1 * r1)
                # phase 2: per-row min over columns of g + (j-c)^2
                cc = np.arange(w, dtype=np.int64)
                d2 = np.empty_like(g)
                for j in range(w):
                    d2[:, :, j] = (g + (j - cc)[None, None, :] ** 2).min(axis=2)
                wt = np.arange(1, h * w + 1, dtype=np.int64).reshape(h, w)
                rows = np.asarray(idx)
                has = nf > 0
                keep[rows] = has
                d2[~has] = 0
                out["n_feat"][rows] = nf
                out["sum_d2"][rows] = d2.sum(axis=(1, 2))
                out["max_d2"][rows] = d2.max(axis=(1, 2))
                out["d2_checksum"][rows] = (d2 * wt).sum(axis=(1, 2))
            pdf_out = pd.DataFrame(out)
            yield pdf_out[keep]

    return slim.mapInPandas(
        _edt,
        schema=(
            "image_id string, n_feat long, sum_d2 long, "
            "max_d2 long, d2_checksum long"
        ),
    )


# H.264/AVC 4x4 forward integer core transform (ITU-T H.264 8.5.10,
# Malvar et al. 2003): C = T A T^T, exact in int64.
_INT_T = np.array(
    [[1, 1, 1, 1], [2, 1, -1, -2], [1, -1, -1, 1], [1, -2, 2, -1]],
    dtype=np.int64,
)


def int_transform_stats(tiles: DataFrame) -> DataFrame:
    """H.264-style 4x4 integer transform census — the DCT-approximant
    block transform video codecs run in pure integer arithmetic
    precisely so every decoder agrees bit-for-bit (the same property
    this gate needs): per tile, apply C = T A T^T to every 4x4 block
    and emit the coefficient census — block count, sum |DC|, sum |AC|,
    max |AC|, and the (coefficient, block)-position-weighted checksum.
    Complements wht_energy (Walsh-Hadamard): same family, but with the
    1-2-1 frequency weighting of the real codec transform.

    Scale shape: map-only fused Arrow pass; the transform is one
    einsum over the whole batch, no shuffle, slim output."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _tx(batches):
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            cols = ("n_blocks", "sum_dc_abs", "sum_ac_abs", "max_ac_abs",
                    "coef_checksum")
            for c in cols:
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for r in range(n):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                b = len(idx)
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(b, h, w)
                    .astype(np.int64)
                )
                hb, wb = h // 4, w // 4
                zc = z[:, : hb * 4, : wb * 4].reshape(b, hb, 4, wb, 4)
                c = np.einsum("ui,bhiwj,vj->bhwuv", _INT_T, zc, _INT_T)
                ac = np.abs(c)
                dc = ac[..., 0, 0]
                rows = np.asarray(idx)
                out["n_blocks"][rows] = hb * wb
                out["sum_dc_abs"][rows] = dc.sum(axis=(1, 2))
                out["sum_ac_abs"][rows] = ac.sum(axis=(1, 2, 3, 4)) - dc.sum(
                    axis=(1, 2)
                )
                acm = ac.copy()
                acm[..., 0, 0] = 0
                out["max_ac_abs"][rows] = acm.max(axis=(1, 2, 3, 4))
                uvw = (
                    np.arange(4)[:, None] * 4 + np.arange(4)[None, :] + 1
                )  # (u,v) weight
                blkw = (
                    np.arange(hb)[:, None] * wb + np.arange(wb)[None, :] + 1
                )
                out["coef_checksum"][rows] = np.einsum(
                    "bhwuv,uv,hw->b", ac, uvw, blkw
                )
            yield pd.DataFrame(out)

    return slim.mapInPandas(
        _tx,
        schema=(
            "image_id string, n_blocks long, sum_dc_abs long, "
            "sum_ac_abs long, max_ac_abs long, coef_checksum long"
        ),
    )


def cdf53_census(tiles: DataFrame) -> DataFrame:
    """One-level 2D CDF 5/3 integer lifting wavelet census (the
    reversible transform of JPEG 2000 lossless, ITU-T T.800 / Le Gall
    5/3): per tile, the exact integer subband coefficients after
    row-then-column lifting with whole-point symmetric extension
    (x[-1] ≡ x[1], x[N] ≡ x[N-2]):

        d[k] = x[2k+1] − ⌊(x[2k] + x[2k+2]) / 2⌋         (predict)
        s[k] = x[2k]   + ⌊(d[k−1] + d[k] + 2) / 4⌋        (update)

    Floors of negative values are arithmetic shifts (>>) in NumPy and
    floor(x/2.0) in the DuckDB twin (DuckDB's integer // truncates —
    the signed-division hazard SURVEY §7.6 catalogues).  Emits per tile and subband
    (LL, LH, HL, HH — vertical smooth/detail of the horizontal
    smooth/detail): coefficient count, exact sum, L1 energy, and the
    position-weighted checksum.

    Scale shape: map-only fused Arrow pass — decode + both lifting
    directions vectorized across the whole tile batch; 16 slim rows
    out per 4 tiles, pixels never shuffle."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _lift_rows(t: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """5/3 lifting along axis 1 of (b, n, m) int64 arrays."""
        e, o = t[:, 0::2, :], t[:, 1::2, :]
        en = np.concatenate([e[:, 1:, :], e[:, -1:, :]], axis=1)
        d = o - ((e + en) >> 1)
        dp = np.concatenate([d[:, :1, :], d[:, :-1, :]], axis=1)
        s = e + ((dp + d + 2) >> 2)
        return s, d

    def gen(batches):
        for pdf in batches:
            ids, bands, ns, sums, l1s, cks = [], [], [], [], [], []
            groups: dict[tuple, list[int]] = {}
            for r in range(len(pdf)):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int64)
                )
                # horizontal lifting along j: transpose so axis 1 = j
                s, d = _lift_rows(z.transpose(0, 2, 1))
                s, d = s.transpose(0, 2, 1), d.transpose(0, 2, 1)  # (b, h, w/2)
                ll, lh = _lift_rows(s)   # vertical smooth/detail of s
                hl, hh = _lift_rows(d)   # vertical smooth/detail of d
                for band, v in (("LL", ll), ("LH", lh), ("HL", hl), ("HH", hh)):
                    b, m, k = v.shape
                    t = (np.arange(m * k, dtype=np.int64) + 1).reshape(m, k)
                    ids.extend(pdf["image_id"].iat[r] for r in idx)
                    bands.extend([band] * b)
                    ns.extend([m * k] * b)
                    sums.extend(v.sum(axis=(1, 2)).tolist())
                    l1s.extend(np.abs(v).sum(axis=(1, 2)).tolist())
                    cks.extend(np.einsum("nij,ij->n", v, t).tolist())
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "band": bands,
                    "n_coef": np.asarray(ns, dtype=np.int64),
                    "coef_sum": np.asarray(sums, dtype=np.int64),
                    "l1_energy": np.asarray(l1s, dtype=np.int64),
                    "checksum": np.asarray(cks, dtype=np.int64),
                }
            )

    schema = (
        "image_id string, band string, n_coef long, coef_sum long, "
        "l1_energy long, checksum long"
    )
    return slim.mapInPandas(gen, schema=schema)


NTT_P = 257          # Fermat prime F3; pixel values 0..256 embed losslessly
NTT_G = 3            # primitive root of GF(257); w_n = 3^(256/n) has order n


def ntt_census(tiles: DataFrame) -> DataFrame:
    """Row-wise number-theoretic transform census (NTT over GF(257),
    twiddle w_n = 3^(256/n) of order n = row length, any n | 256 — the
    exact-arithmetic FFT of Schönhage-Strassen multiplication and
    lattice-crypto kernels): per tile row the forward NTT
    V[k] = Σ_j v[j]·w_n^(jk) mod 257, evaluated as one definitional
    O(n²) matmul against the twiddle table (no butterfly — exactness
    and cross-engine identity beat the log factor at tile widths).

    Emits per tile: dc_sum = Σ_i V[i,0] (row sums mod p), the exact
    coefficient energy Σ V², and the position-weighted coefficient
    checksum — an integer spectral fingerprint with zero float
    anywhere.

    Scale shape: map-only fused Arrow pass, one batched int64 matmul
    (accumulator bound 32·256·256 ≈ 2.1e6) per tile batch; 1 slim row
    out per tile."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def _twiddle(n: int) -> np.ndarray:
        base = pow(NTT_G, 256 // n, NTT_P)
        jk = np.outer(np.arange(n, dtype=np.int64), np.arange(n, dtype=np.int64))
        return np.asarray(
            [[pow(base, int(e) % n, NTT_P) for e in row] for row in jk],
            dtype=np.int64,
        )

    def gen(batches):
        for pdf in batches:
            ids, dcs, ens, cks = [], [], [], []
            groups: dict[tuple, list[int]] = {}
            for r in range(len(pdf)):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idx in groups.items():
                if 256 % w != 0:  # twiddle order must divide 256
                    continue
                W = _twiddle(w)
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int64)
                )
                v = (z @ W) % NTT_P          # (b, h, w) NTT of every row
                t = (np.arange(h * w, dtype=np.int64) + 1).reshape(h, w)
                ids.extend(pdf["image_id"].iat[r] for r in idx)
                dcs.extend(v[:, :, 0].sum(axis=1).tolist())
                ens.extend((v * v).sum(axis=(1, 2)).tolist())
                cks.extend(np.einsum("nij,ij->n", v, t).tolist())
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "dc_sum": np.asarray(dcs, dtype=np.int64),
                    "energy": np.asarray(ens, dtype=np.int64),
                    "checksum": np.asarray(cks, dtype=np.int64),
                }
            )

    schema = "image_id string, dc_sum long, energy long, checksum long"
    return slim.mapInPandas(gen, schema=schema)


HAMMING_FLIP_MOD = 3


def hamming_code_census(tiles: DataFrame) -> DataFrame:
    """Hamming(7,4) ECC syndrome census (the single-error-correcting
    code of ECC RAM and storage-scrub audits): each pixel's low nibble
    encodes to the standard 7-bit codeword (parity bits at positions
    1,2,4 covering {3,5,7}, {3,6,7}, {5,6,7}), a deterministic channel
    flips one bit of every third word (position (i·7+j·5+idx) mod 7
    + 1 when (i·31+j·17+idx) mod HAMMING_FLIP_MOD == 0), and the
    decoder's recomputed syndrome must name exactly the flipped
    position and 0 elsewhere.  Emits per tile: words, flipped words,
    the syndrome sum (= Σ flipped positions — the scrub report), and
    the position-weighted syndrome checksum.

    Scale shape: map-only fused Arrow pass; XORs are vectorized
    mod-2 sums over the whole batch; 1 slim row per tile."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def gen(batches):
        for pdf in batches:
            ids, nw, nf, ss, ck = [], [], [], [], []
            groups: dict[tuple, list[int]] = {}
            for r in range(len(pdf)):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idxs in groups.items():
                for r in idxs:
                    import re as _re

                    m = _re.search(r"(\d+)$", pdf["image_id"].iat[r])
                    idx = int(m.group(1))
                    z = (
                        np.frombuffer(pdf["bytes"].iat[r], dtype=dt[fmt])
                        .reshape(h, w)
                        .astype(np.int64)
                    )
                    ii, jj = np.meshgrid(
                        np.arange(h, dtype=np.int64),
                        np.arange(w, dtype=np.int64),
                        indexing="ij",
                    )
                    d0, d1 = z & 1, (z >> 1) & 1
                    d2, d3 = (z >> 2) & 1, (z >> 3) & 1
                    p1 = (d0 + d1 + d3) & 1
                    p2 = (d0 + d2 + d3) & 1
                    p4 = (d1 + d2 + d3) & 1
                    # bits by position 1..7
                    bits = np.stack([p1, p2, d0, p4, d1, d2, d3])  # (7,h,w)
                    flip = ((ii * 31 + jj * 17 + idx) % HAMMING_FLIP_MOD) == 0
                    pos = (ii * 7 + jj * 5 + idx) % 7  # 0..6 -> position-1
                    for b in range(7):
                        bits[b] = bits[b] ^ (flip & (pos == b))
                    r1, r2, r3, r4, r5, r6, r7 = bits
                    s1 = (r1 + r3 + r5 + r7) & 1
                    s2 = (r2 + r3 + r6 + r7) & 1
                    s4 = (r4 + r5 + r6 + r7) & 1
                    syn = s1 + 2 * s2 + 4 * s4
                    t = (np.arange(h * w, dtype=np.int64) + 1).reshape(h, w)
                    ids.append(pdf["image_id"].iat[r])
                    nw.append(h * w)
                    nf.append(int(flip.sum()))
                    ss.append(int(syn.sum()))
                    ck.append(int((syn * t).sum()))
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "n_words": np.asarray(nw, dtype=np.int64),
                    "n_flipped": np.asarray(nf, dtype=np.int64),
                    "syndrome_sum": np.asarray(ss, dtype=np.int64),
                    "syndrome_checksum": np.asarray(ck, dtype=np.int64),
                }
            )

    schema = (
        "image_id string, n_words long, n_flipped long, "
        "syndrome_sum long, syndrome_checksum long"
    )
    return slim.mapInPandas(gen, schema=schema)


def png_filter_census(tiles: DataFrame) -> DataFrame:
    """PNG filter-selection census (the per-row predictor choice of
    every PNG encoder — RFC 2083 filters None/Sub/Up/Average/Paeth
    with the libpng minimum-sum-of-absolute-differences heuristic):
    per tile row, each filter's residual r = (x − pred) mod 256 taken
    as signed bytes, the row picks the filter with the smallest |r|
    sum (ties to the lower filter id), and the census reports per tile
    how many rows chose each filter plus the total chosen score — the
    compressibility fingerprint an encoder would realize.

    Average uses the PNG floor((a+b)/2); Paeth the exact
    nearest-of-{a,b,c} to a+b−c with the a≤b≤c tie order.  All
    integers; the oracle replays every predictor and the argmin from
    the ramp closed form.

    Scale shape: map-only fused Arrow pass, 1 slim row per tile."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}

    def gen(batches):
        for pdf in batches:
            ids = []
            cnts = [[] for _ in range(5)]
            scores = []
            groups: dict[tuple, list[int]] = {}
            for r in range(len(pdf)):
                key = (int(pdf["w"].iat[r]), int(pdf["h"].iat[r]), pdf["fmt"].iat[r])
                groups.setdefault(key, []).append(r)
            for (w, h, fmt), idxs in groups.items():
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[r] for r in idxs), dtype=dt[fmt]
                    )
                    .reshape(len(idxs), h, w)
                    .astype(np.int64)
                )
                a = np.zeros_like(z); a[:, :, 1:] = z[:, :, :-1]
                b = np.zeros_like(z); b[:, 1:, :] = z[:, :-1, :]
                c = np.zeros_like(z); c[:, 1:, 1:] = z[:, :-1, :-1]
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                paeth = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                )
                preds = [np.zeros_like(z), a, b, (a + b) >> 1, paeth]
                rowscores = []
                for pr in preds:
                    res = (z - pr) % 256
                    res = np.where(res > 127, res - 256, res)
                    rowscores.append(np.abs(res).sum(axis=2))  # (n, h)
                S = np.stack(rowscores)                        # (5, n, h)
                choice = np.argmin(S, axis=0)                  # ties -> lowest id
                chosen_score = np.take_along_axis(
                    S, choice[None], axis=0
                )[0]                                           # (n, h)
                for bi, r in enumerate(idxs):
                    ids.append(pdf["image_id"].iat[r])
                    for f in range(5):
                        cnts[f].append(int((choice[bi] == f).sum()))
                    scores.append(int(chosen_score[bi].sum()))
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    **{f"n_f{f}": np.asarray(cnts[f], dtype=np.int64) for f in range(5)},
                    "chosen_score": np.asarray(scores, dtype=np.int64),
                }
            )

    schema = (
        "image_id string, n_f0 long, n_f1 long, n_f2 long, n_f3 long, "
        "n_f4 long, chosen_score long"
    )
    return slim.mapInPandas(gen, schema=schema)


# --- RLSA run-length smearing (document layout analysis) -----------------------

_RLSA_C = 4
_RLSA_SCHEMA = (
    "image_id string, n_fg_before long, n_fg_after long,"
    " n_flipped long, rlsa_checksum long"
)


def rlsa_smear(tiles: DataFrame) -> DataFrame:
    """Horizontal Run-Length Smoothing Algorithm census (Wong, Casey &
    Wahl 1982 — the document-layout-analysis primitive that merges
    characters into words/lines): foreground = value >= 128; a
    background pixel flips to foreground when the gap between its
    bounding same-row foreground pixels is <= C = 4.  Surfaces per
    tile: foreground before/after, flips, and the position checksum of
    the smeared bitmap.

    Scale shape: map-only fused mapInPandas — zero shuffle; prev/next
    foreground positions are running max/min accumulations along the
    row axis over the whole batch block."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")

    def _rlsa(batches):
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
        cols = ("n_fg_before", "n_fg_after", "n_flipped", "rlsa_checksum")
        big = 1 << 30
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in cols:
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for k in range(n):
                key = (int(pdf["w"].iat[k]), int(pdf["h"].iat[k]), pdf["fmt"].iat[k])
                groups.setdefault(key, []).append(k)
            for (w, h, fmt), idx in groups.items():
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[k] for k in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int64)
                )
                fg = z >= 128
                jj = np.arange(w, dtype=np.int64)[None, None, :]
                last = np.maximum.accumulate(np.where(fg, jj, -big), axis=2)
                nxt = np.minimum.accumulate(
                    np.where(fg, jj, big)[:, :, ::-1], axis=2
                )[:, :, ::-1]
                gap = nxt - last - 1
                flip = (~fg) & (last >= 0) & (nxt < big) & (gap <= _RLSA_C)
                sm = fg | flip
                wt = (
                    np.arange(h, dtype=np.int64)[:, None] * w
                    + np.arange(w, dtype=np.int64)[None, :]
                    + 1
                )
                ii = np.asarray(idx)
                out["n_fg_before"][ii] = fg.sum(axis=(1, 2))
                out["n_fg_after"][ii] = sm.sum(axis=(1, 2))
                out["n_flipped"][ii] = flip.sum(axis=(1, 2))
                out["rlsa_checksum"][ii] = np.einsum(
                    "bij,ij->b", sm.astype(np.int64), wt
                )
            yield pd.DataFrame(out)

    return slim.mapInPandas(_rlsa, schema=_RLSA_SCHEMA)


# --- Block Truncation Coding census --------------------------------------------

_BTC_B = 4
_BTC_SCHEMA = (
    "image_id string, n_blocks long, bits_ones long,"
    " sum_lo long, sum_hi long, btc_checksum long"
)


def btc_encode(tiles: DataFrame) -> DataFrame:
    """Block Truncation Coding census (Delp & Mitchell 1979, the
    2-level-per-block codec behind early video and the conceptual
    parent of S3TC/DXT texture compression): per 4x4 block, pixels
    split at the block mean (integer compare: 16*v >= sum); the two
    reconstruction levels are the floor means of each side (the
    integer BTC variant — preserves the block mean up to floor), and
    the census emits per tile the popcount of the bitmap, the level
    sums, and a position checksum over the reconstructed image.

    Scale shape: map-only fused mapInPandas; block sums are a
    reshape-sum, no shuffle."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")
    B = _BTC_B

    def _btc(batches):
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
        cols = ("n_blocks", "bits_ones", "sum_lo", "sum_hi", "btc_checksum")
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in cols:
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for k in range(n):
                key = (int(pdf["w"].iat[k]), int(pdf["h"].iat[k]), pdf["fmt"].iat[k])
                groups.setdefault(key, []).append(k)
            for (w, h, fmt), idx in groups.items():
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[k] for k in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int64)
                )
                nb, hb, wb = len(idx), h // B, w // B
                blocks = (
                    z[:, : hb * B, : wb * B]
                    .reshape(nb, hb, B, wb, B)
                    .transpose(0, 1, 3, 2, 4)
                    .reshape(nb, hb, wb, B * B)
                )
                bsum = blocks.sum(axis=3, keepdims=True)
                hi_mask = (B * B) * blocks >= bsum
                n_hi = hi_mask.sum(axis=3)
                n_lo = B * B - n_hi
                hi_sum = np.where(hi_mask, blocks, 0).sum(axis=3)
                lo_sum = np.where(~hi_mask, blocks, 0).sum(axis=3)
                lo_lvl = np.where(n_lo > 0, lo_sum // np.maximum(n_lo, 1), 0)
                hi_lvl = np.where(n_hi > 0, hi_sum // np.maximum(n_hi, 1), 0)
                recon = np.where(
                    hi_mask,
                    hi_lvl[..., None],
                    lo_lvl[..., None],
                )
                rimg = (
                    recon.reshape(nb, hb, wb, B, B)
                    .transpose(0, 1, 3, 2, 4)
                    .reshape(nb, hb * B, wb * B)
                )
                wt = (
                    np.arange(hb * B, dtype=np.int64)[:, None] * w
                    + np.arange(wb * B, dtype=np.int64)[None, :]
                    + 1
                )
                ii = np.asarray(idx)
                out["n_blocks"][ii] = hb * wb
                out["bits_ones"][ii] = hi_mask.sum(axis=(1, 2, 3))
                out["sum_lo"][ii] = lo_lvl.sum(axis=(1, 2))
                out["sum_hi"][ii] = hi_lvl.sum(axis=(1, 2))
                out["btc_checksum"][ii] = np.einsum("bij,ij->b", rimg, wt)
            yield pd.DataFrame(out)

    return slim.mapInPandas(_btc, schema=_BTC_SCHEMA)


# --- Schmitt-trigger hysteresis census -----------------------------------------

_SCHMITT_LO = 96
_SCHMITT_HI = 160
_SCHMITT_SCHEMA = (
    "image_id string, n_high long, n_transitions long, schmitt_checksum long"
)


def schmitt_census(tiles: DataFrame) -> DataFrame:
    """Schmitt-trigger hysteresis census (the comparator-with-memory
    of every debounced sensor pipeline, applied along tile rows):
    state rises when v >= 160, falls when v < 96, and HOLDS between —
    so the state at j is decided by the most recent crossing, which is
    a running max over the encoded event stream 2*j + rise_bit (no
    sequential scan: latest-event-wins is order-monotone).  Per tile:
    pixels in the high state, state transitions (the debounced edge
    count), and the position checksum of the state bitmap.

    Scale shape: map-only fused mapInPandas; running maxima along the
    row axis over the whole batch block."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")

    def _schmitt(batches):
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
        cols = ("n_high", "n_transitions", "schmitt_checksum")
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in cols:
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for k in range(n):
                key = (int(pdf["w"].iat[k]), int(pdf["h"].iat[k]), pdf["fmt"].iat[k])
                groups.setdefault(key, []).append(k)
            for (w, h, fmt), idx in groups.items():
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[k] for k in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int64)
                )
                ev = np.where(z >= _SCHMITT_HI, 1, np.where(z < _SCHMITT_LO, -1, 0))
                jj = np.arange(w, dtype=np.int64)[None, None, :]
                code = np.where(ev != 0, 2 * jj + (ev == 1), -1)
                last = np.maximum.accumulate(code, axis=2)
                state = np.where(last >= 0, last % 2, 0)
                trans = (state[:, :, 1:] != state[:, :, :-1]).sum(axis=(1, 2))
                trans = trans + (state[:, :, 0] == 1).sum(axis=1)
                wt = (
                    np.arange(h, dtype=np.int64)[:, None] * w
                    + np.arange(w, dtype=np.int64)[None, :]
                    + 1
                )
                ii = np.asarray(idx)
                out["n_high"][ii] = state.sum(axis=(1, 2))
                out["n_transitions"][ii] = trans
                out["schmitt_checksum"][ii] = np.einsum("bij,ij->b", state, wt)
            yield pd.DataFrame(out)

    return slim.mapInPandas(_schmitt, schema=_SCHMITT_SCHEMA)


# --- structure-tensor moment census --------------------------------------------

_ST_SCHEMA = (
    "image_id string, jxx long, jyy long, jxy long,"
    " anisotropy2 long, n_interior long"
)


def structure_tensor(tiles: DataFrame) -> DataFrame:
    """Structure-tensor moment census (the Harris/Förstner local
    geometry primitive, aggregated per tile): central-difference
    gradients on interior pixels, the integer tensor moments
    Jxx = sum gx^2, Jyy = sum gy^2, Jxy = sum gx*gy, and the EXACT
    squared eigenvalue gap (lam1 - lam2)^2 = (Jxx - Jyy)^2 + 4*Jxy^2 —
    the anisotropy surface (edge-ness vs corner-ness) without any
    eigensolver or square root.

    Scale shape: map-only fused mapInPandas; gradients are shifted
    slices over the batch block."""
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")

    def _st(batches):
        dt = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}
        cols = ("jxx", "jyy", "jxy", "anisotropy2", "n_interior")
        for pdf in batches:
            n = len(pdf)
            out = {"image_id": pdf["image_id"].to_numpy(dtype=object)}
            for c in cols:
                out[c] = np.zeros(n, dtype=np.int64)
            groups: dict[tuple, list[int]] = {}
            for k in range(n):
                key = (int(pdf["w"].iat[k]), int(pdf["h"].iat[k]), pdf["fmt"].iat[k])
                groups.setdefault(key, []).append(k)
            for (w, h, fmt), idx in groups.items():
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[k] for k in idx), dtype=dt[fmt]
                    )
                    .reshape(len(idx), h, w)
                    .astype(np.int64)
                )
                gx = z[:, 1:-1, 2:] - z[:, 1:-1, :-2]
                gy = z[:, 2:, 1:-1] - z[:, :-2, 1:-1]
                jxx = (gx * gx).sum(axis=(1, 2))
                jyy = (gy * gy).sum(axis=(1, 2))
                jxy = (gx * gy).sum(axis=(1, 2))
                ii = np.asarray(idx)
                out["jxx"][ii] = jxx
                out["jyy"][ii] = jyy
                out["jxy"][ii] = jxy
                out["anisotropy2"][ii] = (jxx - jyy) ** 2 + 4 * jxy * jxy
                out["n_interior"][ii] = (h - 2) * (w - 2)
            yield pd.DataFrame(out)

    return slim.mapInPandas(_st, schema=_ST_SCHEMA)
