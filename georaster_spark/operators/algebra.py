"""Per-tile raster kernels of the rows INVENTORY.md lists as
"unplaced": chamfer and exact Euclidean distance transforms, bilateral
and Perona-Malik smoothing, adaptive and Schmitt thresholds, a
homography warp, the H.264 integer transform, CDF 5/3, NTT, Hamming and
PNG-filter censuses, RLSA smearing, block truncation coding and the
structure tensor.  Reference analog: the NumPy a georaster user runs
over loaded rasters' ``self.r`` arrays (`georaster/georaster.py ::
SingleBandRaster.__init__` eager-load ≈L620-700 ⚠ UNVERIFIED, SURVEY
§0), lifted to distributed passes over tile corpora.

Scale shape: every kernel is ONE fused ``mapInPandas`` pass over the
georegistered tiles, so pixels cross the JVM->Python Arrow boundary
exactly once, only per-tile integer statistics come back, and nothing
pixel-sized is shuffled or materialized between stages.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

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
