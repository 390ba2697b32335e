"""NumPy executable spec ("the oracle") for every engine primitive.

Written FIRST, per SURVEY.md §7.1 M0: this module is the normative
single-node semantics that the distributed Spark operators and the
DuckDB oracle SQL must both reproduce.  Reference semantics lifted from
the public GeoUtils/georaster API (georaster/georaster.py ::
__Raster.coord_to_px / value_at_coords / interp / _load_ds — citations
are ≈line-band UNVERIFIED, /root/reference was empty at survey time;
see SURVEY.md §0).  Normative deviations (documented there):

* coord_to_px uses floor of the corner-relative fraction + clamp to
  [0, n-1]  (upstream np.round is a flagged parity risk).
* interp is pixel-center bilinear with edge clamp (upstream scipy
  map_coordinates constant-0 out-of-range is a flagged parity risk).

Everything here is pure NumPy / stdlib — no Spark, no GDAL, no scipy.
"""

from __future__ import annotations

import math

import numpy as np

from .constants import (
    BASE_OFF,
    DOMAIN,
    GRID_W,
    HOT_ANCHORS,
    HOT_EVERY,
    HOT_PHASE,
    JITTER_AX,
    JITTER_AY,
    JITTER_HALF,
    JITTER_MOD,
    MAX_RES,
    QNT_STEP,
    RES_SHIFT,
    TILE_SPAN,
)

# ---------------------------------------------------------------------------
# GQK cell index (SURVEY.md §1.2) — hierarchical quadkey over the fixed
# engine domain.  Row-major packing keeps it plain-SQL-expressible.
# ---------------------------------------------------------------------------


def cell_encode(x, y, r: int):
    """World (x, y) -> cell id at resolution r.  Vectorized.

    ix = clamp(floor(x / s), 0, 2^r - 1), s = DOMAIN / 2^r
    iy = clamp(floor((DOMAIN - y) / s), 0, 2^r - 1)   (v axis points down)
    cell = r * 2^58 + iy * 2^r + ix
    """
    s = float(DOMAIN >> r) if r <= MAX_RES else DOMAIN / (1 << r)
    n = (1 << r) - 1
    ix = np.clip(np.floor(np.asarray(x, dtype=np.float64) / s), 0, n).astype(np.int64)
    iy = np.clip(np.floor((DOMAIN - np.asarray(y, dtype=np.float64)) / s), 0, n).astype(np.int64)
    return (np.int64(r) << RES_SHIFT) + (iy << r) + ix


def cell_decode(cell):
    """cell id -> (r, ix, iy).  Vectorized."""
    cell = np.asarray(cell, dtype=np.int64)
    r = (cell >> RES_SHIFT).astype(np.int64)
    rest = cell - (r << RES_SHIFT)
    ix = rest & ((np.int64(1) << r) - 1)
    iy = rest >> r
    return r, ix, iy


def cell_bounds(cell):
    """cell id -> (xmin, xmax, ymin, ymax) world box."""
    r, ix, iy = cell_decode(cell)
    s = DOMAIN / np.power(2.0, r)
    xmin = ix * s
    ymax = DOMAIN - iy * s
    return xmin, xmin + s, ymax - s, ymax


def cell_parent(cell):
    r, ix, iy = cell_decode(cell)
    rp = r - 1
    return (rp << RES_SHIFT) + ((iy >> 1) << rp) + (ix >> 1)


def cell_children(cell) -> np.ndarray:
    r, ix, iy = cell_decode(np.asarray(cell).reshape(())[()])
    rc = int(r) + 1
    out = []
    for dy in (0, 1):
        for dx in (0, 1):
            out.append((rc << RES_SHIFT) + ((int(iy) * 2 + dy) << rc) + (int(ix) * 2 + dx))
    return np.asarray(out, dtype=np.int64)


def cell_neighbors(cell, ring: int = 1) -> np.ndarray:
    """All cells within Chebyshev distance `ring` (incl. self), clamped at
    the domain edge; sorted ascending (deterministic)."""
    r, ix, iy = cell_decode(np.asarray(cell).reshape(())[()])
    r, ix, iy = int(r), int(ix), int(iy)
    n = (1 << r) - 1
    out = set()
    for dy in range(-ring, ring + 1):
        for dx in range(-ring, ring + 1):
            jx, jy = ix + dx, iy + dy
            if 0 <= jx <= n and 0 <= jy <= n:
                out.add((r << RES_SHIFT) + (jy << r) + jx)
    return np.asarray(sorted(out), dtype=np.int64)


def cell_cover(xmin, xmax, ymin, ymax, r: int):
    """All cells at res r touched by the closed-open box
    [xmin, xmax) x (ymin, ymax] — row-major, ascending (deterministic).

    Vectorized over rows; returns a list of int64 arrays.
    """
    s = float(DOMAIN >> r)
    n = (1 << r) - 1
    xmin = np.atleast_1d(np.asarray(xmin, dtype=np.float64))
    xmax = np.atleast_1d(np.asarray(xmax, dtype=np.float64))
    ymin = np.atleast_1d(np.asarray(ymin, dtype=np.float64))
    ymax = np.atleast_1d(np.asarray(ymax, dtype=np.float64))
    ix0 = np.clip(np.floor(xmin / s), 0, n).astype(np.int64)
    # open upper edge: a box ending exactly on a cell boundary does not
    # touch the next cell -> use nextafter-style epsilon-free rule:
    ix1 = np.clip(np.ceil(xmax / s) - 1, 0, n).astype(np.int64)
    iy0 = np.clip(np.floor((DOMAIN - ymax) / s), 0, n).astype(np.int64)
    iy1 = np.clip(np.ceil((DOMAIN - ymin) / s) - 1, 0, n).astype(np.int64)
    ix1 = np.maximum(ix1, ix0)
    iy1 = np.maximum(iy1, iy0)
    out = []
    base = np.int64(r) << RES_SHIFT
    for a0, a1, b0, b1 in zip(ix0, ix1, iy0, iy1):
        iys, ixs = np.meshgrid(np.arange(b0, b1 + 1), np.arange(a0, a1 + 1), indexing="ij")
        out.append((base + (iys.ravel() << r) + ixs.ravel()).astype(np.int64))
    return out


# ---------------------------------------------------------------------------
# Deterministic fixture synthesis (FIXTURES.md) — georegistration E1.
# Pure integer arithmetic in idx so DuckDB SQL reproduces it exactly.
# ---------------------------------------------------------------------------


def georegister(idx, w):
    """idx (int array), w (pixel width array) -> dict of geo columns.

    gt_yres is stored POSITIVE; ymax = gt_y0, ymin = gt_y0 - h*gt_yres
    (north-up convention, SURVEY.md §1.1 R7).
    """
    idx = np.asarray(idx, dtype=np.int64)
    w = np.asarray(w, dtype=np.int64)
    gx = idx % GRID_W
    gy = idx // GRID_W
    jx = (idx * JITTER_AX) % JITTER_MOD - JITTER_HALF
    jy = (idx * JITTER_AY) % JITTER_MOD - JITTER_HALF
    x0 = (TILE_SPAN * gx + jx + BASE_OFF).astype(np.float64)
    y0 = (TILE_SPAN * (gy + 1) + jy + BASE_OFF).astype(np.float64)
    hot = (idx % HOT_EVERY) == HOT_PHASE
    hk = (idx // HOT_EVERY) % 3
    ax = np.asarray([a[0] for a in HOT_ANCHORS], dtype=np.float64)
    ay = np.asarray([a[1] for a in HOT_ANCHORS], dtype=np.float64)
    x0 = np.where(hot, ax[hk] + (idx % 97), x0)
    y0 = np.where(hot, ay[hk] + (idx % 89), y0)
    xres = TILE_SPAN / w
    return {
        "gt_x0": x0,
        "gt_y0": y0,
        "gt_xres": xres,
        "gt_yres": xres,  # square pixels in the fixture
    }


def ramp_coeffs(idx):
    """Per-image pixel-ramp coefficients, arithmetic in idx (FIXTURES.md §1)."""
    idx = np.asarray(idx, dtype=np.int64)
    a = (idx * 7) % 13 + 1
    b = (idx * 11) % 17 + 1
    c = idx % 251
    return a, b, c


def ramp_tile(idx: int, w: int, h: int) -> np.ndarray:
    """v[i, j] = (a*i + b*j + c) % 256 as uint8 (h rows x w cols)."""
    a, b, c = ramp_coeffs(idx)
    i = np.arange(h, dtype=np.int64)[:, None]
    j = np.arange(w, dtype=np.int64)[None, :]
    return ((a * i + b * j + c) % 256).astype(np.uint8)


def audio_samples(idx: int, base: int = 2048, frame: int = 256) -> np.ndarray:
    """int16 samples of the synthetic pcm16 clip for image row ``idx``:
    n = base + (idx % 7) * frame, s_t = ((idx*31 + t*17) % 65536) - 32768.
    Normative twin of the DuckDB expression in plans/contract._sql_audio
    (same closed form, re-derived independently on the oracle side)."""
    n = base + (idx % 7) * frame
    t = np.arange(n, dtype=np.int64)
    return (((idx * 31 + t * 17) % 65536) - 32768).astype("<i2")


def video_frames_synth(idx: int, w: int = 16, h: int = 16) -> np.ndarray:
    """uint8 frame stack (n_frames, h, w) of the synthetic 'rawv' clip for
    image row ``idx``: n_frames = 6 + idx % 5,
    v[f, i, j] = (idx*7 + f*13 + i*5 + j*3) % 256."""
    nf = 6 + idx % 5
    f = np.arange(nf, dtype=np.int64)[:, None, None]
    i = np.arange(h, dtype=np.int64)[None, :, None]
    j = np.arange(w, dtype=np.int64)[None, None, :]
    return ((idx * 7 + f * 13 + i * 5 + j * 3) % 256).astype(np.uint8)


def quantize(arr: np.ndarray, step: int = QNT_STEP) -> np.ndarray:
    """Mid-tread quantizer for the 'qnt' lossy codec (FIXTURES.md §2)."""
    return ((arr.astype(np.int64) // step) * step + step // 2).astype(arr.dtype)


# ---------------------------------------------------------------------------
# Pixel codecs (fmt column) — self-defined, no PIL/GDAL in sandbox.
# 'raw'  : uint8 row-major h*w          (lossless)
# 'raw16': uint16 little-endian h*w     (lossless; landsat_like parity tile)
# 'qnt'  : uint8 but values pre-quantized at encode (defined-lossy)
# ---------------------------------------------------------------------------


def encode_pixels(arr: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return arr.astype(np.uint8).tobytes()
    if fmt == "raw16":
        return arr.astype("<u2").tobytes()
    if fmt == "qnt":
        return quantize(arr.astype(np.uint8)).tobytes()
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_pixels(data: bytes, w: int, h: int, fmt: str, nbands: int = 1) -> np.ndarray:
    if fmt in ("raw", "qnt"):
        a = np.frombuffer(data, dtype=np.uint8)
    elif fmt == "raw16":
        a = np.frombuffer(data, dtype="<u2")
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    if nbands == 1:
        return a.reshape(h, w)
    return a.reshape(nbands, h, w)


def psnr(ref: np.ndarray, test: np.ndarray, peak: float = 255.0) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical arrays."""
    mse = float(np.mean((ref.astype(np.float64) - test.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * math.log10(peak * peak / mse)


# ---------------------------------------------------------------------------
# Geotransform math — reference ops R7/R9/R11/R12/R13/R14
# (georaster/georaster.py :: __Raster extent/coord_to_px/value_at_coords/
#  coordinates/interp, ≈L180-660 ⚠ UNVERIFIED — SURVEY.md §2.1).
# ---------------------------------------------------------------------------


def extent(gt_x0, gt_y0, gt_xres, gt_yres, w, h):
    """(left, right, bottom, top) — R7."""
    gt_x0 = np.asarray(gt_x0, dtype=np.float64)
    gt_y0 = np.asarray(gt_y0, dtype=np.float64)
    return (
        gt_x0,
        gt_x0 + np.asarray(w) * np.asarray(gt_xres),
        gt_y0 - np.asarray(h) * np.asarray(gt_yres),
        gt_y0,
    )


def coord_to_px(x, y, gt_x0, gt_y0, gt_xres, gt_yres, w, h,
                rounded: bool = False, check_valid: bool = True):
    """World -> integer pixel indices (col j, row i) — R9.

    Engine semantics (normative, the defaults): floor of the
    corner-relative fraction, clamped to [0, n-1].

    Upstream-parity switches (SURVEY §2.1 R9 VERIFY items — flip these to
    match a populated reference without touching any operator):
    * rounded=True  -> np.round half-even of the fraction (upstream
      coord_to_px's `rounded=` posture) instead of floor.
    * check_valid=False -> raw indices, no clamp (upstream warns on
      out-of-bounds; the engine clamps by default).
    """
    fj = (np.asarray(x, dtype=np.float64) - gt_x0) / gt_xres
    fi = (gt_y0 - np.asarray(y, dtype=np.float64)) / gt_yres
    j = np.round(fj) if rounded else np.floor(fj)
    i = np.round(fi) if rounded else np.floor(fi)
    if check_valid:
        j = np.clip(j, 0, np.asarray(w) - 1)
        i = np.clip(i, 0, np.asarray(h) - 1)
    return j.astype(np.int64), i.astype(np.int64)


def pixel_centers(gt_x0, gt_y0, gt_xres, gt_yres, w: int, h: int):
    """Per-pixel world coordinates of pixel CENTERS — R13 (meshgrids x, y)."""
    xs = gt_x0 + (np.arange(w, dtype=np.float64) + 0.5) * gt_xres
    ys = gt_y0 - (np.arange(h, dtype=np.float64) + 0.5) * gt_yres
    return np.meshgrid(xs, ys)


def value_at(arr: np.ndarray, x, y, gt_x0, gt_y0, gt_xres, gt_yres):
    """Pixel value containing world (x, y) — R12 point sample."""
    h, w = arr.shape
    j, i = coord_to_px(x, y, gt_x0, gt_y0, gt_xres, gt_yres, w, h)
    return arr[i, j]


def interp_bilinear(arr: np.ndarray, x, y, gt_x0, gt_y0, gt_xres, gt_yres,
                    edge: str = "clamp"):
    """Pixel-center bilinear interpolation — R14 (order=1).

    Exact expression order matters: the DuckDB oracle repeats it verbatim
    so float64 results are bit-identical.

    edge='clamp' (normative default): corner indices clamp to the array.
    edge='zero' (upstream-parity switch, SURVEY §2.1 R14 VERIFY): corner
    pixels falling outside the array contribute 0 to the blend — the
    scipy map_coordinates(mode='constant', cval=0) posture of upstream
    interp.  Flip to match a populated reference without touching any
    operator.
    """
    if edge not in ("clamp", "zero"):
        raise ValueError(f"edge must be 'clamp' or 'zero', got {edge!r}")
    h, w = arr.shape
    fx = (np.asarray(x, dtype=np.float64) - gt_x0) / gt_xres - 0.5
    fy = (gt_y0 - np.asarray(y, dtype=np.float64)) / gt_yres - 0.5
    j0 = np.floor(fx)
    i0 = np.floor(fy)
    t = fx - j0
    u = fy - i0
    j0c = np.clip(j0, 0, w - 1).astype(np.int64)
    j1c = np.clip(j0 + 1, 0, w - 1).astype(np.int64)
    i0c = np.clip(i0, 0, h - 1).astype(np.int64)
    i1c = np.clip(i0 + 1, 0, h - 1).astype(np.int64)
    v00 = arr[i0c, j0c].astype(np.float64)
    v10 = arr[i0c, j1c].astype(np.float64)
    v01 = arr[i1c, j0c].astype(np.float64)
    v11 = arr[i1c, j1c].astype(np.float64)
    if edge == "zero":
        j_in = lambda jj: (jj >= 0) & (jj <= w - 1)  # noqa: E731
        i_in = lambda ii: (ii >= 0) & (ii <= h - 1)  # noqa: E731
        v00 = np.where(i_in(i0) & j_in(j0), v00, 0.0)
        v10 = np.where(i_in(i0) & j_in(j0 + 1), v10, 0.0)
        v01 = np.where(i_in(i0 + 1) & j_in(j0), v01, 0.0)
        v11 = np.where(i_in(i0 + 1) & j_in(j0 + 1), v11, 0.0)
    return ((1 - t) * (1 - u)) * v00 + (t * (1 - u)) * v10 + ((1 - t) * u) * v01 + (t * u) * v11


def _catmull_rom_weights(t):
    """Keys a=-0.5 (Catmull-Rom) cubic-convolution weights for source
    offsets (-1, 0, 1, 2) at fractional position t in [0, 1).  Expression
    order is normative — the DuckDB oracle repeats it verbatim so float64
    results are bit-identical (same posture as interp_bilinear)."""
    w0 = ((-0.5 * t + 1.0) * t - 0.5) * t
    w1 = (1.5 * t - 2.5) * t * t + 1.0
    w2 = ((-1.5 * t + 2.0) * t + 0.5) * t
    w3 = (0.5 * t - 0.5) * t * t
    return w0, w1, w2, w3


def interp_bicubic(arr: np.ndarray, x, y, gt_x0, gt_y0, gt_xres, gt_yres, nodata=None):
    """Pixel-center bicubic (Keys a=-0.5), edge-clamped — R14 (order=3).

    Separable 4x4 cubic convolution: row sums first (left-associative
    adds), then the column sum — the exact order the DuckDB oracle
    replicates.  Upstream analog: scipy map_coordinates(order=3) in
    __Raster.interp (≈L600-660 ⚠ UNVERIFIED); normative deviation
    (SURVEY §2.1 R14): cubic CONVOLUTION with the Keys kernel, not
    scipy's B-spline prefilter, and edge clamp instead of constant-0.

    With `nodata`, returns (vals, mask) where mask is True for samples
    whose 4x4 support touches a nodata pixel (masked-read parity).
    """
    h, w = arr.shape
    fx = (np.asarray(x, dtype=np.float64) - gt_x0) / gt_xres - 0.5
    fy = (gt_y0 - np.asarray(y, dtype=np.float64)) / gt_yres - 0.5
    j0 = np.floor(fx)
    i0 = np.floor(fy)
    t = fx - j0
    u = fy - i0
    wx = _catmull_rom_weights(t)
    wy = _catmull_rom_weights(u)
    jc = [np.clip(j0 + off, 0, w - 1).astype(np.int64) for off in (-1, 0, 1, 2)]
    ic = [np.clip(i0 + off, 0, h - 1).astype(np.int64) for off in (-1, 0, 1, 2)]
    a = arr.astype(np.float64)
    nd = None if nodata is None else np.float64(nodata)
    mask = np.zeros(np.shape(fx), dtype=bool)
    acc = None
    for ki in range(4):
        row = None
        for kj in range(4):
            v = a[ic[ki], jc[kj]]
            if nd is not None:
                mask |= v == nd
            term = wx[kj] * v
            row = term if row is None else row + term
        term = wy[ki] * row
        acc = term if acc is None else acc + term
    if nodata is None:
        return acc
    return acc, mask


def _quadratic_weights(s):
    """Dodgson interpolating-quadratic weights (Dodgson 1997, "Quadratic
    interpolation for image resampling", r=1 interpolating kernel) for
    source offsets (-1, 0, 1) at signed distance s in [-0.5, 0.5) from
    the NEAREST sample:  W(x) = 1 - 2x² for |x| <= 1/2, x² - 5/2|x| +
    3/2 for 1/2 < |x| <= 3/2.  Partition of unity and W(0)=1, W(±1)=0
    (interpolating).  Expression order is normative — the DuckDB oracle
    repeats it verbatim so float64 results are bit-identical."""
    sm = s + 1.0
    sp = 1.0 - s
    w_m1 = (sm - 2.5) * sm + 1.5
    w_0 = 1.0 - 2.0 * (s * s)
    w_p1 = (sp - 2.5) * sp + 1.5
    return w_m1, w_0, w_p1


def interp_quadratic(arr: np.ndarray, x, y, gt_x0, gt_y0, gt_xres, gt_yres, nodata=None):
    """Pixel-center quadratic (Dodgson r=1), edge-clamped — R14 (order=2).

    Separable 3x3 quadratic convolution centered on the NEAREST pixel
    (m = floor(f + 0.5), s = f - m ∈ [-0.5, 0.5)): row sums first
    (left-associative adds), then the column sum — the exact order the
    DuckDB oracle replicates.  Upstream analog: scipy
    map_coordinates(order=2) in __Raster.interp (≈L600-660 ⚠
    UNVERIFIED); normative deviation (SURVEY §2.1 R14): quadratic
    CONVOLUTION with the interpolating Dodgson kernel, not scipy's
    B-spline prefilter, and edge clamp instead of constant-0 — the same
    posture as the order-3 Keys deviation.

    With `nodata`, returns (vals, mask) where mask is True for samples
    whose 3x3 support touches a nodata pixel (masked-read parity).
    """
    h, w = arr.shape
    fx = (np.asarray(x, dtype=np.float64) - gt_x0) / gt_xres - 0.5
    fy = (gt_y0 - np.asarray(y, dtype=np.float64)) / gt_yres - 0.5
    jm = np.floor(fx + 0.5)
    im = np.floor(fy + 0.5)
    s = fx - jm
    u = fy - im
    wx = _quadratic_weights(s)
    wy = _quadratic_weights(u)
    jc = [np.clip(jm + off, 0, w - 1).astype(np.int64) for off in (-1, 0, 1)]
    ic = [np.clip(im + off, 0, h - 1).astype(np.int64) for off in (-1, 0, 1)]
    a = arr.astype(np.float64)
    nd = None if nodata is None else np.float64(nodata)
    mask = np.zeros(np.shape(fx), dtype=bool)
    acc = None
    for ki in range(3):
        row = None
        for kj in range(3):
            v = a[ic[ki], jc[kj]]
            if nd is not None:
                mask |= v == nd
            term = wx[kj] * v
            row = term if row is None else row + term
        term = wy[ki] * row
        acc = term if acc is None else acc + term
    if nodata is None:
        return acc
    return acc, mask


def interp_corner_nodata_mask(
    arr: np.ndarray, x, y, gt_x0, gt_y0, gt_xres, gt_yres, nodata: float
):
    """True where ANY of the 4 bilinear corner pixels equals `nodata` —
    the normative masked-interp rule (R14 + nodata): a sample touching a
    nodata pixel is NULL rather than blending a fill value into the
    result.  Corner selection replicates interp_bilinear exactly."""
    h, w = arr.shape
    fx = (np.asarray(x, dtype=np.float64) - gt_x0) / gt_xres - 0.5
    fy = (gt_y0 - np.asarray(y, dtype=np.float64)) / gt_yres - 0.5
    j0 = np.floor(fx)
    i0 = np.floor(fy)
    j0c = np.clip(j0, 0, w - 1).astype(np.int64)
    j1c = np.clip(j0 + 1, 0, w - 1).astype(np.int64)
    i0c = np.clip(i0, 0, h - 1).astype(np.int64)
    i1c = np.clip(i0 + 1, 0, h - 1).astype(np.int64)
    nd = np.float64(nodata)
    a = arr.astype(np.float64)
    return (
        (a[i0c, j0c] == nd) | (a[i0c, j1c] == nd)
        | (a[i1c, j0c] == nd) | (a[i1c, j1c] == nd)
    )


def interp_nearest(arr: np.ndarray, x, y, gt_x0, gt_y0, gt_xres, gt_yres):
    """order=0 nearest == value_at (floor-gather) — R14/R9 equivalence."""
    return value_at(arr, x, y, gt_x0, gt_y0, gt_xres, gt_yres)


# ---------------------------------------------------------------------------
# R14 orders 4/5 — prefiltered B-spline interpolation (the scipy
# map_coordinates semantics: quartic/quintic B-spline with the Unser
# IIR prefilter, mirror boundary).  Public references: Unser, Aldroubi
# & Eden, "B-Spline Signal Processing" parts I-II (IEEE TSP 1993) and
# Unser, "Splines: A Perfect Fit for Signal and Image Processing"
# (IEEE SPM 1999) — pole values and the causal/anticausal mirror
# recursions are from those papers.  Upstream analog: scipy
# map_coordinates(order=4|5) in __Raster.interp (≈L600-660 ⚠
# UNVERIFIED); normative posture: mirror boundary for BOTH the
# prefilter and the evaluation indices (scipy's spline_filter1d
# default), pinned by the dense-solve oracle in
# tests/test_interp_bspline.py.
# ---------------------------------------------------------------------------


def _bspline_poles(order: int) -> tuple[float, ...]:
    """Roots (inside the unit circle) of the z-transform of the sampled
    B-spline — the IIR prefilter poles (Unser 1993, Table I)."""
    if order == 2:
        return (math.sqrt(8.0) - 3.0,)
    if order == 3:
        return (math.sqrt(3.0) - 2.0,)
    if order == 4:
        return (
            math.sqrt(664.0 - math.sqrt(438976.0)) + math.sqrt(304.0) - 19.0,
            math.sqrt(664.0 + math.sqrt(438976.0)) - math.sqrt(304.0) - 19.0,
        )
    if order == 5:
        return (
            math.sqrt(67.5 - math.sqrt(4436.25)) + math.sqrt(26.25) - 6.5,
            math.sqrt(67.5 + math.sqrt(4436.25)) - math.sqrt(26.25) - 6.5,
        )
    raise NotImplementedError(f"no spline poles for order {order}")


def bspline_kernel(n: int, t):
    """Centered cardinal B-spline β_n evaluated via the Cox-de Boor
    recurrence β_n(x) = ((x + (n+1)/2)·β_{n-1}(x+1/2) +
    ((n+1)/2 − x)·β_{n-1}(x−1/2)) / n — exact, vectorized, no
    memorized piecewise tables.  β_0 is the centered box with the
    distributional value 1/2 at |x| = 1/2 (keeps even orders symmetric
    when evaluated exactly on knots)."""
    t = np.asarray(t, dtype=np.float64)
    if n == 0:
        a = np.abs(t)
        return np.where(a < 0.5, 1.0, np.where(a == 0.5, 0.5, 0.0))
    half = (n + 1) / 2.0
    return (
        (t + half) * bspline_kernel(n - 1, t + 0.5)
        + (half - t) * bspline_kernel(n - 1, t - 0.5)
    ) / n


def _prefilter_1d(c: np.ndarray, order: int) -> np.ndarray:
    """In-place-style B-spline prefilter along axis 0 (mirror boundary):
    per pole z, the causal recursion cp[k] = c[k] + z·cp[k-1] with the
    EXACT mirror-periodic init (geometric sum over one 2N-2 period),
    then the anticausal cm[k] = z·(cm[k+1] − cp[k]) with the Unser
    mirror tail init cm[N-1] = z/(z²−1)·(cp[N-1] + z·cp[N-2]).  The
    overall gain Π(1−z)(1−1/z) is applied once up front."""
    c = np.asarray(c, dtype=np.float64).copy()
    n = c.shape[0]
    if n < 2:
        return c
    poles = _bspline_poles(order)
    gain = 1.0
    for z in poles:
        gain *= (1.0 - z) * (1.0 - 1.0 / z)
    c *= gain
    period = 2 * n - 2
    for z in poles:
        # exact causal init over the mirror-extended period
        ext = np.concatenate([c[:n], c[n - 2:0:-1]], axis=0)
        zk = z ** np.arange(period)
        denom = 1.0 - z ** period
        c[0] = np.tensordot(zk, ext, axes=(0, 0)) / denom
        for k in range(1, n):
            c[k] = c[k] + z * c[k - 1]
        c[n - 1] = (z / (z * z - 1.0)) * (z * c[n - 2] + c[n - 1])
        for k in range(n - 2, -1, -1):
            c[k] = z * (c[k + 1] - c[k])
    return c


def bspline_coeffs(arr: np.ndarray, order: int) -> np.ndarray:
    """2-D spline coefficient image: prefilter columns then rows."""
    c = _prefilter_1d(arr.astype(np.float64), order)
    c = _prefilter_1d(c.T, order).T
    return c


def _mirror_idx(k: np.ndarray, n: int) -> np.ndarray:
    """Mirror (reflect-about-samples, period 2n−2) index fold."""
    if n == 1:
        return np.zeros_like(k)
    period = 2 * n - 2
    k = np.abs(k) % period
    return np.where(k >= n, period - k, k)


def interp_bspline(
    arr: np.ndarray, x, y, gt_x0, gt_y0, gt_xres, gt_yres,
    order: int, nodata=None,
):
    """Pixel-center prefiltered B-spline interpolation — R14 orders 4/5
    (also exact for 2/3 in the B-spline — not convolution — sense).

    val = Σ_i Σ_j coeff[i, j]·β_n(fy − i)·β_n(fx − j) over the
    (n+1)×(n+1) support, coefficient image from bspline_coeffs, mirror
    indexing for supports crossing the edge.  Interpolating by
    construction: exact at pixel centers, reproduces degree-n
    polynomials in the interior (both pinned by
    tests/test_interp_bspline.py against a dense linear-system solve).

    With `nodata`, returns (vals, mask): mask is True where the
    (n+1)² support (original array, mirrored indices) touches a
    nodata pixel — same masked-read rule as orders 1-3; the prefilter
    runs on the raw array, so masked samples are REPORTED rather than
    repaired (document-level parity with the other orders)."""
    h, w = arr.shape
    fx = (np.asarray(x, dtype=np.float64) - gt_x0) / gt_xres - 0.5
    fy = (gt_y0 - np.asarray(y, dtype=np.float64)) / gt_yres - 0.5
    c = bspline_coeffs(arr, order)
    half = order // 2
    if order % 2 == 0:
        jb = np.floor(fx + 0.5).astype(np.int64)
        ib = np.floor(fy + 0.5).astype(np.int64)
        offs = range(-half, half + 1)
    else:
        jb = np.floor(fx).astype(np.int64)
        ib = np.floor(fy).astype(np.int64)
        offs = range(-half, half + 2)
    offs = list(offs)
    wx = [bspline_kernel(order, fx - (jb + o)) for o in offs]
    wy = [bspline_kernel(order, fy - (ib + o)) for o in offs]
    jc = [_mirror_idx(jb + o, w) for o in offs]
    ic = [_mirror_idx(ib + o, h) for o in offs]
    a = arr.astype(np.float64)
    nd = None if nodata is None else np.float64(nodata)
    mask = np.zeros(np.shape(fx), dtype=bool)
    acc = None
    for ki in range(len(offs)):
        row = None
        for kj in range(len(offs)):
            v = c[ic[ki], jc[kj]]
            if nd is not None:
                mask |= a[ic[ki], jc[kj]] == nd
            term = wx[kj] * v
            row = term if row is None else row + term
        term = wy[ki] * row
        acc = term if acc is None else acc + term
    if nodata is None:
        return acc
    return acc, mask


# ---------------------------------------------------------------------------
# Point-in-polygon — E5 refine kernels.
# ---------------------------------------------------------------------------


def pip_halfplane(ring_x: np.ndarray, ring_y: np.ndarray, px, py):
    """Convex CCW closed ring: inside iff every edge cross-product >= 0
    (boundary counts as inside).  Vectorized over points."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x1 = ring_x[:-1][None, :]
    y1 = ring_y[:-1][None, :]
    x2 = ring_x[1:][None, :]
    y2 = ring_y[1:][None, :]
    cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    return np.all(cross >= 0.0, axis=1)


def pip_raycast(ring_x: np.ndarray, ring_y: np.ndarray, px, py):
    """General (possibly non-convex) even-odd ray cast; half-open edge rule.
    Boundary behavior is NOT normative here — joins use pip_halfplane on the
    convex fixture rings; this is the general-geometry fallback."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x1 = ring_x[:-1][None, :]
    y1 = ring_y[:-1][None, :]
    x2 = ring_x[1:][None, :]
    y2 = ring_y[1:][None, :]
    cond = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    hits = cond & (px < xint)
    return (np.sum(hits, axis=1) % 2) == 1


# ---------------------------------------------------------------------------
# CRS — closed-form WGS84 <-> WebMercator (no pyproj in sandbox, §7.5).
# ---------------------------------------------------------------------------

_R_EARTH = 6378137.0


def lonlat_to_mercator(lon, lat):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = _R_EARTH * np.radians(lon)
    y = _R_EARTH * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
    return x, y


def mercator_to_lonlat(x, y):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / _R_EARTH)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / _R_EARTH)) - np.pi / 2.0)
    return lon, lat


# ---------------------------------------------------------------------------
# Transverse Mercator / UTM (closed-form Krüger series — public formulas,
# cf. Karney 2011 "Transverse Mercator with an accuracy of a few
# nanometers" §2 / the standard Krüger-n series).  Third-order in
# n = f/(2-f): ~1 mm accuracy inside a UTM zone — the upstream golden
# tile's CRS (UTM) becomes representable without pyproj (SURVEY §2.1 R8
# gap; upstream get_extent_projected takes an arbitrary projection).
# ---------------------------------------------------------------------------

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_UTM_K0 = 0.9996
_UTM_FE = 500000.0
_UTM_FN_SOUTH = 10000000.0

_TM_N = _WGS84_F / (2.0 - _WGS84_F)
_TM_A = _WGS84_A / (1.0 + _TM_N) * (1.0 + _TM_N**2 / 4.0 + _TM_N**4 / 64.0)
_TM_E = math.sqrt(_WGS84_F * (2.0 - _WGS84_F))  # first eccentricity
# alpha (forward) / beta (inverse) / delta (conformal->geodetic) series
_TM_ALPHA = (
    _TM_N / 2.0 - 2.0 * _TM_N**2 / 3.0 + 5.0 * _TM_N**3 / 16.0,
    13.0 * _TM_N**2 / 48.0 - 3.0 * _TM_N**3 / 5.0,
    61.0 * _TM_N**3 / 240.0,
)
_TM_BETA = (
    _TM_N / 2.0 - 2.0 * _TM_N**2 / 3.0 + 37.0 * _TM_N**3 / 96.0,
    _TM_N**2 / 48.0 + _TM_N**3 / 15.0,
    17.0 * _TM_N**3 / 480.0,
)
_TM_DELTA = (
    2.0 * _TM_N - 2.0 * _TM_N**2 / 3.0 - 2.0 * _TM_N**3,
    7.0 * _TM_N**2 / 3.0 - 8.0 * _TM_N**3 / 5.0,
    56.0 * _TM_N**3 / 15.0,
)


def utm_zone_lon0(zone: int) -> float:
    """Central meridian (degrees) of UTM zone 1..60."""
    if not 1 <= zone <= 60:
        raise ValueError(f"UTM zone {zone} outside [1, 60]")
    return -183.0 + 6.0 * zone


def lonlat_to_utm(lon, lat, zone: int, north: bool = True):
    """WGS84 lon/lat (deg) -> UTM easting/northing (m) for a fixed zone."""
    lam = np.radians(np.asarray(lon, dtype=np.float64) - utm_zone_lon0(zone))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    s = np.sin(phi)
    # conformal latitude tau' = sinh(asinh(tan) - e*atanh(e*sin))
    t = np.sinh(np.arctanh(s) - _TM_E * np.arctanh(_TM_E * s))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.sqrt(t * t + np.cos(lam) ** 2))
    xi = xi_p
    eta = eta_p
    for j, aj in enumerate(_TM_ALPHA, start=1):
        xi = xi + aj * np.sin(2.0 * j * xi_p) * np.cosh(2.0 * j * eta_p)
        eta = eta + aj * np.cos(2.0 * j * xi_p) * np.sinh(2.0 * j * eta_p)
    x = _UTM_K0 * _TM_A * eta + _UTM_FE
    y = _UTM_K0 * _TM_A * xi + (0.0 if north else _UTM_FN_SOUTH)
    return x, y


def utm_to_lonlat(x, y, zone: int, north: bool = True):
    """UTM easting/northing (m) -> WGS84 lon/lat (deg) for a fixed zone."""
    eta = (np.asarray(x, dtype=np.float64) - _UTM_FE) / (_UTM_K0 * _TM_A)
    xi = (np.asarray(y, dtype=np.float64) - (0.0 if north else _UTM_FN_SOUTH)) / (
        _UTM_K0 * _TM_A
    )
    xi_p = xi
    eta_p = eta
    for j, bj in enumerate(_TM_BETA, start=1):
        xi_p = xi_p - bj * np.sin(2.0 * j * xi) * np.cosh(2.0 * j * eta)
        eta_p = eta_p - bj * np.cos(2.0 * j * xi) * np.sinh(2.0 * j * eta)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))  # conformal latitude
    phi = chi
    for j, dj in enumerate(_TM_DELTA, start=1):
        phi = phi + dj * np.sin(2.0 * j * chi)
    return np.degrees(lam) + utm_zone_lon0(zone), np.degrees(phi)


# ---------------------------------------------------------------------------
# Conic projections — Lambert Conformal Conic (2SP) and Albers Equal
# Area (2SP), closed-form ellipsoidal formulas from Snyder, "Map
# Projections: A Working Manual" (USGS PP 1395, 1987) §15 and §14 —
# the most common remaining projection family after Mercator/UTM
# (national grids: Lambert-93, CONUS/California Albers).  GRS80 and
# WGS84 differ by <0.1 mm in these formulas, so both datum families
# share the WGS84 constants (documented engine posture, same as §7.5).
# ---------------------------------------------------------------------------

_E2 = _WGS84_F * (2.0 - _WGS84_F)  # first eccentricity squared


def _snyder_m(phi):
    return np.cos(phi) / np.sqrt(1.0 - _E2 * np.sin(phi) ** 2)


def _snyder_t(phi):
    e = _TM_E
    s = np.sin(phi)
    return np.tan(np.pi / 4.0 - phi / 2.0) / (
        (1.0 - e * s) / (1.0 + e * s)
    ) ** (e / 2.0)


def _snyder_q(phi):
    e = _TM_E
    s = np.sin(phi)
    return (1.0 - _E2) * (
        s / (1.0 - _E2 * s * s) - (1.0 / (2.0 * e)) * np.log((1.0 - e * s) / (1.0 + e * s))
    )


# EPSG code -> (kind, params).  lat/lon in degrees.
CONIC_CRS = {
    # RGF93 / Lambert-93 (France national grid)
    2154: ("lcc", dict(lat1=44.0, lat2=49.0, lat0=46.5, lon0=3.0,
                       fe=700000.0, fn=6600000.0)),
    # NAD83 / Conus Albers
    5070: ("albers", dict(lat1=29.5, lat2=45.5, lat0=23.0, lon0=-96.0,
                          fe=0.0, fn=0.0)),
    # NAD83 / California Albers
    3310: ("albers", dict(lat1=34.0, lat2=40.5, lat0=0.0, lon0=-120.0,
                          fe=0.0, fn=-4000000.0)),
}


def parse_conic_crs(crs: str):
    """'EPSG:<code>' -> (kind, params) for a registered conic, else None."""
    if not crs.upper().startswith("EPSG:"):
        return None
    try:
        code = int(crs.split(":", 1)[1])
    except ValueError:
        return None
    return CONIC_CRS.get(code)


def _lcc_consts(p):
    phi1, phi2 = np.radians(p["lat1"]), np.radians(p["lat2"])
    phi0 = np.radians(p["lat0"])
    m1, m2 = _snyder_m(phi1), _snyder_m(phi2)
    t0, t1, t2 = _snyder_t(phi0), _snyder_t(phi1), _snyder_t(phi2)
    n = (np.log(m1) - np.log(m2)) / (np.log(t1) - np.log(t2))
    f = m1 / (n * t1 ** n)
    rho0 = _WGS84_A * f * t0 ** n
    return n, f, rho0


def lonlat_to_lcc(lon, lat, p):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n, f, rho0 = _lcc_consts(p)
    t = _snyder_t(np.radians(lat))
    rho = _WGS84_A * f * t ** n
    th = n * np.radians(lon - p["lon0"])
    return p["fe"] + rho * np.sin(th), p["fn"] + rho0 - rho * np.cos(th)


def lcc_to_lonlat(x, y, p):
    x = np.asarray(x, dtype=np.float64) - p["fe"]
    y = np.asarray(y, dtype=np.float64) - p["fn"]
    n, f, rho0 = _lcc_consts(p)
    rho = np.sign(n) * np.sqrt(x * x + (rho0 - y) ** 2)
    t = (rho / (_WGS84_A * f)) ** (1.0 / n)
    th = np.arctan2(np.sign(n) * x, np.sign(n) * (rho0 - y))
    lon = np.degrees(th / n) + p["lon0"]
    e = _TM_E
    phi = np.pi / 2.0 - 2.0 * np.arctan(t)
    for _ in range(8):
        s = np.sin(phi)
        phi = np.pi / 2.0 - 2.0 * np.arctan(
            t * ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0)
        )
    return lon, np.degrees(phi)


def _albers_consts(p):
    phi1, phi2 = np.radians(p["lat1"]), np.radians(p["lat2"])
    phi0 = np.radians(p["lat0"])
    m1, m2 = _snyder_m(phi1), _snyder_m(phi2)
    q0, q1, q2 = _snyder_q(phi0), _snyder_q(phi1), _snyder_q(phi2)
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    c = m1 * m1 + n * q1
    rho0 = _WGS84_A * np.sqrt(c - n * q0) / n
    return n, c, rho0


def lonlat_to_albers(lon, lat, p):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n, c, rho0 = _albers_consts(p)
    q = _snyder_q(np.radians(lat))
    rho = _WGS84_A * np.sqrt(c - n * q) / n
    th = n * np.radians(lon - p["lon0"])
    return p["fe"] + rho * np.sin(th), p["fn"] + rho0 - rho * np.cos(th)


def albers_to_lonlat(x, y, p):
    x = np.asarray(x, dtype=np.float64) - p["fe"]
    y = np.asarray(y, dtype=np.float64) - p["fn"]
    n, c, rho0 = _albers_consts(p)
    rho = np.sqrt(x * x + (rho0 - y) ** 2)
    q = (c - (rho * n / _WGS84_A) ** 2) / n
    th = np.arctan2(np.sign(n) * x, np.sign(n) * (rho0 - y))
    lon = np.degrees(th / n) + p["lon0"]
    e = _TM_E
    phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
    for _ in range(10):
        s = np.sin(phi)
        phi = phi + (1.0 - _E2 * s * s) ** 2 / (2.0 * np.cos(phi)) * (
            q / (1.0 - _E2)
            - s / (1.0 - _E2 * s * s)
            + (1.0 / (2.0 * e)) * np.log((1.0 - e * s) / (1.0 + e * s))
        )
    return lon, np.degrees(phi)


def bspline_coeffs_stack(arr3: np.ndarray, order: int) -> np.ndarray:
    """Spline-coefficient images for a STACK of same-shaped tiles
    (k, h, w): the IIR recursions run once per scanline INDEX with the
    numpy ops vectorized across all k tiles at once — 64 iterations per
    axis for the whole stack instead of 64 per tile (the per-tile loop
    made interp_quartic/quintic the bench's slowest queries; this is
    the same math, batched)."""
    c = _prefilter_1d(np.moveaxis(arr3.astype(np.float64), 1, 0), order)
    c = np.moveaxis(c, 0, 1)
    c = _prefilter_1d(np.moveaxis(c, 2, 0), order)
    return np.moveaxis(c, 0, 2)


def interp_bspline_batch(
    coeffs: np.ndarray, raw: np.ndarray, tidx: np.ndarray,
    fx: np.ndarray, fy: np.ndarray, order: int, nodata=None,
):
    """Vectorized evaluation over a whole Arrow batch: `coeffs`/`raw`
    are (k, h, w) stacks (bspline_coeffs_stack), `tidx` maps each
    sample to its stack plane, fx/fy are fractional pixel-center
    coords.  Same accumulation order as interp_bspline (row sums then
    the column sum), mirror indexing, and the (n+1)^2-support nodata
    mask; `nodata` is a per-sample float array (NaN = no nodata).
    Returns (vals, mask)."""
    _, h, w = coeffs.shape
    half = order // 2
    if order % 2 == 0:
        jb = np.floor(fx + 0.5).astype(np.int64)
        ib = np.floor(fy + 0.5).astype(np.int64)
        offs = list(range(-half, half + 1))
    else:
        jb = np.floor(fx).astype(np.int64)
        ib = np.floor(fy).astype(np.int64)
        offs = list(range(-half, half + 2))
    wx = [bspline_kernel(order, fx - (jb + o)) for o in offs]
    wy = [bspline_kernel(order, fy - (ib + o)) for o in offs]
    jc = [_mirror_idx(jb + o, w) for o in offs]
    ic = [_mirror_idx(ib + o, h) for o in offs]
    nd = None if nodata is None else np.asarray(nodata, dtype=np.float64)
    mask = np.zeros(np.shape(fx), dtype=bool)
    acc = None
    for ki in range(len(offs)):
        row = None
        for kj in range(len(offs)):
            v = coeffs[tidx, ic[ki], jc[kj]]
            if nd is not None:
                mask |= raw[tidx, ic[ki], jc[kj]] == nd  # NaN nd -> False
            term = wx[kj] * v
            row = term if row is None else row + term
        term = wy[ki] * row
        acc = term if acc is None else acc + term
    return acc, mask


def conic_to_lonlat(x, y, kind: str, p):
    return (lcc_to_lonlat if kind == "lcc" else albers_to_lonlat)(x, y, p)


def lonlat_to_conic(lon, lat, kind: str, p):
    return (lonlat_to_lcc if kind == "lcc" else lonlat_to_albers)(lon, lat, p)


# Polar Stereographic (Snyder 1987 §21, ellipsoidal, variant B: standard
# parallel lat_ts).  EPSG code -> params; the two codes below are the
# de-facto polar raster grids (NSIDC sea-ice north, Antarctic south).
POLAR_CRS = {
    # WGS 84 / NSIDC Sea Ice Polar Stereographic North
    3413: dict(north=True, lat_ts=70.0, lon0=-45.0, fe=0.0, fn=0.0),
    # WGS 84 / Antarctic Polar Stereographic
    3031: dict(north=False, lat_ts=-71.0, lon0=0.0, fe=0.0, fn=0.0),
}


def parse_polar_crs(crs: str):
    """'EPSG:<code>' -> params for a registered polar stereographic, else
    None."""
    if not crs.upper().startswith("EPSG:"):
        return None
    try:
        code = int(crs.split(":", 1)[1])
    except ValueError:
        return None
    return POLAR_CRS.get(code)


def _ps_consts(p):
    phi_c = np.radians(abs(p["lat_ts"]))
    return _snyder_m(phi_c), _snyder_t(phi_c)


def lonlat_to_polar(lon, lat, p):
    """South aspect via the (phi, lam, x, y) -> (-phi, -lam, -x, -y)
    symmetry of the north formulas — algebraically identical to Snyder's
    explicit south-aspect equations."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lam = np.radians(lon - p["lon0"])
    phi = np.radians(lat)
    if not p["north"]:
        phi, lam = -phi, -lam
    m_c, t_c = _ps_consts(p)
    rho = _WGS84_A * m_c * _snyder_t(phi) / t_c
    x, y = rho * np.sin(lam), -rho * np.cos(lam)
    if not p["north"]:
        x, y = -x, -y
    return p["fe"] + x, p["fn"] + y


def polar_to_lonlat(x, y, p):
    x = np.asarray(x, dtype=np.float64) - p["fe"]
    y = np.asarray(y, dtype=np.float64) - p["fn"]
    if not p["north"]:
        x, y = -x, -y
    m_c, t_c = _ps_consts(p)
    rho = np.sqrt(x * x + y * y)
    t = rho * t_c / (_WGS84_A * m_c)
    e = _TM_E
    phi = np.pi / 2.0 - 2.0 * np.arctan(t)
    for _ in range(8):
        s = np.sin(phi)
        phi = np.pi / 2.0 - 2.0 * np.arctan(
            t * ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0)
        )
    lam = np.arctan2(x, -y)
    if p["north"]:
        return np.degrees(lam) + p["lon0"], np.degrees(phi)
    return p["lon0"] - np.degrees(lam), -np.degrees(phi)


def parse_utm_crs(crs: str):
    """'EPSG:326xx'/'EPSG:327xx' -> (zone, north) or None if not UTM."""
    if not crs.upper().startswith("EPSG:"):
        return None
    try:
        code = int(crs.split(":", 1)[1])
    except ValueError:
        return None
    if 32601 <= code <= 32660:
        return code - 32600, True
    if 32701 <= code <= 32760:
        return code - 32700, False
    return None
