"""Ops R12/R14/R17 — distributed point sampling and interpolated lookup.

Reference semantics: georaster/georaster.py :: __Raster.value_at_coords
(≈L480-560 ⚠), __Raster.interp (≈L600-660 ⚠), find_value_at_coords alias
(≈L770 ⚠) — UNVERIFIED bands, see SURVEY §0; normative engine semantics
(floor+clamp gather; pixel-center bilinear, edge-clamped) are defined by
georaster_spark.oracle and SURVEY §2.1.

Distributed shape (SURVEY §2.1 R12):

  1. CANDIDATES (slim) — points compute their res-r cell (pure
     Column); tiles project METADATA ONLY (no `bytes`) and explode
     cover_cells; equi-join on cell_id.  The points side is always
     broadcast (query-sized), so the tile side never shuffles.
  2. EXACT containment filter: xmin <= x < xmax AND ymin < y <= ymax
     (closed-open so a point on a shared tile edge hits exactly one
     side; y edge is open at the bottom per the north-up convention).
  3. DEDUP FIRST — overlapping tiles can both contain a point; the
     normative winner is the lowest image_id (deterministic window).
     Doing this on slim rows BEFORE touching pixels is the load-bearing
     choice: the fixtures' hot anchors stack hundreds of tiles, so
     candidates outnumber points ~16x — carrying `bytes` through that
     fan-out cost ~7 GB of Arrow traffic at sf0.1 (measured) vs ~100 MB
     after the dedup.
  4. GATHER — winners broadcast back onto the tiles scan (equi-join on
     image_id; tiles stay map-only), then one fused decode+gather
     mapInPandas hop over exactly one row per (point, winning tile).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from .. import oracle
from ..constants import DEFAULT_RES
from ..functions import cells

_GATHER_SCHEMA = "point_id long, image_id string, val double"


def _candidates(points: DataFrame, tiles: DataFrame, r: int) -> DataFrame:
    pts = F.broadcast(
        points.select(
            "point_id",
            "x",
            "y",
            cells.cell_encode(F.col("x"), F.col("y"), r).alias("cell_id"),
        )
    )
    tl = tiles.select(
        "image_id",
        "xmin",
        "xmax",
        "ymin",
        "ymax",
        F.explode("cover_cells").alias("cell_id"),
    )
    return tl.join(pts, "cell_id").where(
        (F.col("x") >= F.col("xmin"))
        & (F.col("x") < F.col("xmax"))
        & (F.col("y") > F.col("ymin"))
        & (F.col("y") <= F.col("ymax"))
    )


def _bspline_gather(pdf: pd.DataFrame, order: int) -> pd.DataFrame:
    """Whole-batch B-spline sampling (orders 4/5): decode each distinct
    tile once, bucket tiles by shape, prefilter each bucket as ONE
    stacked IIR pass (oracle.bspline_coeffs_stack — the per-tile
    Python recursion made these the slowest bench queries), then
    evaluate every sample in the batch with fully vectorized gathers
    (oracle.interp_bspline_batch).  Same math and accumulation order
    as the per-tile kernel; pinned against it by
    tests/test_interp_bspline.py."""
    from collections import defaultdict

    out = np.empty(len(pdf), dtype=np.float64)
    masked = np.zeros(len(pdf), dtype=bool)
    byts = pdf["bytes"].to_numpy(dtype=object)
    ws = pdf["w"].to_numpy()
    hs = pdf["h"].to_numpy()
    fmts = pdf["fmt"].to_numpy(dtype=object)
    gx0 = pdf["gt_x0"].to_numpy()
    gy0 = pdf["gt_y0"].to_numpy()
    gxr = pdf["gt_xres"].to_numpy()
    gyr = pdf["gt_yres"].to_numpy()
    nds = pdf["nodata"].to_numpy() if "nodata" in pdf.columns else None
    xs_all = pdf["x"].to_numpy()
    ys_all = pdf["y"].to_numpy()
    tiles = []  # (arr, idx rows)
    buckets: dict = defaultdict(list)
    for _, idx in pdf.groupby("image_id", sort=False).indices.items():
        k0 = int(idx[0])
        arr = oracle.decode_pixels(byts[k0], int(ws[k0]), int(hs[k0]), fmts[k0])
        buckets[arr.shape].append(len(tiles))
        tiles.append((arr, idx))
    for _, tlist in buckets.items():
        raw = np.stack([tiles[t][0] for t in tlist]).astype(np.float64)
        coeffs = oracle.bspline_coeffs_stack(raw, order)
        rows = np.concatenate([tiles[t][1] for t in tlist])
        tidx = np.concatenate(
            [np.full(len(tiles[t][1]), j, dtype=np.int64) for j, t in enumerate(tlist)]
        )
        fx = (xs_all[rows] - gx0[rows]) / gxr[rows] - 0.5
        fy = (gy0[rows] - ys_all[rows]) / gyr[rows] - 0.5
        ndrow = None
        if nds is not None:
            ndrow = np.array(
                [np.nan if v is None else float(v) for v in nds[rows]],
                dtype=np.float64,
            )
            if not np.isfinite(ndrow).any():
                ndrow = None
        vals, msk = oracle.interp_bspline_batch(
            coeffs, raw, tidx, fx, fy, order, nodata=ndrow
        )
        out[rows] = vals
        masked[rows] |= msk
    val = pd.Series(out).astype("Float64")
    if masked.any():
        val[masked] = pd.NA
    return pd.DataFrame(
        {
            "point_id": pdf["point_id"].to_numpy(),
            "image_id": pdf["image_id"].to_numpy(),
            "val": val,
        }
    )


def _gather_fn(mode: str, window: int | None, reducer: str):
    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Batched NumPy: each distinct tile in the Arrow batch is decoded
        # ONCE, then all its points gather via vectorized fancy indexing.
        # Nodata semantics (masked-read parity, SURVEY §1.1): when the
        # tile carries a non-null `nodata`, a sample that touches a
        # nodata pixel yields NULL — value mode masks the gathered pixel,
        # interp masks if ANY of the 4 corners is nodata, window reducers
        # exclude nodata pixels from the patch (all-nodata patch -> NULL).
        for pdf in batches:
            if mode in ("interp4", "interp5"):
                yield _bspline_gather(pdf, 4 if mode == "interp4" else 5)
                continue
            out = np.empty(len(pdf), dtype=np.float64)
            masked = np.zeros(len(pdf), dtype=bool)
            # column arrays extracted ONCE per batch: per-group pandas
            # .iloc row access was the dominant Python cost when most
            # tiles contain a single point (one group per row)
            byts = pdf["bytes"].to_numpy(dtype=object)
            ws = pdf["w"].to_numpy()
            hs = pdf["h"].to_numpy()
            fmts = pdf["fmt"].to_numpy(dtype=object)
            gx0 = pdf["gt_x0"].to_numpy()
            gy0 = pdf["gt_y0"].to_numpy()
            gxr = pdf["gt_xres"].to_numpy()
            gyr = pdf["gt_yres"].to_numpy()
            nds = pdf["nodata"].to_numpy() if "nodata" in pdf.columns else None
            xs_all = pdf["x"].to_numpy()
            ys_all = pdf["y"].to_numpy()
            for _, idx in pdf.groupby("image_id", sort=False).indices.items():
                k0 = int(idx[0])
                arr = oracle.decode_pixels(byts[k0], int(ws[k0]), int(hs[k0]), fmts[k0])
                g = (gx0[k0], gy0[k0], gxr[k0], gyr[k0])
                nd = None if nds is None else nds[k0]
                nd = None if nd is None or (isinstance(nd, float) and np.isnan(nd)) else float(nd)
                xs = xs_all[idx]
                ys = ys_all[idx]
                if mode == "interp":
                    out[idx] = oracle.interp_bilinear(arr, xs, ys, *g)
                    if nd is not None:
                        masked[idx] = oracle.interp_corner_nodata_mask(arr, xs, ys, *g, nd)
                elif mode == "interp3":
                    if nd is not None:
                        out[idx], masked[idx] = oracle.interp_bicubic(arr, xs, ys, *g, nodata=nd)
                    else:
                        out[idx] = oracle.interp_bicubic(arr, xs, ys, *g)
                elif mode == "interp2":
                    if nd is not None:
                        out[idx], masked[idx] = oracle.interp_quadratic(arr, xs, ys, *g, nodata=nd)
                    else:
                        out[idx] = oracle.interp_quadratic(arr, xs, ys, *g)
                elif window:
                    h, w = arr.shape
                    js, iis = oracle.coord_to_px(xs, ys, *g, w, h)
                    half = window // 2
                    for t, (j, i) in enumerate(zip(js, iis)):
                        patch = arr[
                            max(0, int(i) - half) : min(h, int(i) + half + 1),
                            max(0, int(j) - half) : min(w, int(j) + half + 1),
                        ].astype(np.float64)
                        if nd is not None:
                            patch = patch[patch != nd]
                        if patch.size == 0:
                            masked[idx[t]] = True
                            out[idx[t]] = 0.0
                        else:
                            out[idx[t]] = float(
                                patch.mean() if reducer == "mean" else getattr(np, reducer)(patch)
                            )
                else:
                    vals = oracle.value_at(arr, xs, ys, *g).astype(np.float64)
                    out[idx] = vals
                    if nd is not None:
                        masked[idx] = vals == nd
            val = pd.Series(out).astype("Float64")
            if masked.any():
                val[masked] = pd.NA
            yield pd.DataFrame(
                {
                    "point_id": pdf["point_id"].to_numpy(),
                    "image_id": pdf["image_id"].to_numpy(),
                    "val": val,
                }
            )

    return gather


def _sample(
    points: DataFrame,
    tiles: DataFrame,
    mode: str,
    r: int = DEFAULT_RES,
    window: int | None = None,
    reducer: str = "mean",
) -> DataFrame:
    cand = _candidates(points, tiles, r)
    win = Window.partitionBy("point_id").orderBy("image_id")
    winners = (
        cand.select("point_id", "x", "y", "image_id")
        .withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    nodata_col = (
        F.col("nodata").cast("double") if "nodata" in tiles.columns
        else F.lit(None).cast("double")
    )
    gather_in = tiles.select(
        "image_id", "bytes", "w", "h", "fmt", "gt_x0", "gt_y0", "gt_xres", "gt_yres",
        nodata_col.alias("nodata"),
    ).join(F.broadcast(winners), "image_id")
    vals = gather_in.mapInPandas(_gather_fn(mode, window, reducer), schema=_GATHER_SCHEMA)
    return vals.select("point_id", "image_id", "val")


def value_at_coords(
    points: DataFrame,
    tiles: DataFrame,
    r: int = DEFAULT_RES,
    window: int | None = None,
    reducer: str = "mean",
) -> DataFrame:
    """R12: (point_id, image_id, val) — value of the pixel containing each
    point, from the lowest-image_id containing tile.  `window=k` averages
    (or `reducer`s) the clipped k x k neighborhood, matching upstream's
    `window=` argument."""
    return _sample(points, tiles, "value", r=r, window=window, reducer=reducer)


def interp(
    points: DataFrame,
    tiles: DataFrame,
    order: int = 1,
    r: int = DEFAULT_RES,
) -> DataFrame:
    """R14: nearest (order=0), bilinear (order=1), quadratic Dodgson r=1
    (order=2), bicubic Keys a=-0.5 (order=3), or prefiltered B-spline
    (orders 4/5 — the scipy map_coordinates semantics, mirror boundary;
    oracle.interp_bspline)."""
    if order == 0:
        return value_at_coords(points, tiles, r=r)
    if order == 2:
        return _sample(points, tiles, "interp2", r=r)
    if order == 3:
        return _sample(points, tiles, "interp3", r=r)
    if order in (4, 5):
        return _sample(points, tiles, f"interp{order}", r=r)
    if order != 1:
        raise NotImplementedError(
            "only orders 0 (nearest), 1 (bilinear), 2 (quadratic), 3 (bicubic),"
            " 4 (quartic B-spline), 5 (quintic B-spline) are supported"
        )
    return _sample(points, tiles, "interp", r=r)


def coord_to_px(points: DataFrame, tiles: DataFrame, r: int = DEFAULT_RES) -> DataFrame:
    """R9 as a join: (point_id, image_id, px, py) integer pixel indices in
    the lowest-image_id containing tile — pure Column math, no UDF."""
    pts = F.broadcast(
        points.select(
            "point_id", "x", "y", cells.cell_encode(F.col("x"), F.col("y"), r).alias("cell_id")
        )
    )
    tl = tiles.select(
        "image_id", "w", "h", "gt_x0", "gt_y0", "gt_xres", "gt_yres",
        "xmin", "xmax", "ymin", "ymax", F.explode("cover_cells").alias("cell_id"),
    )
    cand = tl.join(pts, "cell_id").where(
        (F.col("x") >= F.col("xmin")) & (F.col("x") < F.col("xmax"))
        & (F.col("y") > F.col("ymin")) & (F.col("y") <= F.col("ymax"))
    )
    px = F.least(
        F.greatest(F.floor((F.col("x") - F.col("gt_x0")) / F.col("gt_xres")), F.lit(0)),
        F.col("w").cast("long") - 1,
    )
    py = F.least(
        F.greatest(F.floor((F.col("gt_y0") - F.col("y")) / F.col("gt_yres")), F.lit(0)),
        F.col("h").cast("long") - 1,
    )
    win = Window.partitionBy("point_id").orderBy("image_id")
    return (
        cand.select("point_id", "image_id", px.alias("px"), py.alias("py"))
        .withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
