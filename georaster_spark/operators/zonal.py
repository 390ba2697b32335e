"""Op E7 — zonal extraction (raster <-> vector) (SURVEY §2.2).

Per (tile, zone) overlap: mask the pixels whose CENTERS fall inside the
zone ring (convex half-plane test, boundary inside — same rule as op E5),
reduce to partial stats per pair, then a final per-zone hash aggregation.
Classic partial+final: only tiny partial rows (zone_id + 5 numbers) reach
the one shuffle; pixel bytes never move.

Candidate generation: zones are dims-sized -> broadcast JOIN on bbox
overlap (BroadcastNestedLoopJoin).  That emits each (tile, zone) pair
exactly once — no explode, no dedup pass, and the tile side stays a
map-only scan.  (For zone tables too large to broadcast, switch to the
cell-key equi-join path of op E5 and dedup pairs partition-locally;
pairs born from one tile row never cross partitions.)

All pixel work is batched NumPy inside mapInPandas; partial sums are
integer-exact (uint8 pixels, int64 accumulators) so the final per-zone
stats are bit-for-bit reproducible across parallelism levels and match
the DuckDB oracle exactly.

Reference analog: none (georaster is raster-only); this is the
raster<->vector extraction mandated by BASELINE.json.north_rule.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import oracle

_PARTIAL_SCHEMA = "zone_id long, cnt long, s long, mn long, mx long, ss long"


def _iter_zone_pairs(pdf: pd.DataFrame):
    """Iterate the (tile, zone) pair rows of one Arrow batch as
    (k, zone_id, pixels, xs, ys, rx, ry, nodata) with the two caches the
    join stream makes profitable:

    - pairs born from one tile row leave the BroadcastNestedLoopJoin
      consecutively, so a last-tile cache (keyed on the bytes VALUE +
      origin, not object identity — the join copies the buffer per output
      row) turns per-pair decode + pixel-center synthesis into per-tile;
    - zone rings repeat across every overlapping tile, so ring->array
      conversion caches on zone_id (dim-sized, bounded by the broadcast).

    Column access is via .to_numpy() once per batch — the per-row
    pdf.iloc Series materialization it replaces measured ~1.3 ms/row,
    dominating the whole zonal stage."""
    by = pdf["bytes"].to_numpy(object)
    ws = pdf["w"].to_numpy()
    hs = pdf["h"].to_numpy()
    fm = pdf["fmt"].to_numpy(object)
    x0 = pdf["gt_x0"].to_numpy()
    y0 = pdf["gt_y0"].to_numpy()
    xr = pdf["gt_xres"].to_numpy()
    yr = pdf["gt_yres"].to_numpy()
    zid = pdf["zone_id"].to_numpy()
    rings = pdf["ring"].to_numpy(object) if "ring" in pdf.columns else None
    nds = pdf["nodata"].to_numpy(object) if "nodata" in pdf.columns else None
    ring_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    prev_b = None
    prev_x0 = prev_y0 = None
    arr = xs = ys = None
    for k in range(len(pdf)):
        b = by[k]
        if b is not prev_b and (
            prev_b is None or b != prev_b or x0[k] != prev_x0 or y0[k] != prev_y0
        ):
            arr = oracle.decode_pixels(b, int(ws[k]), int(hs[k]), fm[k])
            h, w = arr.shape
            xs, ys = oracle.pixel_centers(x0[k], y0[k], xr[k], yr[k], w, h)
        prev_b, prev_x0, prev_y0 = b, x0[k], y0[k]
        if rings is None:
            rx = ry = None
        else:
            z = int(zid[k])
            rr = ring_cache.get(z)
            if rr is None:
                ring = rings[k]
                rr = ring_cache[z] = (
                    np.asarray([p["x"] for p in ring], dtype=np.float64),
                    np.asarray([p["y"] for p in ring], dtype=np.float64),
                )
            rx, ry = rr
        nd = nds[k] if nds is not None else None
        if nd is not None and isinstance(nd, float) and np.isnan(nd):
            nd = None
        yield k, int(zid[k]), arr, xs, ys, rx, ry, nd


def _partial_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in ("zone_id", "cnt", "s", "mn", "mx", "ss")}
        for _, zone_id, arr, xs, ys, rx, ry, nd in _iter_zone_pairs(pdf):
            inside = oracle.pip_halfplane(rx, ry, xs.ravel(), ys.ravel())
            vals = arr.ravel()[inside].astype(np.int64)
            if nd is not None:
                # masked-read parity: nodata pixels never enter the stats
                # (compare in float64 — a fractional nodata matches nothing)
                vals = vals[vals.astype(np.float64) != float(nd)]
            if vals.size == 0:
                continue
            out["zone_id"].append(zone_id)
            out["cnt"].append(int(vals.size))
            out["s"].append(int(vals.sum()))
            out["mn"].append(int(vals.min()))
            out["mx"].append(int(vals.max()))
            out["ss"].append(int((vals * vals).sum()))
        yield pd.DataFrame(out)


def zonal_stats(tiles: DataFrame, zones: DataFrame) -> DataFrame:
    """(zone_id, n_pixels, sum_val, min_val, max_val, mean_val) over all
    pixels whose centers fall inside each zone.  Tiles carrying a non-null
    `nodata` get masked-read semantics: nodata pixels are excluded from
    every stat (GDAL masked-array parity, SURVEY §1.1)."""
    nodata_col = (
        F.col("nodata").cast("double") if "nodata" in tiles.columns
        else F.lit(None).cast("double")
    )
    z = F.broadcast(zones.select("zone_id", "ring", "xmin", "xmax", "ymin", "ymax"))
    t = tiles.select(
        "bytes", "w", "h", "fmt", "gt_x0", "gt_y0", "gt_xres", "gt_yres",
        nodata_col.alias("nodata"),
        F.col("xmin").alias("t_xmin"), F.col("xmax").alias("t_xmax"),
        F.col("ymin").alias("t_ymin"), F.col("ymax").alias("t_ymax"),
    )
    pairs = t.join(
        z,
        (F.col("t_xmin") < F.col("xmax")) & (F.col("t_xmax") > F.col("xmin"))
        & (F.col("t_ymin") < F.col("ymax")) & (F.col("t_ymax") > F.col("ymin")),
    )
    partials = pairs.mapInPandas(_partial_stats, schema=_PARTIAL_SCHEMA)
    return (
        partials.groupBy("zone_id")
        .agg(
            F.sum("cnt").alias("n_pixels"),
            F.sum("s").alias("sum_val"),
            F.min("mn").alias("min_val"),
            F.max("mx").alias("max_val"),
            F.round(F.sum("s") / F.sum("cnt"), 6).alias("mean_val"),
        )
        # one row per zone: a local sort of the coalesced result gives the
        # order without orderBy's range-bounds sampling job and shuffle
        .coalesce(1)
        .sortWithinPartitions("zone_id")
    )


_HIST_PARTIAL_SCHEMA = "zone_id long, bin long, cnt long"


def _partial_hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        zs: list[np.ndarray] = []
        bs: list[np.ndarray] = []
        cs: list[np.ndarray] = []
        for _, zone_id, arr, xs, ys, rx, ry, nd in _iter_zone_pairs(pdf):
            inside = oracle.pip_halfplane(rx, ry, xs.ravel(), ys.ravel())
            vals = arr.ravel()[inside].astype(np.int64)
            if nd is not None:
                vals = vals[vals.astype(np.float64) != float(nd)]
            if vals.size == 0:
                continue
            bins, cnts = np.unique(vals, return_counts=True)
            zs.append(np.full(len(bins), zone_id, dtype=np.int64))
            bs.append(bins)
            cs.append(cnts.astype(np.int64))
        if zs:
            yield pd.DataFrame(
                {
                    "zone_id": np.concatenate(zs),
                    "bin": np.concatenate(bs),
                    "cnt": np.concatenate(cs),
                }
            )
        else:
            yield pd.DataFrame({"zone_id": [], "bin": [], "cnt": []})


def zonal_histogram(tiles: DataFrame, zones: DataFrame) -> DataFrame:
    """(zone_id, bin, cnt) value histogram of the in-zone pixels — same
    pair generation and masked-read semantics as zonal_stats, but the
    partial rows are per-value counts (<=256/pair for uint8), so the one
    shuffle stays O(pairs * distinct-values), never O(pixels)."""
    nodata_col = (
        F.col("nodata").cast("double") if "nodata" in tiles.columns
        else F.lit(None).cast("double")
    )
    z = F.broadcast(zones.select("zone_id", "ring", "xmin", "xmax", "ymin", "ymax"))
    t = tiles.select(
        "bytes", "w", "h", "fmt", "gt_x0", "gt_y0", "gt_xres", "gt_yres",
        nodata_col.alias("nodata"),
        F.col("xmin").alias("t_xmin"), F.col("xmax").alias("t_xmax"),
        F.col("ymin").alias("t_ymin"), F.col("ymax").alias("t_ymax"),
    )
    pairs = t.join(
        z,
        (F.col("t_xmin") < F.col("xmax")) & (F.col("t_xmax") > F.col("xmin"))
        & (F.col("t_ymin") < F.col("ymax")) & (F.col("t_ymax") > F.col("ymin")),
    )
    partials = pairs.mapInPandas(_partial_hist, schema=_HIST_PARTIAL_SCHEMA)
    return partials.groupBy("zone_id", "bin").agg(F.sum("cnt").alias("cnt"))


def zonal_quantiles(
    tiles: DataFrame, zones: DataFrame, qs: tuple[float, ...] = (0.25, 0.5, 0.95)
) -> DataFrame:
    """Exact per-zone quantiles derived from the zonal histogram by the
    same integer cumulative rule as the corpus quantiles (smallest bin
    whose per-zone cumulative count reaches ceil(q * total)) — the GIS
    'zonal percentile' op, exact because the value domain is discrete."""
    from .raster_stats import histogram_quantiles

    return histogram_quantiles(zonal_histogram(tiles, zones), qs, key="zone_id")


_ARGMAX_PARTIAL_SCHEMA = (
    "zone_id long, mx long, image_id string, pidx long, px double, py double"
)


def _partial_argmax(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in ("zone_id", "mx", "image_id", "pidx", "px", "py")}
        ids = pdf["image_id"].to_numpy(object)
        for k, zone_id, arr, xs, ys, rx, ry, _ in _iter_zone_pairs(pdf):
            inside = oracle.pip_halfplane(rx, ry, xs.ravel(), ys.ravel())
            if not inside.any():
                continue
            flat = arr.ravel()
            in_idx = np.nonzero(inside)[0]
            vals = flat[in_idx].astype(np.int64)
            vmax = int(vals.max())
            # smallest pixel index attaining the max (deterministic tie)
            pidx = int(in_idx[vals == vmax].min())
            out["zone_id"].append(zone_id)
            out["mx"].append(vmax)
            out["image_id"].append(ids[k])
            out["pidx"].append(pidx)
            out["px"].append(float(xs.ravel()[pidx]))
            out["py"].append(float(ys.ravel()[pidx]))
        yield pd.DataFrame(out)


def zonal_argmax(tiles: DataFrame, zones: DataFrame) -> DataFrame:
    """Zonal MAXIMUM-LOCATION (ArcGIS 'Zonal Statistics: MAXIMUM' +
    max-location): per zone, the max in-zone pixel value and WHERE it
    is — source image, pixel index, and world coordinates of the pixel
    center.  Tie rule: highest value, then smallest (image_id, pidx) —
    deterministic across engines and parallelism.

    Same partial+final shape as zonal_stats: each (tile, zone) pair
    reduces to ONE slim candidate row map-side (pixels never shuffle);
    the final per-zone pick is a lexicographic struct-min over
    (-value, image_id, pidx)."""
    z = F.broadcast(zones.select("zone_id", "ring", "xmin", "xmax", "ymin", "ymax"))
    t = tiles.select(
        "image_id", "bytes", "w", "h", "fmt", "gt_x0", "gt_y0", "gt_xres", "gt_yres",
        F.col("xmin").alias("t_xmin"), F.col("xmax").alias("t_xmax"),
        F.col("ymin").alias("t_ymin"), F.col("ymax").alias("t_ymax"),
    )
    pairs = t.join(
        z,
        (F.col("t_xmin") < F.col("xmax")) & (F.col("t_xmax") > F.col("xmin"))
        & (F.col("t_ymin") < F.col("ymax")) & (F.col("t_ymax") > F.col("ymin")),
    )
    partials = pairs.mapInPandas(_partial_argmax, schema=_ARGMAX_PARTIAL_SCHEMA)
    best = F.min(
        F.struct(
            (-F.col("mx")).alias("negv"), "image_id", "pidx", "px", "py"
        )
    ).alias("best")
    return (
        partials.groupBy("zone_id")
        .agg(best)
        .select(
            "zone_id",
            (-F.col("best.negv")).alias("max_val"),
            F.col("best.image_id").alias("max_image"),
            F.col("best.pidx").alias("max_pidx"),
            F.col("best.px").alias("max_px"),
            F.col("best.py").alias("max_py"),
        )
    )


def zonal_majority(tiles: DataFrame, zones: DataFrame) -> DataFrame:
    """Zonal MAJORITY/mode (the categorical zonal statistic — GIS
    'zonal majority/variety'): per zone, the most frequent in-zone pixel
    value, its count, the variety (distinct value count), and the total.

    Tie rule: highest count, then LOWEST value — deterministic across
    engines.  Implemented as a single hash aggregation over the zonal
    histogram using lexicographic struct-max (cnt, -bin): no window, no
    second shuffle beyond the tiny (zone, bin) -> zone agg; pixel bytes
    never move (the histogram partials are <=256 rows per pair)."""
    hist = zonal_histogram(tiles, zones)
    top = F.max(F.struct(F.col("cnt"), (-F.col("bin")).alias("negbin"))).alias("top")
    return (
        hist.groupBy("zone_id")
        .agg(
            top,
            F.count(F.lit(1)).alias("n_variety"),
            F.sum("cnt").alias("n_pixels"),
        )
        .select(
            "zone_id",
            (-F.col("top.negbin")).alias("majority_val"),
            F.col("top.cnt").alias("majority_cnt"),
            "n_variety",
            "n_pixels",
        )
    )


_FRAC_SCALE = 1 << 20
_FRAC_SCHEMA = "zone_id long, n_px long, wsum long, vwsum long"


def _partial_frac(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in ("zone_id", "n_px", "wsum", "vwsum")}
        by = pdf["bytes"].to_numpy(object)
        ws = pdf["w"].to_numpy()
        hs = pdf["h"].to_numpy()
        fm = pdf["fmt"].to_numpy(object)
        gx0 = pdf["gt_x0"].to_numpy()
        gy0 = pdf["gt_y0"].to_numpy()
        gxr = pdf["gt_xres"].to_numpy()
        gyr = pdf["gt_yres"].to_numpy()
        zxmin = pdf["xmin"].to_numpy()
        zxmax = pdf["xmax"].to_numpy()
        zymin = pdf["ymin"].to_numpy()
        zymax = pdf["ymax"].to_numpy()
        zid = pdf["zone_id"].to_numpy()
        prev_b = None
        prev_x0 = None
        arr = None
        for k in range(len(pdf)):
            b = by[k]
            if b is not prev_b and (
                prev_b is None or b != prev_b or gx0[k] != prev_x0
            ):
                arr = oracle.decode_pixels(
                    b, int(ws[k]), int(hs[k]), fm[k]
                ).astype(np.int64)
            prev_b, prev_x0 = b, gx0[k]
            h, w = arr.shape
            x0, y0 = gx0[k], gy0[k]
            xr, yr = gxr[k], gyr[k]
            jj = np.arange(w, dtype=np.float64)
            ii = np.arange(h, dtype=np.float64)
            # 1-D overlap fractions; expression shape MUST match the SQL
            # twin exactly (greatest(least(..) - greatest(..), 0) / res)
            wx = np.maximum(
                np.minimum(x0 + (jj + 1) * xr, zxmax[k])
                - np.maximum(x0 + jj * xr, zxmin[k]),
                0.0,
            ) / xr
            wy = np.maximum(
                np.minimum(y0 - ii * yr, zymax[k])
                - np.maximum(y0 - (ii + 1) * yr, zymin[k]),
                0.0,
            ) / yr
            wt = np.floor((wy[:, None] * wx[None, :]) * float(_FRAC_SCALE)).astype(
                np.int64
            )
            pos = wt > 0
            if not pos.any():
                continue
            out["zone_id"].append(int(zid[k]))
            out["n_px"].append(int(pos.sum()))
            out["wsum"].append(int(wt.sum()))
            out["vwsum"].append(int((arr * wt).sum()))
        yield pd.DataFrame(out)


def zonal_frac_rect(tiles: DataFrame, zones: DataFrame) -> DataFrame:
    """Fractional-coverage zonal statistics over RECTANGLE zones — the
    exact area-weighted variant of zonal_stats (GDAL/exactextract
    "fraction" semantics vs the center-in rule; upstream georaster users
    reach for exactextract precisely because center-in biases small
    zones — SURVEY §1.1 ⚠).  Each pixel cell contributes its covered
    AREA fraction: the product of two 1-D overlap fractions for
    axis-aligned zones, quantized to integer 2^-20 units by floor() so
    every aggregate is an exact int64 — bit-reproducible across
    parallelism and engines (the floor of identically-computed doubles
    is engine-independent).

    Per zone: n_px (cells with positive coverage), wsum (total covered
    area in 2^-20 cell units), vwsum (coverage-weighted pixel sum); the
    area-weighted mean is vwsum/wsum downstream.

    Scale shape: identical to zonal_stats — broadcast bbox join, fused
    partial per (tile, zone) pair (pixels never shuffle), tiny
    partial+final agg."""
    z = F.broadcast(
        zones.where(F.col("kind") == "rect").select(
            "zone_id", "xmin", "xmax", "ymin", "ymax"
        )
    )
    t = tiles.select(
        "bytes", "w", "h", "fmt", "gt_x0", "gt_y0", "gt_xres", "gt_yres",
        F.col("xmin").alias("t_xmin"), F.col("xmax").alias("t_xmax"),
        F.col("ymin").alias("t_ymin"), F.col("ymax").alias("t_ymax"),
    )
    pairs = t.join(
        z,
        (F.col("t_xmin") < F.col("xmax")) & (F.col("t_xmax") > F.col("xmin"))
        & (F.col("t_ymin") < F.col("ymax")) & (F.col("t_ymax") > F.col("ymin")),
    )
    partials = pairs.mapInPandas(_partial_frac, schema=_FRAC_SCHEMA)
    return partials.groupBy("zone_id").agg(
        F.sum("n_px").alias("n_px"),
        F.sum("wsum").alias("wsum"),
        F.sum("vwsum").alias("vwsum"),
    )


def coverage_audit(tiles: DataFrame, zones: DataFrame) -> DataFrame:
    """Per-zone tile-coverage census INCLUDING uncovered zones — the QA
    query a tiling pipeline runs before shipping an AOI product ("which
    requested zones have no imagery at all?").  Coverage here is bbox
    overlap (a convex zone counts via its bbox — the conservative
    planning answer; the exact-geometry refine is pip_join's job).

    Per zone: n_tiles (0 for gaps), Σidx tile-set checksum pinning the
    exact covering set, and the uncovered flag.

    Scale shape: zones are the broadcast dim side (same posture as E5/
    E7); the census is a combiner-friendly count agg on zone_id
    (|zones| rows out), then a LEFT join of the zones dim onto the tiny
    census — no shuffle ever touches the tile side's width."""
    from . import georegister as geo

    z = F.broadcast(
        zones.select("zone_id", "xmin", "xmax", "ymin", "ymax")
    )
    t = tiles.select(
        geo.image_idx().alias("t_idx"),
        F.col("xmin").alias("t_xmin"), F.col("xmax").alias("t_xmax"),
        F.col("ymin").alias("t_ymin"), F.col("ymax").alias("t_ymax"),
    )
    census = (
        t.join(
            z,
            (F.col("t_xmin") < F.col("xmax")) & (F.col("t_xmax") > F.col("xmin"))
            & (F.col("t_ymin") < F.col("ymax")) & (F.col("t_ymax") > F.col("ymin")),
        )
        .groupBy("zone_id")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum("t_idx").alias("tile_checksum"),
        )
    )
    return (
        zones.select("zone_id")
        .join(census, "zone_id", "left")
        .select(
            "zone_id",
            F.coalesce(F.col("n_tiles"), F.lit(0)).alias("n_tiles"),
            F.coalesce(F.col("tile_checksum"), F.lit(0)).alias("tile_checksum"),
            (F.col("n_tiles").isNull()).cast("long").alias("uncovered"),
        )
    )
