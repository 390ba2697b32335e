"""Ops R8/R16 — extent reprojection and extent intersection (R7's extent
math is `plans/contract.q_extent`).

Reference: georaster/georaster.py :: __Raster._load_ds extent (≈L180-200
⚠), get_extent_latlon (≈L230-260 ⚠), get_extent_projected (≈L260-300 ⚠),
intersection (≈L760-780 ⚠) — UNVERIFIED bands, SURVEY §0.

All pure Column expressions (JVM-side, codegen); the CRS transform is the
closed-form WGS84<->WebMercator pair (no pyproj in sandbox, SURVEY §7.5),
twin of oracle.mercator_to_lonlat.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import DEFAULT_RES
from ..functions import cells

R_EARTH = 6378137.0


def merc_to_lon(x: Column) -> Column:
    return F.degrees(x / F.lit(R_EARTH))


def merc_to_lat(y: Column) -> Column:
    return F.degrees(F.lit(2.0) * F.atan(F.exp(y / F.lit(R_EARTH))) - F.lit(math.pi / 2.0))


def extent_latlon(tiles: DataFrame) -> DataFrame:
    """R8 — tile extent corners reprojected EPSG:3857 -> lon/lat.  All four
    corners are transformed and min/max taken (engine semantics, SURVEY
    §2.1 R8); for the axis-aligned Mercator case this reduces to
    transforming the two extremes, which the expressions below exploit
    (the transform is monotone per axis)."""
    return tiles.select(
        "image_id",
        merc_to_lon(F.col("xmin")).alias("lon_min"),
        merc_to_lon(F.col("xmax")).alias("lon_max"),
        merc_to_lat(F.col("ymin")).alias("lat_min"),
        merc_to_lat(F.col("ymax")).alias("lat_max"),
    )


def intersection(
    a: DataFrame, b: DataFrame, r: int = DEFAULT_RES, same_table: bool = False
) -> DataFrame:
    """R16 as a distributed range join: all pairs of tiles whose extents
    overlap, with the overlap box (greatest/least of bounds).

    Accelerated by the cell-key equi-prefilter (SURVEY §2.3 'range/theta
    joins'): both sides explode cover_cells, equi-join on cell_id, exact
    overlap predicate refines.  Pairs sharing several cells are deduped
    with the REFERENCE-POINT rule (spatial-join literature, PAPERS.md):
    a pair emits only in the cell containing the overlap box's top-left
    corner (greatest(xmin), least(ymax)) — that corner lies inside both
    tiles' closed-open boxes, so its cell is in both covers and is
    unique per pair.  Each pair therefore materializes EXACTLY once and
    the whole dedup is one codegen'd predicate inside the join — the
    previous groupBy(a_id, b_id) + first() dedup re-shuffled the entire
    duplicated pair stream a second time, which was the dominant cost
    under separate executor JVMs (queries_exec8 probe: 3.5x the
    single-JVM wall).  With same_table=True only (a_id < b_id) pairs
    emit."""
    ae = a.select(
        F.col("image_id").alias("a_id"),
        F.col("xmin").alias("a_xmin"), F.col("xmax").alias("a_xmax"),
        F.col("ymin").alias("a_ymin"), F.col("ymax").alias("a_ymax"),
        F.explode("cover_cells").alias("cell_id"),
    )
    be = b.select(
        F.col("image_id").alias("b_id"),
        F.col("xmin").alias("b_xmin"), F.col("xmax").alias("b_xmax"),
        F.col("ymin").alias("b_ymin"), F.col("ymax").alias("b_ymax"),
        F.explode("cover_cells").alias("cell_id"),
    )
    ixmin = F.greatest(F.col("a_xmin"), F.col("b_xmin"))
    ixmax = F.least(F.col("a_xmax"), F.col("b_xmax"))
    iymin = F.greatest(F.col("a_ymin"), F.col("b_ymin"))
    iymax = F.least(F.col("a_ymax"), F.col("b_ymax"))
    pred = (
        (F.col("a_xmin") < F.col("b_xmax")) & (F.col("a_xmax") > F.col("b_xmin"))
        & (F.col("a_ymin") < F.col("b_ymax")) & (F.col("a_ymax") > F.col("b_ymin"))
        # reference-point dedup: emit only in the overlap corner's cell
        & (F.col("cell_id") == cells.cell_encode(ixmin, iymax, r))
    )
    if same_table:
        pred = pred & (F.col("a_id") < F.col("b_id"))
    return (
        ae.join(be, "cell_id")
        .where(pred)
        .select(
            "a_id", "b_id",
            ixmin.alias("ixmin"), ixmax.alias("ixmax"),
            iymin.alias("iymin"), iymax.alias("iymax"),
        )
    )


def coordinates_demo(tiles: DataFrame) -> DataFrame:
    """R13 (SQL-expressible demo) — per-pixel CENTER world coordinates via
    sequence + explode + Column math (the UDF-side twin is
    oracle.pixel_centers).  Emits (image_id, i, j, cx, cy); intended for
    small tile subsets — the full per-pixel relation of a big table is
    deliberately an explode the caller opts into."""
    return (
        tiles.select(
            "image_id", "gt_x0", "gt_y0", "gt_xres", "gt_yres", "w",
            F.explode(F.sequence(F.lit(0), F.col("h") - 1)).alias("i"),
        )
        .select(
            "image_id", "gt_x0", "gt_y0", "gt_xres", "gt_yres", "i",
            F.explode(F.sequence(F.lit(0), F.col("w") - 1)).alias("j"),
        )
        .select(
            "image_id",
            "i",
            "j",
            (F.col("gt_x0") + (F.col("j") + 0.5) * F.col("gt_xres")).alias("cx"),
            (F.col("gt_y0") - (F.col("i") + 0.5) * F.col("gt_yres")).alias("cy"),
        )
    )
