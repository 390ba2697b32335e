"""Op E1 — georegister / ingest (SURVEY §2.2).

Derives geo-metadata columns deterministically from ``image_id`` and
widens the input images table (BASELINE.json.input_hint shape) into the
working ``tiles`` schema (SURVEY §1.2):

    tiles = images + (gt_x0, gt_y0, gt_xres, gt_yres, crs, nodata,
                      nbands, xmin, xmax, ymin, ymax,
                      cell_r, cell_id, cover_cells)

Everything is pure Column arithmetic (whole-stage codegen, zero UDFs,
zero shuffles — a map-only stage even at 10^12 rows).  The identical
formulas live in oracle.georegister (NumPy) and in the DuckDB oracle SQL,
which is what makes tile ids bit-for-bit checkable across engines
(north_rule requirement).

Reference analog: the georeferencing georaster reads from GDAL at open
(georaster/georaster.py :: __Raster._load_ds ≈L120-220 ⚠ UNVERIFIED,
SURVEY §0) — here synthesized instead of read, per FIXTURES.md §3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import (
    BASE_OFF,
    DEFAULT_RES,
    DOMAIN,
    HOT_ANCHORS,
    HOT_EVERY,
    HOT_PHASE,
    JITTER_AX,
    JITTER_AY,
    JITTER_HALF,
    JITTER_MOD,
    TILE_SPAN,
    GRID_W,
)
from ..functions import cells
from ..functions.util import per_jvm


def image_idx(image_id=None):
    """'img00001234' -> 1234 (bigint)."""
    if image_id is None:
        image_id = F.col("image_id")
    return F.substring(image_id, 4, 10).cast("long")


@per_jvm
def _georegister_levels(r: int) -> tuple[dict[str, Column], ...]:
    """georegister's projection at resolution r, one dict per dependency
    level, in output column order."""
    idx = image_idx()
    gx = idx % GRID_W
    gy = F.floor(idx / GRID_W)
    jx = (idx * JITTER_AX) % JITTER_MOD - JITTER_HALF
    jy = (idx * JITTER_AY) % JITTER_MOD - JITTER_HALF
    hot = (idx % HOT_EVERY) == HOT_PHASE
    hk = F.floor(idx / HOT_EVERY) % 3
    ax = F.element_at(F.array(*[F.lit(float(a[0])) for a in HOT_ANCHORS]), (hk + 1).cast("int"))
    ay = F.element_at(F.array(*[F.lit(float(a[1])) for a in HOT_ANCHORS]), (hk + 1).cast("int"))
    gt_x0 = F.when(hot, ax + (idx % 97)).otherwise(
        F.lit(TILE_SPAN) * gx + jx + F.lit(BASE_OFF)
    ).cast("double")
    gt_y0 = F.when(hot, ay + (idx % 89)).otherwise(
        F.lit(TILE_SPAN) * (gy + 1) + jy + F.lit(BASE_OFF)
    ).cast("double")
    x0, y0 = F.col("gt_x0"), F.col("gt_y0")
    w, h = F.col("w"), F.col("h")
    # Tiles here are exactly TILE_SPAN wide/tall by construction
    # (gt_xres = TILE_SPAN / w), so whenever the cell edge at r is
    # >= TILE_SPAN the footprint spans at most 2 cells per axis and the
    # codegen corner-enumeration cover (cell_cover2) is bit-identical to
    # the general higher-order-fn cover — which is CodegenFallback in
    # Spark 4 and was the dominant cost of the E4 ingest leg.  Static
    # dispatch is safe ONLY here, where the span bound holds by
    # construction; with_cells (arbitrary footprints) guards per row.
    cover_fn = cells.cell_cover2 if (DOMAIN >> r) >= TILE_SPAN else cells.cell_cover
    return (
        {
            "gt_x0": gt_x0,
            "gt_y0": gt_y0,
            "gt_xres": F.lit(TILE_SPAN) / w,
            "gt_yres": F.lit(TILE_SPAN) / h,
            "crs": F.lit("EPSG:3857"),
            "nodata": F.lit(None).cast("double"),
            "nbands": F.lit(1),
        },
        {
            "xmin": x0,
            "xmax": x0 + w * F.col("gt_xres"),
            "ymin": y0 - h * F.col("gt_yres"),
            "ymax": y0,
            "cell_r": F.lit(r),
            "cell_id": cells.cell_encode(x0, y0, r),
        },
        {
            "cover_cells": cover_fn(
                F.col("xmin"), F.col("xmax"), F.col("ymin"), F.col("ymax"), r
            ),
        },
    )


def georegister(images: DataFrame, r: int = DEFAULT_RES) -> DataFrame:
    """images + the geo-metadata, extent and cell columns (module docstring).

    The projection is about a hundred Column operations.  Building one
    costs several py4j round-trips (method lookup, call-site bookkeeping,
    the call), about 1,400 for the whole projection, and georegister
    has hundreds of call sites.  So the expressions are built
    once per JVM and resolution (util.per_jvm) and reused, and each
    dependency level is applied as one `withColumns`: a repeated call
    sends about 55 commands.  The levels match the Projects Spark keeps
    after collapsing a `withColumn` chain, so the plan is unchanged."""
    for level in _georegister_levels(r):
        images = images.withColumns(level)
    return images


def with_cells(tiles: DataFrame, r: int = DEFAULT_RES) -> DataFrame:
    """Attach extent + cell columns to a table that already carries a
    geotransform (gt_x0/gt_y0/gt_xres/gt_yres, w, h) — the ingest path for
    pre-georeferenced tiles (e.g. the landsat parity fixture).

    Rotated geotransforms (GDAL gt[2]/gt[4] != 0, columns gt_rot0/
    gt_rot1 if the source carries them) are REJECTED loudly at ingest:
    upstream georaster tolerates rotation because GDAL resolves it
    (__Raster._load_ds ≈L150-180 ⚠, SURVEY §1.1 row 3), while this
    engine's extent/cell algebra is north-up by data model — silently
    ingesting a rotated tile would mis-register every downstream cell
    id.  The check is an `assert_true` folded into gt_x0 so it runs
    inside the projected plan (survives column pruning, costs one
    codegen comparison per row, no action added)."""
    if "gt_rot0" in tiles.columns or "gt_rot1" in tiles.columns:
        rot0 = F.col("gt_rot0") if "gt_rot0" in tiles.columns else F.lit(0.0)
        rot1 = F.col("gt_rot1") if "gt_rot1" in tiles.columns else F.lit(0.0)
        ok = (F.coalesce(rot0, F.lit(0.0)) == 0.0) & (
            F.coalesce(rot1, F.lit(0.0)) == 0.0
        )
        guard = F.assert_true(
            ok,
            F.concat(
                F.lit(
                    "georegister.with_cells: rotated geotransform unsupported "
                    "(north-up only; SURVEY §1.1 row 3 deviation): rot0="
                ),
                rot0.cast("string"),
                F.lit(" rot1="),
                rot1.cast("string"),
                F.lit(" image_id="),
                F.col("image_id").cast("string"),
            ),
        )
        tiles = tiles.withColumn(
            "gt_x0", F.coalesce(guard.cast("double"), F.col("gt_x0"))
        )
    df = (
        tiles.withColumn("xmin", F.col("gt_x0"))
        .withColumn("xmax", F.col("gt_x0") + F.col("w") * F.col("gt_xres"))
        .withColumn("ymin", F.col("gt_y0") - F.col("h") * F.col("gt_yres"))
        .withColumn("ymax", F.col("gt_y0"))
    )
    # Unlike georegister(), footprints here are UNBOUNDED (callers bring
    # their own geotransform — the landsat fixture already spans 1920 m),
    # so cell_cover2's <=2-cells-per-axis precondition must be checked
    # PER ROW: take the codegen corner cover only when the box edge fits
    # inside one cell edge on both axes, else the general cover.
    s = float(DOMAIN >> r)
    span_ok = ((F.col("xmax") - F.col("xmin")) <= F.lit(s)) & (
        (F.col("ymax") - F.col("ymin")) <= F.lit(s)
    )
    args = (F.col("xmin"), F.col("xmax"), F.col("ymin"), F.col("ymax"), r)
    return (
        df.withColumn("cell_r", F.lit(r))
        .withColumn("cell_id", cells.cell_encode(F.col("gt_x0"), F.col("gt_y0"), r))
        .withColumn(
            "cover_cells",
            F.when(span_ok, cells.cell_cover2(*args)).otherwise(cells.cell_cover(*args)),
        )
    )


@per_jvm
def _assignment_cols() -> tuple[Column, ...]:
    return F.col("image_id"), F.explode("cover_cells").alias("cell_id")


def tile_assignments(tiles: DataFrame) -> DataFrame:
    """Op E4 — one row per (image, covering cell); the north-rule
    bit-for-bit surface.  Determinism by construction: integer math only."""
    return tiles.select(*_assignment_cols())


@per_jvm
def centroid_x(df_or_prefix=""):
    p = df_or_prefix
    return F.col(f"{p}gt_x0") + F.col(f"{p}w") * F.col(f"{p}gt_xres") / 2.0


@per_jvm
def centroid_y(df_or_prefix=""):
    p = df_or_prefix
    return F.col(f"{p}gt_y0") - F.col(f"{p}h") * F.col(f"{p}gt_yres") / 2.0


def cell_rollup(
    tiles: DataFrame, r_from: int = DEFAULT_RES, levels: tuple = (11, 9, 7)
) -> DataFrame:
    """Hierarchical multi-resolution cell rollup (the hypertable /
    overview-catalog pattern): per-cell tile counts + width sums at the
    ingest resolution, then each coarser level re-aggregates the PREVIOUS
    level's aggregates via cell_parent_chain — never re-scanning the
    base table.  One slim shuffle at r_from; every coarser shuffle moves
    only ~4x-shrinking aggregate rows.  Output: (res, cell, n_tiles,
    sum_w) across all levels — the materialized-rollup a 10^12-tile
    catalog serves zoom queries from."""
    base = (
        tiles.groupBy(F.col("cell_id").alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum(F.col("w").cast("long")).alias("sum_w"),
        )
        # Materialize each level before the next consumes it — without
        # this, Spark's lazy DAG duplicates the WHOLE lineage into every
        # union arm (level r_min would re-scan parquet and re-run every
        # intermediate agg; caught by test_plan_quality's scan-count
        # gate).  Production twin: each level written as a catalog table
        # (that is what an overview catalog is); localCheckpoint is the
        # in-session equivalent.
        .localCheckpoint(eager=False)
    )
    out = base.select(
        F.lit(r_from).alias("res"), "cell", "n_tiles", "sum_w"
    )
    cur = base
    r_prev = r_from
    for r_to in levels:
        cur = (
            cur.select(
                cells.cell_parent_chain(F.col("cell"), r_prev, r_to).alias("cell"),
                "n_tiles",
                "sum_w",
            )
            .groupBy("cell")
            .agg(F.sum("n_tiles").alias("n_tiles"), F.sum("sum_w").alias("sum_w"))
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(
            cur.select(F.lit(r_to).alias("res"), "cell", "n_tiles", "sum_w")
        )
        r_prev = r_to
    return out
