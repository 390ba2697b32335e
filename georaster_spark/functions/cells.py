"""GQK cell index as pure Spark Column expressions (ops E2/E3 — SURVEY §2.2).

No UDFs: everything here stays inside whole-stage codegen on the JVM.
The NumPy twin lives in georaster_spark.oracle (cell_encode etc.) and the
DuckDB twin is inlined in __spark_entry__.oracle_sql — all three share the
packing  cell_id = r*2^58 + iy*2^r + ix  over the fixed engine domain.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..constants import DOMAIN, MAX_RES, RES_SHIFT


def _clamp(c: Column, lo: int, hi: int) -> Column:
    return F.least(F.greatest(c, F.lit(lo)), F.lit(hi))


def cell_ix(x: Column, r: int) -> Column:
    s = float(DOMAIN >> r)
    return _clamp(F.floor(x / F.lit(s)), 0, (1 << r) - 1)


def cell_iy(y: Column, r: int) -> Column:
    s = float(DOMAIN >> r)
    return _clamp(F.floor((F.lit(float(DOMAIN)) - y) / F.lit(s)), 0, (1 << r) - 1)


def cell_encode(x: Column, y: Column, r: int) -> Column:
    """World (x, y) -> bigint cell id at resolution r (op E2)."""
    if not 0 <= r <= MAX_RES:
        raise ValueError(f"resolution {r} outside [0, {MAX_RES}]")
    return (
        F.lit(r << RES_SHIFT) + cell_iy(y, r) * F.lit(1 << r) + cell_ix(x, r)
    ).cast("long")


def cell_parent(cell: Column, r: int) -> Column:
    """Parent of a cell known to be at resolution r (static r keeps this a
    constant-folded expression)."""
    rest = cell - F.lit(r << RES_SHIFT)
    ix = rest % F.lit(1 << r)
    iy = F.floor(rest / F.lit(1 << r))
    rp = r - 1
    return (
        F.lit(rp << RES_SHIFT)
        + F.floor(iy / F.lit(2)) * F.lit(1 << rp)
        + F.floor(ix / F.lit(2))
    ).cast("long")


def cell_parent_chain(cell: Column, r_from: int, r_to: int) -> Column:
    """Ancestor of a res-r_from cell at coarser res r_to (one expression,
    no iteration — used for work-unit keys in op E9)."""
    if not 0 <= r_to <= r_from:
        raise ValueError(f"need 0 <= r_to <= r_from, got {r_from}->{r_to}")
    rest = cell - F.lit(r_from << RES_SHIFT)
    ix = rest % F.lit(1 << r_from)
    iy = F.floor(rest / F.lit(1 << r_from))
    shift = 1 << (r_from - r_to)
    return (
        F.lit(r_to << RES_SHIFT)
        + F.floor(iy / F.lit(shift)) * F.lit(1 << r_to)
        + F.floor(ix / F.lit(shift))
    ).cast("long")


def cell_cover(
    xmin: Column, xmax: Column, ymin: Column, ymax: Column, r: int
) -> Column:
    """array<bigint> of all res-r cells touched by the closed-open box
    [xmin, xmax) x (ymin, ymax] — op E3.  Row-major ascending, matching
    oracle.cell_cover exactly.  Pure higher-order functions, no UDF."""
    s = float(DOMAIN >> r)
    n = (1 << r) - 1
    ix0 = _clamp(F.floor(xmin / F.lit(s)), 0, n)
    ix1 = F.greatest(_clamp(F.ceil(xmax / F.lit(s)) - 1, 0, n), ix0)
    iy0 = _clamp(F.floor((F.lit(float(DOMAIN)) - ymax) / F.lit(s)), 0, n)
    iy1 = F.greatest(_clamp(F.ceil((F.lit(float(DOMAIN)) - ymin) / F.lit(s)) - 1, 0, n), iy0)
    base = F.lit(r << RES_SHIFT)
    return F.flatten(
        F.transform(
            F.sequence(iy0, iy1),
            lambda iy: F.transform(
                F.sequence(ix0, ix1),
                lambda ix: (base + iy * F.lit(1 << r) + ix).cast("long"),
            ),
        )
    )


def cell_cover2(
    xmin: Column, xmax: Column, ymin: Column, ymax: Column, r: int
) -> Column:
    """Codegen fast path of cell_cover for boxes spanning at most 2 cells
    per axis (box edge <= cell edge, e.g. georegistered tiles at the
    ingest resolution).  Bit-identical output to cell_cover — row-major
    ascending distinct cells — but built from 4 corner-cell ids with
    CaseWhen/CreateArray (whole-stage codegen) instead of the
    sequence/transform/flatten higher-order functions, which are
    CodegenFallback in Spark 4: interpreted per row, allocating several
    boxed arrays each — the dominant cost (and GC pressure) of the E4
    tile-assignment leg at high parallelism.  Callers MUST guarantee the
    span bound: georegister() dispatches statically on
    (DOMAIN >> r) >= TILE_SPAN (its tiles are exactly TILE_SPAN wide by
    construction); with_cells() guards per row with
    F.when(span <= cell_edge, cover2).otherwise(cover) because its
    callers bring arbitrary footprints.
    """
    s = float(DOMAIN >> r)
    n = (1 << r) - 1
    ix0 = _clamp(F.floor(xmin / F.lit(s)), 0, n)
    ix1 = F.greatest(_clamp(F.ceil(xmax / F.lit(s)) - 1, 0, n), ix0)
    iy0 = _clamp(F.floor((F.lit(float(DOMAIN)) - ymax) / F.lit(s)), 0, n)
    iy1 = F.greatest(_clamp(F.ceil((F.lit(float(DOMAIN)) - ymin) / F.lit(s)) - 1, 0, n), iy0)
    base = F.lit(r << RES_SHIFT)

    def cid(iy: Column, ix: Column) -> Column:
        return (base + iy * F.lit(1 << r) + ix).cast("long")

    c00, c01 = cid(iy0, ix0), cid(iy0, ix1)
    c10, c11 = cid(iy1, ix0), cid(iy1, ix1)
    dx, dy = ix1 > ix0, iy1 > iy0
    return (
        F.when(dx & dy, F.array(c00, c01, c10, c11))
        .when(dx, F.array(c00, c01))
        .when(dy, F.array(c00, c10))
        .otherwise(F.array(c00))
    )


def cell_neighbors(cell: Column, r: int, ring: int = 1) -> Column:
    """array<bigint> of cells within Chebyshev distance `ring` (incl. self),
    clamped at the domain edge; ascending by construction (row-major scan)."""
    n = (1 << r) - 1
    rest = cell - F.lit(r << RES_SHIFT)
    ix = rest % F.lit(1 << r)
    iy = F.floor(rest / F.lit(1 << r))
    base = F.lit(r << RES_SHIFT)
    return F.array_distinct(
        F.flatten(
            F.transform(
                F.sequence(F.lit(-ring), F.lit(ring)),
                lambda dy: F.transform(
                    F.sequence(F.lit(-ring), F.lit(ring)),
                    lambda dx: (
                        base
                        + _clamp(iy + dy, 0, n) * F.lit(1 << r)
                        + _clamp(ix + dx, 0, n)
                    ).cast("long"),
                ),
            )
        )
    )
