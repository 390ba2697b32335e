"""Spatial-indexing breadth: XYZ/quadkey tile addressing, STR R-tree
bulk-load packing, and a within-radius spatial range join.

Reference analog: the tiling/index layer a georaster deployment grows
around the per-raster API — upstream exposes extent/geotransform math
(`georaster/georaster.py :: get_extent_latlon / extract_subset`
≈L260-420 ⚠ UNVERIFIED, SURVEY §0); the three ops here are the standard
public building blocks layered on it (slippy-map XYZ/Bing quadkey
addressing, the STR packing of Leutenegger et al. 1997 used by every
R-tree bulk loader, and the filter-refine distance join of SURVEY §2.2
E5/E6), all re-expressed as distributed DataFrame plans.

Scale notes per op:

* ``xyz_quadkey`` — pure integer Column math (zero UDF, codegen), one
  shuffle on the (tx, ty) group key.  Quadkey digits are an unrolled
  concat over the zoom levels, so the whole row stays inside
  whole-stage codegen.
* ``str_pack`` — STR bulk load IS a global sort; the scale hazard is
  that ``ntile()`` over an UN-partitioned window collapses to a single
  task.  We instead compute the global rank with the classic
  distributed idiom: repartitionByRange on the sort key, per-partition
  row_number, plus a broadcast P-row offset map (the only driver
  materialization is one count per partition — planner metadata,
  same class as the skew census).  The second-level ntile is windowed
  BY slice, which partitions fine.  SQL-standard ntile semantics are
  reproduced exactly from the rank (first N%S buckets one larger).
* ``radius_join`` — filter-refine: zones cover their R-dilated bbox
  with res-r cells (bounded ≤⌈2R/edge+1⌉² cells/zone), images key by
  centroid cell, one cell equi-join prunes the candidate space, then
  the exact squared-distance predicate refines inside codegen.  The
  per-zone aggregate carries an integer membership checksum (Σ idx)
  so the driver hash pins the exact member SET, not just counts.
  Never O(|images|·|zones|); the oracle cross join is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..constants import DOMAIN, TILE_SPAN
from ..functions import cells


def xyz_tile(cx: Column, cy: Column, zoom: int) -> tuple[Column, Column]:
    """Slippy-map tile indices (tx, ty) at `zoom` over the engine domain
    (y flips north-up → ty grows southward, the XYZ convention)."""
    n = 1 << zoom

    def _clamp(c: Column) -> Column:
        return F.least(F.greatest(c, F.lit(0)), F.lit(n - 1)).cast("long")

    tx = _clamp(F.floor((cx.cast("long") * n) / F.lit(DOMAIN)))
    ty = _clamp(F.floor(((F.lit(DOMAIN) - cy.cast("long")) * n) / F.lit(DOMAIN)))
    return tx, ty


def quadkey(tx: Column, ty: Column, zoom: int) -> Column:
    """Bing-maps quadkey string of an XYZ tile — unrolled concat of the
    per-level digits (base-4 interleave of the tx/ty bits), no UDF."""
    digits = []
    for k in range(1, zoom + 1):
        shift = 1 << (zoom - k)
        qx = F.floor(tx / F.lit(shift)) % 2
        qy = F.floor(ty / F.lit(shift)) % 2
        digits.append((qx + qy * 2).cast("int").cast("string"))
    return F.concat(*digits)


def xyz_quadkey_rollup(tiles: DataFrame, zoom: int) -> DataFrame:
    """Per-XYZ-tile rollup of a georegistered corpus at `zoom`: image
    count, idx checksum, and the tile's quadkey.  Map-only addressing +
    ONE shuffle on (tx, ty)."""
    cx = F.col("gt_x0") + F.lit(TILE_SPAN / 2)
    cy = F.col("gt_y0") - F.lit(TILE_SPAN / 2)
    tx, ty = xyz_tile(cx, cy, zoom)
    idx = F.substring("image_id", 4, 10).cast("long")
    d = tiles.select(
        tx.alias("tx"), ty.alias("ty"), idx.alias("idx")
    )
    return (
        d.groupBy("tx", "ty")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("idx").alias("idx_checksum"),
        )
        .withColumn("qk", quadkey(F.col("tx"), F.col("ty"), zoom))
    )


def _ntile_from_rank(rank: Column, n_rows: int, n_buckets: int) -> Column:
    """SQL-standard NTILE(n_buckets) bucket (1-based) from a 1-based
    global rank over n_rows rows: the first n_rows % n_buckets buckets
    get one extra row.  Pure Column math — lets us reproduce ntile
    without the single-task unpartitioned window."""
    q, rem = divmod(n_rows, n_buckets)
    if q == 0:
        return rank.cast("int")
    big = rem * (q + 1)
    return (
        F.when(rank <= big, F.floor((rank - 1) / F.lit(q + 1)))
        .otherwise(F.lit(rem) + F.floor((rank - big - 1) / F.lit(q)))
        .cast("int")
        + 1
    )


def global_rank(
    df: DataFrame, order_cols: list[str], n_parts: int = 32
) -> tuple[DataFrame, int]:
    """1-based dense global rank by `order_cols` (must be a unique total
    order) WITHOUT an unpartitioned window: repartitionByRange +
    per-partition row_number + broadcast cumulative offsets.  The only
    driver materialization is one (partition, count) row per partition.
    Returns (ranked df, total row count) — the count is free from the
    offset pass, sparing callers a second scan."""
    spark = df.sparkSession
    d = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    d = d.localCheckpoint(eager=False)  # pin partitioning for both passes
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    offs, acc = [], 0
    for pid, cnt in counts:
        offs.append((pid, acc))
        acc += cnt
    off_df = F.broadcast(
        spark.createDataFrame(offs, schema="_pid int, _off long")
    )
    ranked = (
        d.withColumn("_lr", F.row_number().over(w))
        .join(off_df, "_pid")
        .withColumn("rank", (F.col("_off") + F.col("_lr")).cast("long"))
        .drop("_pid", "_lr", "_off")
    )
    return ranked, acc


def str_pack(tiles: DataFrame, n_slices: int, n_parts: int = 32) -> DataFrame:
    """Sort-Tile-Recursive R-tree bulk-load packing (Leutenegger 1997):
    slice the corpus into `n_slices` vertical slices by centroid x, then
    cut each slice into `n_slices` leaves by centroid y; emit per-leaf
    occupancy and the exact leaf MBR (the R-tree leaf bounding boxes).

    leaf_id = (x_slice − 1)·n_slices + (y_cell − 1); idx_checksum pins
    the exact membership of every leaf."""
    idx = F.substring("image_id", 4, 10).cast("long")
    slim = tiles.select(
        F.col("image_id"),
        idx.alias("idx"),
        (F.col("gt_x0") + F.lit(TILE_SPAN / 2)).alias("cx"),
        (F.col("gt_y0") - F.lit(TILE_SPAN / 2)).alias("cy"),
        F.col("gt_x0").alias("xmin"),
        (F.col("gt_x0") + F.lit(TILE_SPAN)).alias("xmax"),
        (F.col("gt_y0") - F.lit(TILE_SPAN)).alias("ymin"),
        F.col("gt_y0").alias("ymax"),
    )
    ranked, n_rows = global_rank(slim, ["cx", "image_id"], n_parts)
    sliced = ranked.withColumn(
        "x_slice", _ntile_from_rank(F.col("rank"), n_rows, n_slices)
    )
    w = Window.partitionBy("x_slice").orderBy("cy", "image_id")
    leaves = sliced.withColumn("y_cell", F.ntile(n_slices).over(w))
    return (
        leaves.groupBy("x_slice", "y_cell")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("idx").alias("idx_checksum"),
            F.min("xmin").alias("leaf_xmin"),
            F.max("xmax").alias("leaf_xmax"),
            F.min("ymin").alias("leaf_ymin"),
            F.max("ymax").alias("leaf_ymax"),
        )
        .withColumn(
            "leaf_id",
            ((F.col("x_slice") - 1) * n_slices + F.col("y_cell") - 1).cast("long"),
        )
    )


def radius_join(
    tiles: DataFrame, zones: DataFrame, radius: float, r: int = 13
) -> DataFrame:
    """Within-radius spatial range join: per zone, the images whose
    centroid lies within `radius` of the zone centroid — count, exact
    integer membership checksum (Σ idx), min squared distance and the
    closest image (ties → smallest image_id).

    Filter: zones cover their radius-dilated centroid bbox with res-r
    cells (cell edge 8192 at r=13 ⇒ ≤⌈2R/8192⌉+1 cells/axis, bounded);
    images key by centroid cell.  Refine: exact squared distance inside
    the join's codegen.  Both sides shuffle on the cell key only."""
    idx = F.substring("image_id", 4, 10).cast("long")
    cx = F.col("gt_x0") + F.lit(TILE_SPAN / 2)
    cy = F.col("gt_y0") - F.lit(TILE_SPAN / 2)
    img = tiles.select(
        F.col("image_id"),
        idx.alias("idx"),
        cx.alias("cx"),
        cy.alias("cy"),
        cells.cell_encode(cx, cy, r).alias("cell"),
    )
    zn = zones.select(
        "zone_id",
        F.col("cx").alias("zx"),
        F.col("cy").alias("zy"),
        F.explode(
            cells.cell_cover(
                F.col("cx") - radius,
                F.col("cx") + radius,
                F.col("cy") - radius,
                F.col("cy") + radius,
                r,
            )
        ).alias("cell"),
    )
    d2 = (F.col("cx") - F.col("zx")) * (F.col("cx") - F.col("zx")) + (
        F.col("cy") - F.col("zy")
    ) * (F.col("cy") - F.col("zy"))
    pairs = (
        img.join(zn, "cell")
        .withColumn("dist2", d2)
        .where(F.col("dist2") <= F.lit(float(radius) * float(radius)))
    )
    return pairs.groupBy("zone_id").agg(
        F.count("*").alias("n_within"),
        F.sum("idx").alias("member_checksum"),
        F.min("dist2").alias("min_dist2"),
        F.min(F.struct("dist2", "image_id"))["image_id"].alias("closest_img"),
    )


_GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(cx: Column, cy: Column, precision: int = 8) -> Column:
    """Base-32 geohash string of a domain point — the REAL public
    geohash bit layout (x/y bits interleaved MSB-first, x first, 5 bits
    per character against the standard '0-9b-z' alphabet), with the
    engine's planar [0, DOMAIN)² domain standing in for (lon, lat)
    ranges.  Pure Column math: two floor-scaled fixed-point ints, a
    40-term shift/mask interleave, and an element_at character lookup —
    all codegen, no UDF."""
    nbits = (5 * precision + 1) // 2  # bits per axis (x gets the extra)
    xb = 5 * precision - nbits
    bx = F.least(
        F.greatest(F.floor((cx.cast("long") * (1 << nbits)) / F.lit(DOMAIN)), F.lit(0)),
        F.lit((1 << nbits) - 1),
    ).cast("long")
    by = F.least(
        F.greatest(F.floor((cy.cast("long") * (1 << xb)) / F.lit(DOMAIN)), F.lit(0)),
        F.lit((1 << xb) - 1),
    ).cast("long")
    # interleaved stream s_0 = x_msb, s_1 = y_msb, ... ; V = sum s_t << (T-1-t)
    total = 5 * precision
    v = F.lit(0).cast("long")
    for t in range(total):
        axis_bit = t // 2
        if t % 2 == 0:  # x bit
            bit = F.floor(bx / F.lit(1 << (nbits - 1 - axis_bit))) % 2
        else:  # y bit
            bit = F.floor(by / F.lit(1 << (xb - 1 - axis_bit))) % 2
        v = v + bit.cast("long") * F.lit(1 << (total - 1 - t))
    alpha = F.array(*[F.lit(c) for c in _GEOHASH_ALPHABET])
    chars = []
    for k in range(precision):
        digit = F.floor(v / F.lit(1 << (total - 5 * (k + 1)))) % 32
        chars.append(F.element_at(alpha, (digit + 1).cast("int")))
    return F.concat(*chars)


def geohash_rollup(tiles: DataFrame, precision: int = 8, prefix: int = 4) -> DataFrame:
    """Per-geohash-prefix rollup of a georegistered corpus: image count,
    idx checksum, and the lexicographically-smallest full geohash in the
    bucket.  Map-only encode + ONE group shuffle on the prefix."""
    cx = F.col("gt_x0") + F.lit(TILE_SPAN / 2)
    cy = F.col("gt_y0") - F.lit(TILE_SPAN / 2)
    idx = F.substring("image_id", 4, 10).cast("long")
    d = tiles.select(
        geohash(cx, cy, precision).alias("gh"), idx.alias("idx")
    )
    return (
        d.groupBy(F.substring("gh", 1, prefix).alias("gh_prefix"))
        .agg(
            F.count("*").alias("n_images"),
            F.sum("idx").alias("idx_checksum"),
            F.min("gh").alias("min_geohash"),
        )
    )


def idw_interpolate(
    tiles: DataFrame,
    points: DataFrame,
    radius: float,
    r: int = 12,
    value_col: Column | None = None,
) -> DataFrame:
    """Inverse-distance-weighted (IDW, power=2) spatial interpolation —
    the classic geostatistics gridding operator: predict a value at each
    query point from the stations (image centroids) within `radius`,
    weighted 1/d².

        pred(p) = Σ v_i/d²_i / Σ 1/d²_i   over stations with d ≤ radius

    Station value defaults to ``phash % 256`` (a real data column with
    an exact SQL twin).  Same filter-refine candidate plan as
    radius_join (points cover their R-dilated box with ≤9 res-r cells,
    stations key by centroid cell) — never O(|points|·|stations|).
    pred rounds to 6 decimals (sum-of-~10² doubles, error ≪ round
    step); n_neighbors and the nearest station are exact."""
    v = value_col if value_col is not None else (F.col("phash") % 256)
    cx = F.col("gt_x0") + F.lit(TILE_SPAN / 2)
    cy = F.col("gt_y0") - F.lit(TILE_SPAN / 2)
    st = tiles.select(
        F.col("image_id"),
        v.cast("double").alias("v"),
        cx.alias("sx"),
        cy.alias("sy"),
        cells.cell_encode(cx, cy, r).alias("cell"),
    )
    pt = points.select(
        "point_id",
        F.col("x").alias("px"),
        F.col("y").alias("py"),
        F.explode(
            cells.cell_cover(
                F.col("x") - radius, F.col("x") + radius,
                F.col("y") - radius, F.col("y") + radius, r,
            )
        ).alias("cell"),
    )
    d2 = (F.col("sx") - F.col("px")) * (F.col("sx") - F.col("px")) + (
        F.col("sy") - F.col("py")
    ) * (F.col("sy") - F.col("py"))
    pairs = (
        st.join(pt, "cell")
        .withColumn("d2", d2)
        .where(F.col("d2") <= F.lit(float(radius) * float(radius)))
    )
    return pairs.groupBy("point_id").agg(
        F.count("*").alias("n_neighbors"),
        F.round(F.sum(F.col("v") / F.col("d2")) / F.sum(F.lit(1.0) / F.col("d2")), 6).alias("pred"),
        F.min(F.struct("d2", "image_id"))["image_id"].alias("nearest_img"),
    )


def voronoi_assign(tiles: DataFrame, zones: DataFrame) -> DataFrame:
    """Voronoi / nearest-facility assignment: classify every image to
    its nearest zone centroid (the k-centroid labeling step of IVF and
    of any 'nearest depot' rollup).  Per assigned zone: image count,
    Σidx membership checksum, and the min/max squared distance of its
    members.  Ties (equidistant centroids) resolve to the smallest
    zone_id via lexicographic struct-min.

    Scale shape, two tiers on |zones| (both exact, same tie rule, so
    the choice never changes output hashes):

    - <= 128 centroids: scalar inline argmin — project one d2 PER
      CENTROID (named scalar columns, whole-stage codegen), least()
      for the min, CASE chain in ascending zone_id for the arg.
      MAP-ONLY: nothing shuffles except the final |zones|-key
      partial+final agg.  The previous shape (broadcast cross join ->
      groupBy(image_id) struct-min) shuffled |images| x |zones| rows
      on a unique key — 25.6M rows at sf0.1, the whole query's cost.
    - > 128 centroids: exact cell-routed nearest via knn_join(k=1) —
      the ring-proof filter-refine kernel, one map-only Arrow pass
      plus a broadcast id join.  The scalar tier is O(n*c)
      flops and past a few hundred centroids its projection outgrows
      what codegen inlines happily (1024 d2 columns + a 1024-arm CASE
      measured ~20 s on sf1's 1M x 1024; the routed tier does O(n*~9)
      candidate work instead and is grid-size independent — at 10^12
      images x 10^5 centroids the scalar tier would be 10^18 flops,
      the routed tier stays ~10^13 candidate rows).  Tie rule matches:
      knn ranks by (d2, zone_id) — smallest zone_id wins."""
    cx = F.col("gt_x0") + F.lit(TILE_SPAN / 2)
    cy = F.col("gt_y0") - F.lit(TILE_SPAN / 2)
    idx = F.substring("image_id", 4, 10).cast("long")
    img = tiles.select(
        "image_id", idx.alias("idx"), cx.alias("ix"), cy.alias("iy")
    )
    cents = sorted(
        zones.select("zone_id", "cx", "cy").collect(), key=lambda r: r["zone_id"]
    )
    if len(cents) <= 128:
        # scalar-only argmin: project d2 per centroid (named columns, all
        # whole-stage codegen), least() for the min, then a CASE chain in
        # ascending zone_id order for the arg (first hit = smallest
        # zone_id — the documented tie rule).  An array_min over per-
        # centroid structs gives the same answer but allocates |zones|
        # InternalRows per image (measured 2.5x slower); scalars never
        # allocate.
        ix, iy = F.col("ix"), F.col("iy")
        d2s = [
            (
                (ix - F.lit(float(r["cx"]))) * (ix - F.lit(float(r["cx"])))
                + (iy - F.lit(float(r["cy"]))) * (iy - F.lit(float(r["cy"])))
            ).alias(f"_d{r['zone_id']}")
            for r in cents
        ]
        proj = img.select("idx", *d2s)
        m = F.least(*[F.col(f"_d{r['zone_id']}") for r in cents])
        zcase = F.when(
            F.col(f"_d{cents[0]['zone_id']}") == F.col("_m"),
            F.lit(int(cents[0]["zone_id"])),
        )
        for r in cents[1:]:
            zcase = zcase.when(
                F.col(f"_d{r['zone_id']}") == F.col("_m"), F.lit(int(r["zone_id"]))
            )
        best = proj.withColumn("_m", m).select(
            "idx", zcase.alias("zone_id"), F.col("_m").alias("d2")
        )
    else:
        from .knn import knn_join

        best = knn_join(
            img,
            zones,
            k=1,
            id_col="idx",
            x_col="ix",
            y_col="iy",
            center_id="zone_id",
            cx_col="cx",
            cy_col="cy",
        ).select("idx", "zone_id", "d2")
    return best.groupBy("zone_id").agg(
        F.count("*").alias("n_images"),
        F.sum("idx").alias("idx_checksum"),
        F.min("d2").alias("min_dist2"),
        F.max("d2").alias("max_dist2"),
    )


# 16 integer support directions (a 16-DOP: axis, diagonal and knight
# slopes) in counter-clockwise order.
KDOP_DIRS = (
    (1, 0), (2, 1), (1, 1), (1, 2), (0, 1), (-1, 2), (-1, 1), (-2, 1),
    (-1, 0), (-2, -1), (-1, -1), (-1, -2), (0, -1), (1, -2), (1, -1), (2, -1),
)


def kdop_support(points: DataFrame, cell: float = 8000.0) -> DataFrame:
    """Per-cell 16-DOP support points — the distributed convex-hull
    workhorse (a k-DOP is the standard hull approximation from collision
    detection; the support point in direction d is argmax d.p, and the
    true hull's vertices are a subset of the union of support points as
    the direction set densifies).  Reference analog: the point-geometry
    post-processing a georaster user runs on sampled coordinates
    (SURVEY §0 ⚠, nothing on disk).

    Points are grouped on a coarse grid key (floor(x/cell),
    floor(y/cell)); within each group the support point for each of the
    16 directions is the max of dot = dx*x + dy*y with ties broken by
    smallest point_id.  dot is one multiply-add in float64 evaluated by
    the IDENTICAL expression in the DuckDB oracle, so the argmax is
    engine-independent.

    Scale shape: ZERO UDFs and ONE aggregation — `max_by` over a struct
    ordering key gives map-side partial support points per partition,
    so at 10^12 points only 16 candidate rows per (cell, partition)
    ever shuffle.  This is exactly how a distributed convex hull
    merges: local extremes, then one tiny final reduce."""
    dirs = F.array(
        *[
            F.struct(
                F.lit(k).alias("dir"),
                F.lit(float(dx)).alias("dx"),
                F.lit(float(dy)).alias("dy"),
            )
            for k, (dx, dy) in enumerate(KDOP_DIRS)
        ]
    )
    probes = points.select(
        F.floor(F.col("x") / cell).cast("long").alias("gx"),
        F.floor(F.col("y") / cell).cast("long").alias("gy"),
        "point_id", "x", "y",
        F.explode(dirs).alias("d"),
    ).select(
        "gx", "gy", "point_id", "x", "y",
        F.col("d.dir").alias("dir"),
        (F.col("d.dx") * F.col("x") + F.col("d.dy") * F.col("y")).alias("dot"),
    )
    best = probes.groupBy("gx", "gy", "dir").agg(
        F.max_by(
            F.struct("point_id", "x", "y"),
            # lexicographic: max dot, then max(-point_id) = min point_id
            F.struct(F.col("dot"), (-F.col("point_id")).alias("nid")),
        ).alias("s")
    )
    return best.select(
        "gx", "gy", "dir",
        F.col("s.point_id").alias("point_id"),
        F.col("s.x").alias("sx"),
        F.col("s.y").alias("sy"),
    )


HILBERT_R = 9  # order: 512 x 512 grid == the ingest lattice (GRID_W = 512)


def with_hilbert(
    df: DataFrame, xcol: str, ycol: str, out: str = "d", r: int = HILBERT_R
) -> DataFrame:
    """Hilbert-curve index d of lattice cell (xcol, ycol) on a 2^r x 2^r
    grid (Hamilton's classic xy2d, the locality-clustering upgrade over
    the Z-order/quadkey the engine already has: Hilbert has no Z-jumps,
    so range scans touch contiguous blocks).  The per-level
    rotate/reflect loop is unrolled into r pure-Column CASE levels —
    all codegen'd integer logic, zero UDFs; the DuckDB oracle unrolls
    the IDENTICAL levels as a CTE chain (both are generated from the
    same loop structure, see plans/contract._sql_hilbert).

    Each level is its own projection (a `select`), NOT one nested
    Column expression — the state (x, y) feeds both successor
    expressions, so a single expression tree would double per level
    (2^r blowup in Catalyst); per-level projections keep it linear,
    and collapse into one codegen stage anyway."""
    keep = [c for c in df.columns if c not in ("__hx", "__hy", out)]
    cur = df.select(
        *keep,
        F.col(xcol).cast("long").alias("__hx"),
        F.col(ycol).cast("long").alias("__hy"),
        F.lit(0).cast("long").alias(out),
    )
    for i in range(r - 1, -1, -1):
        s = 1 << i
        x, y, d = F.col("__hx"), F.col("__hy"), F.col(out)
        rx = F.when((x.bitwiseAND(F.lit(s))) > 0, 1).otherwise(0)
        ry = F.when((y.bitwiseAND(F.lit(s))) > 0, 1).otherwise(0)
        nd = d + F.lit(s).cast("long") * s * ((3 * rx).bitwiseXOR(ry))
        # rotate: if ry==0 { if rx==1 reflect; swap(x,y) }
        nx = F.when(ry == 0, F.when(rx == 1, F.lit(s - 1) - y).otherwise(y)).otherwise(x)
        ny = F.when(ry == 0, F.when(rx == 1, F.lit(s - 1) - x).otherwise(x)).otherwise(y)
        cur = cur.select(
            *keep, nx.alias("__hx"), ny.alias("__hy"), nd.alias(out)
        )
    return cur.drop("__hx", "__hy")


def hilbert_rollup(tiles: DataFrame, bucket_shift: int = 10) -> DataFrame:
    """Hilbert-bucket rollup of the ingest lattice: every tile gets its
    Hilbert index over the pre-jitter grid (gx = idx % GRID_W, gy =
    idx // GRID_W — the same deterministic lattice the Moran operators
    use), then buckets of 2^bucket_shift consecutive curve positions
    are aggregated.  Because the curve is locality-preserving, each
    bucket is a spatially compact blob — the partition/file-layout key
    you'd cluster a 100 TB corpus by so that spatial range queries
    prune contiguous file ranges (the Databricks/Iceberg Z-ORDER story,
    one locality class better).

    Scale shape: map-only codegen'd index + ONE partial+final groupBy;
    the emitted per-bucket gx/gy bounding box makes the locality
    measurable (pytest pins max spread << lattice size)."""
    from ..constants import GRID_W
    from .georegister import image_idx

    idx = image_idx()
    t = tiles.select(
        (idx % GRID_W).cast("long").alias("gx"),
        F.floor(idx / GRID_W).cast("long").alias("gy"),
    )
    return (
        with_hilbert(t, "gx", "gy", out="d")
        .groupBy(F.shiftright(F.col("d"), bucket_shift).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
            F.sum("d").alias("sum_d"),
            (F.max("gx") - F.min("gx")).alias("gx_spread"),
            (F.max("gy") - F.min("gy")).alias("gy_spread"),
        )
    )


# production deployments target ~512 MiB parquet files; the fixture tiles
# are ~1 KiB, so the demo target keeps the plan's arithmetic meaningful
# (several tiles per output file, several files per hot cell).
COMPACT_TARGET_BYTES = 16_384


def compaction_plan(tiles: DataFrame, target_bytes: int = COMPACT_TARGET_BYTES) -> DataFrame:
    """Small-file compaction planner over the cell-partitioned layout —
    the table-maintenance pass every 100 TB lakehouse schedules (Iceberg
    `rewrite_data_files` / Delta OPTIMIZE analog): per cell bucket, how
    many files exist (here: tiles, the ingest granularity), how many the
    target file size implies, and the rewrite savings.

    Per cell: n_tiles, Σbytes (physical payload), n_target_files =
    ceil(Σbytes / target), files_saved = max(n_tiles − n_target, 0),
    and the Σidx checksum pinning the exact bucket membership.

    Scale shape: metadata-only Column math — ONE combiner-friendly agg
    on the cell key (the layout's own partition key, so at rest this is
    map-side only); pixel bytes contribute length() and never move."""
    from .georegister import image_idx

    per = tiles.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum(F.length("bytes")).alias("sum_bytes"),
        F.sum(image_idx()).alias("tile_checksum"),
    )
    n_target = F.expr(f"(sum_bytes + {target_bytes - 1}) DIV {target_bytes}")
    return per.select(
        "cell_id", "n_tiles", "sum_bytes",
        n_target.alias("n_target_files"),
        F.greatest(F.col("n_tiles") - n_target, F.lit(0)).alias("files_saved"),
        "tile_checksum",
    )


# ---------------------------------------------------------------------------
# Geostatistics: empirical semivariogram + Ripley's K (round 3)
# ---------------------------------------------------------------------------


def _centroid_pairs(tiles: DataFrame, max_lag: float, r: int, sub_mod: int) -> DataFrame:
    """All unordered centroid pairs within `max_lag`, via the standard
    filter-refine cell join: the LEFT copy explodes the res-r cover of
    its max_lag-dilated centroid box, the RIGHT copy keys by its single
    centroid anchor cell — so every (a, b) candidate appears EXACTLY
    once (b has one anchor cell) and no pair-dedup shuffle is needed.
    Orientation idx_a < idx_b halves the grid.  Station value is the
    `phash % 256` surface (integer, exact SQL twin — same as IDW).

    Scale shape (10^12 rows): per-image fan-out is bounded by
    ⌈2·max_lag/cell_edge + 1⌉² cover cells; ONE cell equi-join whose
    d² refine runs inside codegen; downstream aggs are combiner-
    friendly.  `sub_mod` thins stations deterministically (idx % m == 0)
    — the oracle applies the identical predicate."""
    from .georegister import image_idx

    idx = image_idx()
    cx = F.col("gt_x0") + F.lit(TILE_SPAN / 2)
    cy = F.col("gt_y0") - F.lit(TILE_SPAN / 2)
    st = tiles.where(idx % sub_mod == 0).select(
        idx.alias("idx"),
        (F.col("phash") % 256).alias("v"),
        cx.alias("sx"),
        cy.alias("sy"),
    )
    left = st.select(
        F.col("idx").alias("idx_a"),
        F.col("v").alias("va"),
        F.col("sx").alias("ax"),
        F.col("sy").alias("ay"),
        F.explode(
            cells.cell_cover(
                F.col("sx") - max_lag, F.col("sx") + max_lag,
                F.col("sy") - max_lag, F.col("sy") + max_lag, r,
            )
        ).alias("cell"),
    )
    right = st.select(
        F.col("idx").alias("idx_b"),
        F.col("v").alias("vb"),
        F.col("sx").alias("bx"),
        F.col("sy").alias("by"),
        cells.cell_encode(F.col("sx"), F.col("sy"), r).alias("cell"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        left.join(right, "cell")
        .where(F.col("idx_a") < F.col("idx_b"))
        .withColumn("d2", d2)
        .where(F.col("d2") <= F.lit(float(max_lag) * float(max_lag)))
    )


def semivariogram(
    tiles: DataFrame,
    max_lag: float = 16000.0,
    lag_width: float = 2000.0,
    r: int = 12,
    sub_mod: int = 3,
) -> DataFrame:
    """Empirical semivariogram of the centroid value surface — the
    foundational geostatistics QC plot (Matheron's estimator):

        γ(h_k) = Σ (v_a − v_b)² / (2·N_k)  over pairs in lag bin k.

    Bins on Euclidean distance: bin = floor(sqrt(d²)/lag_width).  IEEE
    754 sqrt is correctly rounded, so the bin index is bit-identical in
    every engine (d² itself is exact — integral coordinates).  Outputs
    per bin: exact pair count, exact integer Σ(Δv)², and γ (one exact-
    integer division, rounded for display).  One cell join + ONE slim
    group shuffle on the 8-value bin key."""
    pairs = _centroid_pairs(tiles, max_lag, r, sub_mod)
    dv = F.col("va") - F.col("vb")
    binc = F.floor(F.sqrt(F.col("d2")) / F.lit(float(lag_width))).cast("int")
    return (
        pairs.select(binc.alias("lag_bin"), (dv * dv).alias("dv2"))
        .groupBy("lag_bin")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("dv2").alias("gamma2_sum"),
        )
        .select(
            "lag_bin", "n_pairs", "gamma2_sum",
            F.round(F.col("gamma2_sum") / (2.0 * F.col("n_pairs")), 6).alias("gamma"),
        )
    )


def ripley_k(
    tiles: DataFrame,
    max_lag: float = 16000.0,
    step: float = 2000.0,
    r: int = 12,
    sub_mod: int = 3,
) -> DataFrame:
    """Ripley's K point-pattern statistic: cumulative within-distance
    pair counts at radii k·step (k = 1..max_lag/step) — the standard
    clustering-vs-dispersion diagnostic.  Reuses the semivariogram's
    pair plan, then turns the per-ring histogram into cumulative counts
    with a running-sum window over ≤8 rows (no second pass over pairs).
    Counts are exact integers; K̂ normalization (·area/n²) is left to
    the caller since area is a modeling choice."""
    pairs = _centroid_pairs(tiles, max_lag, r, sub_mod)
    ring = (F.floor(F.sqrt(F.col("d2")) / F.lit(float(step))) + 1).cast("int")
    hist = (
        pairs.select(F.least(ring, F.lit(int(max_lag / step))).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_ring"))
    )
    ks = hist.sparkSession.range(1, int(max_lag / step) + 1).select(
        F.col("id").cast("int").alias("k")
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ks.join(hist, "k", "left")
        .select("k", F.coalesce("n_ring", F.lit(0)).alias("n_ring"))
        .select(
            "k",
            (F.col("k") * F.lit(float(step))).alias("radius"),
            F.sum("n_ring").over(w).alias("n_pairs_within"),
        )
    )


# ---------------------------------------------------------------------------
# Kernel density heatmap (round 3)
# ---------------------------------------------------------------------------

KDE_RADIUS = 12000.0   # Epanechnikov bandwidth; < cell edge at KDE_RES
KDE_RES = 12           # heatmap grid (cell edge 16384 > R/sqrt(2) coverage)
KDE_SUB = 3            # deterministic point thinning: idx % KDE_SUB == 0


def kde_heatmap(
    tiles: DataFrame,
    radius: float = KDE_RADIUS,
    r: int = KDE_RES,
    sub_mod: int = KDE_SUB,
) -> DataFrame:
    """Kernel-density heatmap of the tile-centroid point pattern — the
    QGIS "Heatmap (KDE)" / scipy gaussian_kde analog every spatial-EDA
    workflow runs, with the Epanechnikov kernel made INTEGER-EXACT:
    site density = Σ_{points p: d²(p, site) <= R²} (R² − d²).  Centroid
    coordinates are integral by construction, so d² and every weight
    are exact integers in any engine (the classic quadratic kernel is
    R²−d² up to the 3/(4R³) normalization, left to the caller).

    Evaluation sites are the occupied res-r grid cells' CENTERS (cell
    edge 16384 > R/√2 = 8485, so every occupied cell's own points stay
    in range — no empty-site rows).  Plan: points explode the ≤3×3
    res-r cover of their R-dilated box; sites carry their single cell
    id — ONE equi-join on the cell key, d² refine in codegen, ONE
    combiner-friendly groupBy(cell).  10^12-row shape: identical to
    the semivariogram's filter-refine join; the output is bounded by
    the occupied-cell count, not the point count."""
    from .georegister import image_idx

    idx = image_idx()
    r2 = float(radius) * float(radius)
    edge = DOMAIN >> r
    pts = tiles.where(idx % sub_mod == 0).select(
        (F.col("gt_x0") + F.lit(TILE_SPAN / 2)).alias("sx"),
        (F.col("gt_y0") - F.lit(TILE_SPAN / 2)).alias("sy"),
    )
    sites = (
        pts.select(cells.cell_encode(F.col("sx"), F.col("sy"), r).alias("cell"))
        .distinct()
        .select(
            "cell",
            ((F.col("cell") - F.lit(r << 58)) % F.lit(1 << r)).alias("ccol"),
            ((F.col("cell") - F.lit(r << 58)) / F.lit(1 << r)).cast("long").alias("crow"),
        )
        .select(
            "cell",
            (F.col("ccol") * edge + edge / 2).alias("x0"),
            (F.lit(float(DOMAIN)) - (F.col("crow") * edge + edge / 2)).alias("y0"),
        )
    )
    left = pts.select(
        "sx", "sy",
        F.explode(
            cells.cell_cover(
                F.col("sx") - radius, F.col("sx") + radius,
                F.col("sy") - radius, F.col("sy") + radius, r,
            )
        ).alias("cell"),
    )
    d2 = (F.col("sx") - F.col("x0")) * (F.col("sx") - F.col("x0")) + (
        F.col("sy") - F.col("y0")
    ) * (F.col("sy") - F.col("y0"))
    return (
        left.join(sites, "cell")
        .withColumn("d2", d2)
        .where(F.col("d2") <= F.lit(r2))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_pts"),
            F.sum((F.lit(r2) - F.col("d2")).cast("long")).alias("density"),
        )
    )


QT_RES0 = 9       # root resolution: cell edge = DOMAIN >> 9 = 131072 units
QT_CAP = 256      # split a cell when it holds more than this many points
QT_LEVELS = 3     # root + two refinement rounds (r9 -> r10 -> r11)


def adaptive_quadtree(tiles: DataFrame) -> DataFrame:
    """Adaptive quadtree refinement census — the skew-adaptive spatial
    partitioning step (the quadtree split rule of SpatialHadoop/Sedona
    partitioners, and exactly what a tiling pipeline runs to pick
    BALANCED output partitions under hot-spot skew): starting at res
    QT_RES0, any cell holding > QT_CAP points is split into its 4
    children, repeated for QT_LEVELS levels; leaf cells report their
    census and Σidx membership checksum.

    The fixture's planted hot anchors (constants.HOT_ANCHORS) force
    real splits while the sparse grid stays coarse — the output IS the
    balanced partition map the salted-join tier (op E8) would consume.

    Scale shape: one census per level (combiner-friendly groupBy on the
    level's cell key, all keys computed in ONE map pass) + broadcast
    semi-joins against the hot-cell lists.  The hot list at level k is
    GEOMETRY-bounded (≤ 4^(RES0+k) cells exist at all), so the
    broadcasts never scale with row count — this is why quadtree
    refinement distributes: the data-dependent state is the tree, and
    the tree is capped by resolution."""
    from .georegister import centroid_x, centroid_y, image_idx

    r0 = QT_RES0
    pts = tiles.select(
        image_idx().alias("idx"),
        *[
            cells.cell_encode(centroid_x(), centroid_y(), r0 + k).alias(f"k{k}")
            for k in range(QT_LEVELS)
        ],
    ).localCheckpoint(eager=False)  # 3 censuses + 2 semi-joins share one scan

    def census(df: DataFrame, key: str) -> DataFrame:
        return df.groupBy(key).agg(
            F.count(F.lit(1)).alias("n_points"), F.sum("idx").alias("idx_sum")
        )

    outs = []
    cur = pts
    for k in range(QT_LEVELS):
        key = f"k{k}"
        c = census(cur, key)
        if k == QT_LEVELS - 1:
            keep = c  # last level: no further split
        else:
            keep = c.where(F.col("n_points") <= QT_CAP)
            hot = c.where(F.col("n_points") > QT_CAP).select(key)
            cur = cur.join(F.broadcast(hot), key, "left_semi")
        outs.append(
            keep.select(
                F.col(key).alias("cell_id"),
                F.lit(QT_RES0 + k).cast("long").alias("res"),
                "n_points",
                "idx_sum",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _xy2d(order: int, x: int, y: int) -> int:
    """Hilbert index of cell (x, y) on a 2^order grid — the Python twin
    of with_hilbert's unrolled Column levels (same Hamilton
    rotate/reflect; kept in lockstep so driver-side range planning and
    engine-side keys agree)."""
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = (s - 1) - x, (s - 1) - y
            x, y = y, x
        s >>= 1
    return d


def hilbert_block_ranges(
    x0: int, x1: int, y0: int, y1: int, r: int = HILBERT_R, b: int = 4
) -> list[tuple[int, int]]:
    """Merged inclusive Hilbert-index ranges covering the inclusive cell
    rect [x0,x1]x[y0,y1]: every ALIGNED 2^b block touching the rect maps
    to the contiguous index run [D<<2b, (D+1)<<2b) with D its order-(r-b)
    Hilbert index (the curve fully traverses each aligned subsquare
    before leaving it — the recursive-construction invariant), so range
    planning is pure driver arithmetic over (rect_area / 4^b) blocks.
    Over-coverage at block granularity is refined by the exact rect
    predicate downstream — the classic filter-refine contract, so range
    tightness affects cost only, never results."""
    ds = sorted(
        {
            _xy2d(r - b, bx, by)
            for bx in range(x0 >> b, (x1 >> b) + 1)
            for by in range(y0 >> b, (y1 >> b) + 1)
        }
    )
    ranges: list[tuple[int, int]] = []
    for d in ds:
        lo, hi = d << (2 * b), ((d + 1) << (2 * b)) - 1
        if ranges and ranges[-1][1] + 1 == lo:
            ranges[-1] = (ranges[-1][0], hi)
        else:
            ranges.append((lo, hi))
    return ranges


# --- map-matching snap: boustrophedon survey route ---------------------------
# Axis-aligned lawn-mower route over the fixture domain: ROUTE_ROWS
# horizontal sweeps joined by vertical connectors at alternating ends.
# Axis-alignment is deliberate: point-to-segment distance^2 reduces to
# two clamped residuals (no dot/cross products), so the argmin is exact
# double math both here and in the DuckDB twin.
ROUTE_SNAP_ROWS = 16
ROUTE_SNAP_DY = 12_800.0
ROUTE_SNAP_Y0 = 6_400.0
ROUTE_SNAP_X0 = 0.0
ROUTE_SNAP_X1 = 512_000.0


def route_segments() -> list[tuple[int, float, float, float, float]]:
    """The route as normalized boxes (seg_id, x0, y0, x1, y1), x0<=x1,
    y0<=y1: even ids are the horizontal sweeps, odd ids the vertical
    connectors (right end after even sweeps, left end after odd)."""
    segs: list[tuple[int, float, float, float, float]] = []
    for k in range(ROUTE_SNAP_ROWS):
        y = ROUTE_SNAP_Y0 + k * ROUTE_SNAP_DY
        segs.append((2 * k, ROUTE_SNAP_X0, y, ROUTE_SNAP_X1, y))
        if k < ROUTE_SNAP_ROWS - 1:
            cx = ROUTE_SNAP_X1 if k % 2 == 0 else ROUTE_SNAP_X0
            segs.append((2 * k + 1, cx, y, cx, y + ROUTE_SNAP_DY))
    return segs


def segment_snap(points: DataFrame) -> DataFrame:
    """Map-matching snap (the GPS-trace -> road-network assignment step
    of any trajectory pipeline; PostGIS ST_ClosestPoint / ST_Snap
    analog): each point is assigned to the nearest route segment, with
    the snapped coordinate and the exact squared distance.

    Ties resolve to the smallest seg_id (CASE chain in ascending order).

    Scale shape: the route is dims-sized planner metadata (same posture
    as voronoi_assign's inlined centroids) — the per-point argmin is one
    scalar expression per segment, pure whole-stage codegen, MAP-ONLY:
    zero shuffle, zero UDF, no join.  At 10^12 points this is a single
    scan; a route too large to inline (>4096 segments) should switch to
    cell-keyed filter-refine like radius_join."""
    segs = route_segments()
    x, y = F.col("x"), F.col("y")
    proj = points.select(
        "point_id",
        x.alias("x"),
        y.alias("y"),
        *[
            (
                F.greatest(F.lit(0.0), F.lit(sx0) - x, x - F.lit(sx1))
                * F.greatest(F.lit(0.0), F.lit(sx0) - x, x - F.lit(sx1))
                + F.greatest(F.lit(0.0), F.lit(sy0) - y, y - F.lit(sy1))
                * F.greatest(F.lit(0.0), F.lit(sy0) - y, y - F.lit(sy1))
            ).alias(f"_d{sid}")
            for sid, sx0, sy0, sx1, sy1 in segs
        ],
    )
    m = F.least(*[F.col(f"_d{sid}") for sid in (s[0] for s in segs)])
    sid_case = F.when(F.col(f"_d{segs[0][0]}") == F.col("_m"), F.lit(segs[0][0]))
    for sid, *_ in segs[1:]:
        sid_case = sid_case.when(F.col(f"_d{sid}") == F.col("_m"), F.lit(sid))
    out = proj.withColumn("_m", m).withColumn("seg_id", sid_case)
    snap_x, snap_y = None, None
    for sid, sx0, sy0, sx1, sy1 in segs:
        ex = F.least(F.greatest(F.col("x"), F.lit(sx0)), F.lit(sx1))
        ey = F.least(F.greatest(F.col("y"), F.lit(sy0)), F.lit(sy1))
        snap_x = F.when(F.col("seg_id") == sid, ex) if snap_x is None else snap_x.when(F.col("seg_id") == sid, ex)
        snap_y = F.when(F.col("seg_id") == sid, ey) if snap_y is None else snap_y.when(F.col("seg_id") == sid, ey)
    return out.select(
        "point_id",
        F.col("seg_id").cast("long").alias("seg_id"),
        snap_x.alias("snap_x"),
        snap_y.alias("snap_y"),
        F.col("_m").alias("dist2"),
    )


# --- detection-box IoU assignment -------------------------------------------
# Deterministic synthetic detector/annotator boxes in 32-px tile space,
# derived from the image index with pure modular arithmetic (same
# posture as the ramp pixel formula) so every engine re-derives them.
IOU_N_PRED = 3
IOU_N_GT = 2


def box_iou_assign(tiles: DataFrame) -> DataFrame:
    """Anchor/detection-box assignment (the IoU-argmax matching step of
    every detection training pipeline — torchvision ``box_iou`` +
    Hungarian-lite greedy argmax): each predicted box is assigned the
    ground-truth box with maximal IoU, compared EXACTLY as cross-
    multiplied integer rationals (i1*u2 vs i2*u1 — no float IoU), ties
    to the smaller gt_id.

    Emits per (image, pred): gt_id, intersection, union areas and the
    truncated per-mille IoU.

    Scale shape: map-only — one projected explode over IOU_N_PRED box
    slots, then pure codegen'd integer Column math per row; zero
    shuffle, zero UDF, no join (the gt side is unrolled inline, bounded
    by IOU_N_GT)."""
    idx = F.substring("image_id", 4, 10).cast("long")
    base = tiles.select("image_id", idx.alias("idx")).select(
        "image_id",
        "idx",
        F.explode(
            F.array(*[F.lit(p) for p in range(IOU_N_PRED)])
        ).alias("pred_id"),
    )
    i, p = F.col("idx"), F.col("pred_id")
    px0 = (i * 3 + p * 7) % 20
    py0 = (i * 5 + p * 11) % 20
    pw = (i + p) % 10 + 6
    ph = (i * 2 + p) % 10 + 6

    def gt_box(g: int):
        gx0 = (i * 7 + g * 13) % 18
        gy0 = (i * 11 + g * 3) % 18
        gw = (i + g) % 8 + 8
        gh = (i * 3 + g) % 8 + 8
        return gx0, gy0, gw, gh

    def inter_union(gx0, gy0, gw, gh):
        iw = F.greatest(
            F.lit(0), F.least(px0 + pw, gx0 + gw) - F.greatest(px0, gx0)
        )
        ih = F.greatest(
            F.lit(0), F.least(py0 + ph, gy0 + gh) - F.greatest(py0, gy0)
        )
        inter = iw * ih
        return inter, pw * ph + gw * gh - inter

    i0, u0 = inter_union(*gt_box(0))
    i1, u1 = inter_union(*gt_box(1))
    pick1 = i1 * u0 > i0 * u1  # strict: ties keep gt 0
    picked = base.select(
        "image_id",
        p.cast("long").alias("pred_id"),
        F.when(pick1, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("gt_id"),
        F.when(pick1, i1).otherwise(i0).cast("long").alias("inter_area"),
        F.when(pick1, u1).otherwise(u0).cast("long").alias("union_area"),
    )
    return picked.withColumn(
        "iou_milli", F.expr("div(1000 * inter_area, union_area)")
    )


# --- hexagonal binning --------------------------------------------------------
# Pointy-top axial hex grid (the H3/Uber-style density index the quad
# GQK cells can't express — hex neighborhoods are isotropic).  Constants
# are exact double literals so Spark and DuckDB parse identical IEEE
# values; rounding is floor(t + 0.5) in BOTH engines (never round(),
# whose half-rule differs across engines).
HEX_SIZE = 8_000.0
_SQRT3_3 = 0.5773502691896258  # sqrt(3)/3
_THIRD = 0.3333333333333333  # 1/3
_TWO_THIRDS = 0.6666666666666666  # 2/3


def _hex_round(q, r):
    """Cube-round fractional axial coords (Column in, Column out)."""
    x, z = q, r
    y = -x - z
    rx = F.floor(x + F.lit(0.5))
    ry = F.floor(y + F.lit(0.5))
    rz = F.floor(z + F.lit(0.5))
    dx = F.abs(rx - x)
    dy = F.abs(ry - y)
    dz = F.abs(rz - z)
    fx = -ry - rz
    fz = -rx - ry
    out_x = F.when((dx > dy) & (dx > dz), fx).otherwise(rx)
    out_z = F.when((dx > dy) & (dx > dz), rz).otherwise(
        F.when(dy > dz, rz).otherwise(fz)
    )
    return out_x.cast("long"), out_z.cast("long")


def hex_bin(points: DataFrame, size: float = HEX_SIZE) -> DataFrame:
    """Hexagonal density binning (matplotlib hexbin / Uber H3 rollup
    analog) of the point table: exact axial cube-rounding assigns each
    point to its nearest hex center; per hex emit count, point_id
    checksum, and the hex center coordinates.

    Scale shape: map-only Column math (zero UDF) + ONE shuffle on the
    (hq, hr) hex key — the same partial+final agg contract as every
    cell rollup; hot hexes are bounded by hex area, and the synthetic
    hot anchors land in single hexes exactly like the quad cells (use
    skew.salted_agg if a hex exceeds the skew census threshold)."""
    qf = (F.col("x") * F.lit(_SQRT3_3) - F.col("y") * F.lit(_THIRD)) / F.lit(size)
    rf = (F.col("y") * F.lit(_TWO_THIRDS)) / F.lit(size)
    hq, hr = _hex_round(qf, rf)
    return (
        points.select("point_id", hq.alias("hq"), hr.alias("hr"))
        .groupBy("hq", "hr")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("point_id").alias("id_checksum"),
        )
    )


# --- grid-exact buffer union area ---------------------------------------------
BUF_RES = 16  # cell edge = 2^(26-16) = 1024 units
BUF_RADIUS = 2_000.0


def buffer_union_area(points: DataFrame, r: int = BUF_RES, radius: float = BUF_RADIUS) -> DataFrame:
    """Grid-exact buffer union area (PostGIS ST_Buffer + ST_Union +
    ST_Area — the 'how much area lies within R of any site' analytic):
    rasterize every point's R-disk onto res-`r` cells with the
    center-in-disk rule, union by DISTINCT cell, report covered cell
    count, exact area, and a cell-key checksum.

    Scale shape: bounded map-side explode (<= (2R/edge + 2)^2 offsets
    per point), codegen'd exact d^2 <= R^2 refine, ONE distinct shuffle
    on the cell key, 1-row agg.  Never materializes geometry; overlap
    between nearby points dedups in the distinct — the union semantics
    for free."""
    edge = DOMAIN >> r
    k = int(radius // edge) + 1
    cx = (F.floor(F.col("x") / edge) + F.col("di")).cast("long")
    cy = (F.floor(F.col("y") / edge) + F.col("dj")).cast("long")
    ctr_x = (cx + F.lit(0.5)) * float(edge)
    ctr_y = (cy + F.lit(0.5)) * float(edge)
    dx = ctr_x - F.col("x")
    dy = ctr_y - F.col("y")
    offs = F.sequence(F.lit(-k), F.lit(k))
    cells_df = (
        points.select("point_id", "x", "y")
        .withColumn("di", F.explode(offs))
        .withColumn("dj", F.explode(offs))
        .where(dx * dx + dy * dy <= F.lit(radius * radius))
        .select(cx.alias("cx"), cy.alias("cy"))
        .where((F.col("cx") >= 0) & (F.col("cy") >= 0))
        .distinct()
    )
    return cells_df.agg(
        F.count(F.lit(1)).alias("n_cells"),
        (F.count(F.lit(1)) * (edge * edge)).alias("area"),
        F.sum(F.col("cy") * F.lit(1 << 26) + F.col("cx")).alias("cell_checksum"),
    )


# --- k-ring neighborhood smoothing --------------------------------------------
KRING_RES = 12


def kring_smooth(tiles: DataFrame, r: int = KRING_RES) -> DataFrame:
    """H3/S2-style k-ring neighborhood aggregation (k=1): per grid cell,
    the 3x3-neighborhood image count — the sparse-grid convolution that
    turns a cell rollup into a smoothed density surface (hotspot maps,
    k-ring features for geo-ML).

    Emitted per cell that receives ANY contribution: own count (0 if
    the cell itself is empty but a neighbor is occupied), the k-ring
    sum, and the (cx, cy) key.

    Scale shape: ONE rollup shuffle to occupied cells (rows collapse to
    the occupied-cell count), then a bounded 9-offset explode of that
    ALREADY-AGGREGATED frame and ONE second agg on the target key —
    the explode fans out dims-sized data, never raw rows."""
    edge = DOMAIN >> r
    cx = F.floor((F.col("gt_x0") + F.lit(TILE_SPAN / 2)) / edge).cast("long")
    cy = F.floor((F.col("gt_y0") - F.lit(TILE_SPAN / 2)) / edge).cast("long")
    idx = F.substring("image_id", 4, 10).cast("long")
    occ = (
        tiles.select(cx.alias("cx"), cy.alias("cy"), idx.alias("idx"))
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("idx").alias("ids"))
    )
    off = F.sequence(F.lit(-1), F.lit(1))
    fan = (
        occ.withColumn("di", F.explode(off))
        .withColumn("dj", F.explode(off))
        .select(
            (F.col("cx") + F.col("di")).alias("tx"),
            (F.col("cy") + F.col("dj")).alias("ty"),
            "n",
            "ids",
            ((F.col("di") == 0) & (F.col("dj") == 0)).alias("self"),
        )
    )
    return fan.groupBy(F.col("tx").alias("cx"), F.col("ty").alias("cy")).agg(
        F.sum(F.when(F.col("self"), F.col("n")).otherwise(0)).alias("n_self"),
        F.sum("n").alias("kring_sum"),
        F.sum("ids").alias("kring_checksum"),
    )


# --- greedy box NMS ------------------------------------------------------------
NMS_N_BOX = 6
NMS_THR_MILLI = 200  # suppress when IoU > 0.200 (compared exactly in integers)


def _nms_box(i: Column, p):
    """Synthetic detection box p of image idx i (same formula family as
    box_iou_assign) + a deterministic confidence score."""
    pc = F.lit(p)
    return {
        "x0": (i * 3 + pc * 7) % 20,
        "y0": (i * 5 + pc * 11) % 20,
        "bw": (i + pc) % 10 + 6,
        "bh": (i * 2 + pc) % 10 + 6,
        "score": (i * 13 + pc * 29) % 100,
    }


def box_nms(tiles: DataFrame) -> DataFrame:
    """Greedy non-maximum suppression (torchvision.ops.nms / the
    post-detector pruning step of every detection pipeline): per image,
    NMS_N_BOX scored boxes are visited in (score DESC, box_id) order
    and a box is kept iff its IoU with every ALREADY-KEPT box is
    <= NMS_THR_MILLI/1000 — the comparison is exact integer
    cross-multiplication (1000*inter vs thr*union), never float IoU.

    Emits one row per (image, rank position): box id, score, kept flag.

    Scale shape: map-only — the whole greedy cascade is unrolled into
    codegen'd Column math on ONE row per image (ranks from pairwise
    score compares, position gathers as CASE chains, the kept
    recurrence as boolean columns), then exploded to per-position rows.
    Zero shuffle, zero UDF, no join; per-image cost is O(N^2) with N
    bounded by the detector's top-k.  Every stage materializes NAMED
    columns and later stages reference them by name — reusing Column
    objects would duplicate the expression tree exponentially through
    the kept recurrence."""
    idx = F.substring("image_id", 4, 10).cast("long")
    df = tiles.select("image_id", idx.alias("idx"))
    i = F.col("idx")
    boxes = [_nms_box(i, p) for p in range(NMS_N_BOX)]

    # stage 1: per-box fields + rank (score DESC, id ASC) as named cols
    stage1 = []
    for p in range(NMS_N_BOX):
        for f in ("x0", "y0", "bw", "bh", "score"):
            stage1.append(boxes[p][f].alias(f"{f}_{p}"))

    def before(q, p):
        return (boxes[q]["score"] > boxes[p]["score"]) | (
            (boxes[q]["score"] == boxes[p]["score"]) & (F.lit(q) < F.lit(p))
        )

    for p in range(NMS_N_BOX):
        rk = sum(
            (F.when(before(q, p), 1).otherwise(0) for q in range(NMS_N_BOX) if q != p),
            F.lit(0),
        )
        stage1.append(rk.alias(f"rank_{p}"))
    df = df.select("image_id", "idx", *stage1)

    # stage 2: gather box fields per sorted position k (named-col CASEs)
    stage2 = []
    for k in range(NMS_N_BOX):
        for f in ("x0", "y0", "bw", "bh", "score"):
            e = F.lit(0)
            for p in range(NMS_N_BOX):
                e = F.when(F.col(f"rank_{p}") == k, F.col(f"{f}_{p}")).otherwise(e)
            stage2.append(e.alias(f"{f}_at_{k}"))
        pe = F.lit(0)
        for p in range(NMS_N_BOX):
            pe = F.when(F.col(f"rank_{p}") == k, F.lit(p)).otherwise(pe)
        stage2.append(pe.alias(f"pred_at_{k}"))
    df = df.select("image_id", *stage2)

    # stage 3: pairwise conflict flags between sorted positions
    def fld(f, k):
        return F.col(f"{f}_at_{k}")

    stage3 = []
    for k in range(1, NMS_N_BOX):
        for j in range(k):
            iw = F.greatest(
                F.lit(0),
                F.least(fld("x0", k) + fld("bw", k), fld("x0", j) + fld("bw", j))
                - F.greatest(fld("x0", k), fld("x0", j)),
            )
            ih = F.greatest(
                F.lit(0),
                F.least(fld("y0", k) + fld("bh", k), fld("y0", j) + fld("bh", j))
                - F.greatest(fld("y0", k), fld("y0", j)),
            )
            inter = iw * ih
            union = fld("bw", k) * fld("bh", k) + fld("bw", j) * fld("bh", j) - inter
            stage3.append(
                (F.lit(1000) * inter > F.lit(NMS_THR_MILLI) * union).alias(f"c_{k}_{j}")
            )
    df = df.select("*", *stage3)

    # stage 4: greedy kept recurrence, one named boolean per position
    df = df.withColumn("kept_0", F.lit(True))
    for k in range(1, NMS_N_BOX):
        cond = F.lit(True)
        for j in range(k):
            cond = cond & (~F.col(f"kept_{j}") | ~F.col(f"c_{k}_{j}"))
        df = df.withColumn(f"kept_{k}", cond)

    rows = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("rank_pos"),
                F.col(f"pred_at_{k}").cast("long").alias("box_id"),
                F.col(f"score_at_{k}").cast("long").alias("score"),
                F.when(F.col(f"kept_{k}"), F.lit(1)).otherwise(F.lit(0))
                .cast("long").alias("kept"),
            )
            for k in range(NMS_N_BOX)
        ]
    )
    ex = df.select("image_id", F.explode(rows).alias("r"))
    return ex.select(
        "image_id",
        F.col("r.rank_pos").alias("rank_pos"),
        F.col("r.box_id").alias("box_id"),
        F.col("r.score").alias("score"),
        F.col("r.kept").alias("kept"),
    )


# --- segment-intersection census ------------------------------------------------
SEG_LEN = 5_000     # max |dx|,|dy| of a synthetic segment
SEG_CELL = 8_192    # bucketing grid edge (SEG_LEN < SEG_CELL: cover <= 2x2 +1)
SEG_MOD = 5         # every 5th point spawns a segment


def _segments(points: DataFrame) -> DataFrame:
    """Deterministic short segments derived from the point table:
    start = floor(point), end = start + ((id*7919) % (2L+1) - L,
    (id*104729) % (2L+1) - L).  Integer endpoints so every orientation
    test below is an exact int64 cross product."""
    pid = F.col("point_id")
    x0 = F.floor("x").cast("long")
    y0 = F.floor("y").cast("long")
    dx = (pid * 7919) % (2 * SEG_LEN + 1) - SEG_LEN
    dy = (pid * 104729) % (2 * SEG_LEN + 1) - SEG_LEN
    return points.where(pid % SEG_MOD == 0).select(
        pid.alias("seg_id"),
        x0.alias("ax"),
        y0.alias("ay"),
        (x0 + dx).alias("bx"),
        (y0 + dy).alias("by"),
    )


def segment_intersections(points: DataFrame) -> DataFrame:
    """Pairwise proper segment-crossing census (the Bentley-Ottmann
    problem in its MPC form; PostGIS ST_Crosses / line-layer conflation
    QC): all segment pairs whose interiors STRICTLY cross, found by a
    uniform-grid bucket join and refined with exact integer orientation
    tests — ccw(p1,p2,q1)·ccw(p1,p2,q2) < 0 on both sides.  Collinear
    touches are excluded by design (strictness keeps the predicate a
    pure sign test; endpoints are integers so the cross products are
    exact int64).

    Scale shape: each segment explodes into the <= (L/CELL+2)^2 grid
    cells its bbox covers (SEG_LEN < SEG_CELL so that is 2x2 + rounding
    = bounded); candidates meet in ONE cell equi-join; a pair straddling
    several shared cells is reported once via DISTINCT on the id pair —
    the same bounded-explode + dedup contract as buffer_area.  The
    refine is codegen'd integer Column math; the oracle is the BRUTE
    all-pairs theta join, proving the bucketed rewrite exact."""
    segs = _segments(points)
    gx0 = F.least("ax", "bx") / SEG_CELL
    gx1 = F.greatest("ax", "bx") / SEG_CELL
    gy0 = F.least("ay", "by") / SEG_CELL
    gy1 = F.greatest("ay", "by") / SEG_CELL
    cells = segs.select(
        "*",
        F.explode(
            F.sequence(F.floor(gx0).cast("long"), F.floor(gx1).cast("long"))
        ).alias("cgx"),
    ).select(
        "*",
        F.explode(
            F.sequence(F.floor(gy0).cast("long"), F.floor(gy1).cast("long"))
        ).alias("cgy"),
    )
    a = cells.select(
        F.col("cgx"), F.col("cgy"),
        F.col("seg_id").alias("s1"),
        F.col("ax").alias("p1x"), F.col("ay").alias("p1y"),
        F.col("bx").alias("p2x"), F.col("by").alias("p2y"),
    )
    b = cells.select(
        F.col("cgx"), F.col("cgy"),
        F.col("seg_id").alias("s2"),
        F.col("ax").alias("q1x"), F.col("ay").alias("q1y"),
        F.col("bx").alias("q2x"), F.col("by").alias("q2y"),
    )
    cand = a.join(b, ["cgx", "cgy"]).where(F.col("s1") < F.col("s2"))

    def ccw(ox, oy, px, py, qx, qy):
        return (F.col(px) - F.col(ox)) * (F.col(qy) - F.col(oy)) - (
            F.col(py) - F.col(oy)
        ) * (F.col(qx) - F.col(ox))

    d1 = ccw("p1x", "p1y", "p2x", "p2y", "q1x", "q1y")
    d2 = ccw("p1x", "p1y", "p2x", "p2y", "q2x", "q2y")
    d3 = ccw("q1x", "q1y", "q2x", "q2y", "p1x", "p1y")
    d4 = ccw("q1x", "q1y", "q2x", "q2y", "p2x", "p2y")
    hit = cand.where((d1 * d2 < 0) & (d3 * d4 < 0))
    return hit.select("s1", "s2").distinct()


def segment_intersections_sql(points_path: str) -> str:
    ccw = (
        "(({px}) - ({ox})) * (({qy}) - ({oy}))"
        " - (({py}) - ({oy})) * (({qx}) - ({ox}))"
    )

    def c(o, p, q):
        return ccw.format(
            ox=f"{o}x", oy=f"{o}y", px=f"{p}x", py=f"{p}y", qx=f"{q}x", qy=f"{q}y"
        )

    return f"""
WITH s AS (
  SELECT point_id AS seg_id,
         CAST(floor(x) AS BIGINT) AS ax, CAST(floor(y) AS BIGINT) AS ay,
         CAST(floor(x) AS BIGINT) + ((point_id * 7919) % {2 * SEG_LEN + 1} - {SEG_LEN}) AS bx,
         CAST(floor(y) AS BIGINT) + ((point_id * 104729) % {2 * SEG_LEN + 1} - {SEG_LEN}) AS by
  FROM read_parquet('{points_path}')
  WHERE point_id % {SEG_MOD} = 0
),
p AS (SELECT seg_id, ax AS p1x, ay AS p1y, bx AS p2x, by AS p2y FROM s),
q AS (SELECT seg_id, ax AS q1x, ay AS q1y, bx AS q2x, by AS q2y FROM s)
SELECT p.seg_id AS s1, q.seg_id AS s2
FROM p JOIN q ON p.seg_id < q.seg_id
WHERE ({c('p1', 'p2', 'q1')}) * ({c('p1', 'p2', 'q2')}) < 0
  AND ({c('q1', 'q2', 'p1')}) * ({c('q1', 'q2', 'p2')}) < 0
ORDER BY s1, s2
"""


def pyramid_gap_census(tiles: DataFrame, zoom: int) -> DataFrame:
    """Tile-pyramid completeness audit (the 'which parents are missing
    children?' pass a slippy-map/COG tiling service runs before
    publishing a zoom level): occupied XYZ tiles at `zoom` roll up to
    their zoom-1 parents; parents covering FEWER than 4 child
    quadrants are the rendering gaps.  Per gap parent: child count,
    the 4-bit quadrant mask (bit q = child q present, q = qx + 2·qy),
    and the image count underneath.

    Scale shape: map-only addressing (pure codegen, the xyz_tile
    Column math) + ONE (tx, ty) agg at `zoom` + ONE parent agg of the
    OCCUPIED-TILE relation (index-sized, not image-sized)."""
    cx = F.col("gt_x0") + F.lit(TILE_SPAN / 2)
    cy = F.col("gt_y0") - F.lit(TILE_SPAN / 2)
    tx, ty = xyz_tile(cx, cy, zoom)
    occ = (
        tiles.select(tx.alias("tx"), ty.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )
    parent = occ.select(
        (F.col("tx") / 2).cast("long").alias("px"),
        (F.col("ty") / 2).cast("long").alias("py"),
        ((F.col("tx") % 2) + 2 * (F.col("ty") % 2)).alias("q"),
        "n_images",
    )
    g = parent.groupBy("px", "py").agg(
        F.count(F.lit(1)).alias("n_children"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(q AS INT))")).alias("child_mask"),
        F.sum("n_images").alias("n_images"),
    )
    return g.where(F.col("n_children") < 4).select(
        "px", "py", "n_children", "child_mask", "n_images"
    )


# --- exact least-squares affine registration fit -------------------------------------------
AFF_N_PTS = 4


def _aff_points(i: Column):
    """AFF_N_PTS synthetic control-point pairs for image idx i: source
    points on a deterministic small grid, targets = an idx-derived
    integer affine map of the sources, with one point perturbed so the
    LS fit has a genuine residual."""
    pts = []
    a = (i % 3) + 1
    b = i % 2
    c = (i * 7) % 40
    d = -(i % 2)
    e = (i % 4) + 1
    f = (i * 11) % 40
    for p in range(AFF_N_PTS):
        x = F.lit(10 * p + 3)
        y = F.lit((p * p) % 7 + 2 * p)
        tx = a * x + b * y + c
        ty = d * x + e * y + f
        if p == AFF_N_PTS - 1:  # perturb the last pair
            tx = tx + (i % 5)
            ty = ty - (i % 7)
        pts.append((x, y, tx, ty))
    return pts


def affine_fit(tiles: DataFrame) -> DataFrame:
    """Exact least-squares affine registration (the control-point fit
    of image-to-map georegistration — gdal_translate -gcp / OpenCV
    estimateAffine2D without RANSAC): per image, AFF_N_PTS synthetic
    control pairs are fit by the normal equations, solved EXACTLY with
    Cramer's rule — the shared 3x3 determinant and the six parameter
    numerators are integer column math, so the rational parameters
    (num/det) and the det-scaled residual sums cross engines
    bit-for-bit without a single float.

    Scale shape: fully map-only (the points are unrolled inline, the
    determinants are codegen'd integer polynomials); zero shuffle, zero
    UDF."""
    idx = F.substring("image_id", 4, 10).cast("long")
    base = tiles.select("image_id", idx.alias("idx"))
    i = F.col("idx")
    pts = _aff_points(i)
    n = F.lit(AFF_N_PTS)
    sxx = sum((x * x for x, y, tx, ty in pts), F.lit(0))
    sxy = sum((x * y for x, y, tx, ty in pts), F.lit(0))
    syy = sum((y * y for x, y, tx, ty in pts), F.lit(0))
    sx = sum((x for x, y, tx, ty in pts), F.lit(0))
    sy = sum((y for x, y, tx, ty in pts), F.lit(0))

    def det3(m):
        return (
            m[0][0] * (m[1][1] * m[2][2] - m[1][2] * m[2][1])
            - m[0][1] * (m[1][0] * m[2][2] - m[1][2] * m[2][0])
            + m[0][2] * (m[1][0] * m[2][1] - m[1][1] * m[2][0])
        )

    M = [[sxx, sxy, sx], [sxy, syy, sy], [sx, sy, n]]
    det = det3(M)

    def solve(rhs):
        outs = []
        for col in range(3):
            Mc = [row[:] for row in M]
            for r in range(3):
                Mc[r][col] = rhs[r]
            outs.append(det3(Mc))
        return outs

    rx = [
        sum((x * tx for x, y, tx, ty in pts), F.lit(0)),
        sum((y * tx for x, y, tx, ty in pts), F.lit(0)),
        sum((tx for x, y, tx, ty in pts), F.lit(0)),
    ]
    ry = [
        sum((x * ty for x, y, tx, ty in pts), F.lit(0)),
        sum((y * ty for x, y, tx, ty in pts), F.lit(0)),
        sum((ty for x, y, tx, ty in pts), F.lit(0)),
    ]
    na, nb, nc = solve(rx)
    nd, ne, nf = solve(ry)
    resx = sum(
        (F.abs(det * tx - (na * x + nb * y + nc)) for x, y, tx, ty in pts),
        F.lit(0),
    )
    resy = sum(
        (F.abs(det * ty - (nd * x + ne * y + nf)) for x, y, tx, ty in pts),
        F.lit(0),
    )
    return base.select(
        "image_id",
        det.cast("long").alias("det"),
        na.cast("long").alias("num_a"),
        nb.cast("long").alias("num_b"),
        nc.cast("long").alias("num_c"),
        nd.cast("long").alias("num_d"),
        ne.cast("long").alias("num_e"),
        nf.cast("long").alias("num_f"),
        resx.cast("long").alias("resx_scaled"),
        resy.cast("long").alias("resy_scaled"),
    )


def morton_key(x: Column, y: Column, r: int = HILBERT_R) -> Column:
    """Z-order (Morton) key: bit-interleave of the two lattice coords —
    unrolled into 2r codegen'd shift/mask terms, zero UDF."""
    out = F.lit(0).cast("long")
    for b in range(r):
        out = (
            out
            + F.shiftleft(F.shiftright(x.cast("long"), b).bitwiseAND(F.lit(1)), 2 * b)
            + F.shiftleft(F.shiftright(y.cast("long"), b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return out


def curve_locality_census(tiles: DataFrame) -> DataFrame:
    """Morton-vs-Hilbert locality census (the measured answer to 'why
    cluster a 100 TB layout by Hilbert rather than Z-ORDER'): the
    occupied ingest-lattice cells are walked in each curve's key order
    and consecutive Chebyshev jumps are tallied — Z-order's quadrant
    seams produce long jumps (up to half the lattice), Hilbert's
    unit-step property keeps neighbors adjacent.  Per curve: cells,
    Σ jump, max jump, and the count of unit steps.

    Scale shape: both keys are map-only codegen'd integer math on the
    DISTINCT occupied-cell relation (dims-sized — the skew-census
    single-partition-window policy applies to the ordering)."""
    from ..constants import GRID_W
    from .georegister import image_idx

    idx = image_idx()
    cells = tiles.select(
        (idx % GRID_W).cast("long").alias("gx"),
        F.floor(idx / GRID_W).cast("long").alias("gy"),
    ).distinct()
    cells = cells.localCheckpoint(eager=False)  # both curves share the scan
    rows = []
    for name, keyed in (
        ("morton", cells.select("gx", "gy", morton_key(F.col("gx"), F.col("gy")).alias("k"))),
        ("hilbert", with_hilbert(cells, "gx", "gy", out="k")),
    ):
        w = Window.orderBy("k")
        j = keyed.repartition(1).select(
            "gx",
            "gy",
            (F.col("gx") - F.lag("gx", 1).over(w)).alias("dx"),
            (F.col("gy") - F.lag("gy", 1).over(w)).alias("dy"),
        )
        jump = F.greatest(F.abs("dx"), F.abs("dy"))
        rows.append(
            j.agg(
                F.count(F.lit(1)).alias("n_cells"),
                F.sum(jump).alias("sum_jump"),
                F.max(jump).alias("max_jump"),
                F.sum((jump == 1).cast("long")).alias("n_unit_steps"),
            ).select(F.lit(name).alias("curve"), "n_cells", "sum_jump", "max_jump", "n_unit_steps")
        )
    return rows[0].unionByName(rows[1]).repartition(1).sortWithinPartitions("curve")


# --- DBSCAN density clustering ----------------------------------------------------------

DBSCAN_EPS = 1_000
DBSCAN_MIN_PTS = 4
# cell-quotient CC tier gate: ≤ this many quotient edges -> exact
# driver union-find (a 2M-edge collect is ~32 MB — planner-metadata
# sized); above it the distributed star contraction runs unchanged.
DBSCAN_QUOTIENT_CC_MAX = 2_000_000
# broadcast gate for the per-core maps (core -> rep / component):
# Θ(#cores) rows of 16 B, so 4M cores ≈ 64 MB per executor copy —
# comfortably broadcastable; past it every map join over the pair
# frame reverts to a shuffled equi-join (the 10^12-point posture).
DBSCAN_BCAST_CORES = 4_000_000


def dbscan_eps_pairs(pt: DataFrame, eps: int = DBSCAN_EPS) -> DataFrame:
    """dbscan's eps-neighbor HALF pair set (pa, pb), each unordered
    within-eps pair exactly once — exposed as its own stage so the
    plan-quality suite can assert the grid equi-join shape directly
    (tests/test_plan_quality.py::test_dbscan_pair_join_no_nested_loop).

    `pt` carries (point_id, xi, yi, gx, gy) with coordinates floor-
    quantized and gx/gy the eps-grid cell.  Half-plane neighbor
    offsets: (0,0) with pa<pb plus the 4 forward directions generate
    each unordered within-eps pair exactly ONCE (5x probe fan-out
    instead of the naive 3x3 = 9x); the symmetric pair set is the
    union with its own mirror — narrow, no shuffle."""
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((0, 0), (1, 0), (0, 1), (1, 1), (1, -1))
        ]
    )
    a = (
        pt.select("point_id", "xi", "yi", "gx", "gy", F.explode(offs).alias("o"))
        .select(
            F.col("point_id").alias("pa"),
            F.col("xi").alias("ax"),
            F.col("yi").alias("ay"),
            (F.col("gx") + F.col("o.dx")).alias("cgx"),
            (F.col("gy") + F.col("o.dy")).alias("cgy"),
            ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("same"),
        )
    )
    b = pt.select(
        F.col("point_id").alias("pb"),
        F.col("xi").alias("bx"),
        F.col("yi").alias("by"),
        F.col("gx").alias("cgx"),
        F.col("gy").alias("cgy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        a.join(b, ["cgx", "cgy"])
        .where(
            (d2 <= F.lit(eps * eps))
            & (F.col("pa") != F.col("pb"))
            & (~F.col("same") | (F.col("pa") < F.col("pb")))
        )
        .select("pa", "pb")
    )


def dbscan(
    points: DataFrame, eps: int = DBSCAN_EPS, min_pts: int = DBSCAN_MIN_PTS
) -> DataFrame:
    """DBSCAN (Ester et al., KDD 1996) over the points table — the
    density clustering every spatial-analytics stack ships: a point is
    CORE if >= min_pts points (itself included) lie within eps;
    clusters are the connected components of the core-core eps graph;
    non-core points touching a core point are BORDER (assigned the
    smallest adjacent cluster id — a deterministic refinement of the
    usual first-scan-wins rule); the rest is NOISE.  Coordinates are
    floor-quantized to integer units so every distance compare is
    exact int64 on both engines; the cluster id is the min core
    point_id of the component.

    Scale shape: neighbor pairs come from an eps-grid equi-join (one
    side exploded to its 3x3 neighbor cells — bounded 9x fan-out,
    shuffle on the grid key only, refine inside codegen); the CC runs
    the alternating large/small-star contraction operator (graph.py,
    Kiveris SoCC'14) — O(log n) rounds on ANY topology, where min-label
    propagation needs diameter rounds (dense eps-graphs at sf0.1 made
    that the 25 s query).  Per-zone skew = max points per eps-cell, the
    same knob the salting operator (skew.py) handles when a cell runs
    hot."""
    from .graph import connected_components_star

    pt = points.select(
        "point_id",
        F.floor("x").cast("long").alias("xi"),
        F.floor("y").cast("long").alias("yi"),
    ).withColumn("gx", F.floor(F.col("xi") / eps).cast("long")).withColumn(
        "gy", F.floor(F.col("yi") / eps).cast("long")
    )
    # the HALF pair set is the only persisted pair frame (18M rows at
    # sf1 instead of the 36M symmetric closure — half the cache and
    # half the degree-agg shuffle); every consumer below derives the
    # direction it needs from it.
    half = dbscan_eps_pairs(pt, eps)
    half.persist()
    core = (
        half.select(F.col("pa").alias("p"))
        .union(half.select(F.col("pb").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") + 1 >= min_pts)
        .select("p")
    )
    core.persist()
    try:
        # GEOMETRIC pre-contraction: all integer-quantized points in
        # one (eps/sqrt2)-sized sub-cell are pairwise within eps
        # (max axis diff s-1 = 706 at eps=1000 -> d^2 <= 2*706^2 <
        # eps^2), so each sub-cell's cores form a guaranteed clique in
        # the eps graph.  Contract every core to its sub-cell's min
        # core id and run CC on the QUOTIENT graph — cross-cell edges
        # only, deduped: thousands of edges instead of tens of
        # millions at sf1, with the iterative star phase reduced to a
        # couple of rounds.  Exact: same-cell connectivity is implied
        # by the clique, labels stay "min reachable core id" because
        # each representative IS its cell's min.
        sub = int(eps / 2 ** 0.5)
        corep = pt.join(
            F.broadcast(core.select(F.col("p").alias("point_id"))), "point_id"
        ).select(
            "point_id",
            F.floor(F.col("xi") / sub).cast("long").alias("scx"),
            F.floor(F.col("yi") / sub).cast("long").alias("scy"),
        )
        rep = corep.groupBy("scx", "scy").agg(F.min("point_id").alias("rep"))
        cmap = (
            corep.join(rep, ["scx", "scy"])
            .select(F.col("point_id").alias("p"), "rep")
        )
        cmap.persist()
        # cmap holds CORES only, so the inner joins both restrict the
        # pair set to core-core edges AND rewrite endpoints to their
        # representatives in one pass over the half pairs.  The
        # (core -> rep) and (core -> component) maps are Θ(#cores)
        # rows of 16 B; under the gate broadcast them EXPLICITLY so
        # every remaining join over the Θ(pairs) half frame — quotient
        # rewrite and both border passes — is map-side (AQE alone only
        # converts the ones whose runtime size squeaks under its 10 MB
        # default; at sf1 the 600k-core maps missed it and each join
        # re-shuffled the 18M-row pair frame).  Past the gate they
        # stay shuffled equi-joins — the 10^12-point posture.
        nc = core.count()
        bc = nc <= DBSCAN_BCAST_CORES
        ra = cmap.select(F.col("p").alias("pa"), F.col("rep").alias("ra"))
        rb = cmap.select(F.col("p").alias("pb"), F.col("rep").alias("rb"))
        if bc:
            ra, rb = F.broadcast(ra), F.broadcast(rb)
        ceq = (
            half.join(ra, "pa")
            .join(rb, "pb")
            .select("ra", "rb")
            .where(F.col("ra") != F.col("rb"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        nq = ceq.count()
        if nq <= DBSCAN_QUOTIENT_CC_MAX:
            # the quotient of an eps-grid is ~#occupied-cells rows —
            # thousands to tens of thousands even at sf1 — and its
            # diameter is the MAP diameter (a lattice), so star
            # contraction burns 5-6 latency-bound rounds on data a
            # single task handles in milliseconds.  Under the gate,
            # collect it and run exact union-find on the driver
            # (deterministic: component label = min rep id); past the
            # gate, the distributed star CC takes over unchanged.
            parent: dict = {}

            def find(x: int) -> int:
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:
                    parent[x], x = r, parent[x]
                return r

            for e in ceq.collect():
                ru, rv = find(e["ra"]), find(e["rb"])
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
            comp_rows = [
                (int(r["rep"]), int(find(int(r["rep"]))))
                for r in rep.select("rep").collect()
            ]
            compq = F.broadcast(
                pt.sparkSession.createDataFrame(
                    comp_rows, "r long, component long"
                )
            )
        else:
            compq = connected_components_star(
                ceq, rep.select(F.col("rep").alias("r")), vertex_col="r",
                src_col="ra", dst_col="rb", max_iter=25, pre_contract=None,
            )
        comp = cmap.join(
            compq.select(F.col("r").alias("rep"), "component"), "rep"
        ).select("p", "component")
        if bc:
            # (core -> component), Θ(#cores): pin once (it feeds the
            # core output AND both border joins) and ship it broadcast
            # so the border passes never shuffle the pair frame.
            comp = comp.localCheckpoint(eager=False)
            comp_b1 = F.broadcast(comp.select(F.col("p").alias("pb"), "component"))
            comp_b2 = F.broadcast(comp.select(F.col("p").alias("pa"), "component"))
        else:
            comp_b1 = comp.select(F.col("p").alias("pb"), "component")
            comp_b2 = comp.select(F.col("p").alias("pa"), "component")
        core_out = comp.select(
            F.col("p").alias("point_id"),
            F.lit(2).alias("role"),
            F.col("component").alias("cluster"),
        )
        # border: non-core endpoint adjacent to a core endpoint, both
        # orientations of the half pairs, smallest adjacent cluster id
        ca = F.broadcast(core.select(F.col("p").alias("pa")))
        cb = F.broadcast(core.select(F.col("p").alias("pb")))
        b1 = (
            half.join(cb, "pb")
            .join(ca, "pa", "left_anti")
            .join(comp_b1, "pb")
            .select(F.col("pa").alias("point_id"), "component")
        )
        b2 = (
            half.join(ca, "pa")
            .join(cb, "pb", "left_anti")
            .join(comp_b2, "pa")
            .select(F.col("pb").alias("point_id"), "component")
        )
        border = (
            b1.unionByName(b2)
            .groupBy("point_id")
            .agg(F.min("component").alias("cluster"))
            .select("point_id", F.lit(1).alias("role"), "cluster")
        )
        assigned = core_out.unionByName(border)
        noise = (
            pt.select("point_id")
            .join(assigned.select("point_id"), "point_id", "left_anti")
            .select(
                "point_id",
                F.lit(0).alias("role"),
                F.lit(None).cast("long").alias("cluster"),
            )
        )
        out = assigned.unionByName(noise)
        # materialize before unpersisting the shared frontier
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        half.unpersist()
        core.unpersist()
        try:
            cmap.unpersist()
        except NameError:
            pass
