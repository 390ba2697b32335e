"""Op E5 — broadcast point-in-polygon join (SURVEY §2.2).

Filter-refine, Sedona-style but library-level (SURVEY §4.3):

  1. COARSE: each zone's bbox is covered by res-r cells (cell_cover,
     higher-order fns); `explode` yields the small broadcast side
     (zone_id, cell_id, edges).  Each point computes its single res-r
     cell — so the candidate equi-join emits every (point, zone) pair at
     most once (no dedup pass needed).
  2. REFINE: exact convex half-plane test as a pure Column expression,
     no UDF.  Each zone's edges are precomputed once, before the
     explode, as a flat array padded to the unroll width (ring_edges);
     the per-candidate test (convex_pip_unrolled) is then a short
     unrolled run of `get`s and arithmetic in the BroadcastHashJoin's
     whole-stage-codegen stage.  That stage's generated method must stay
     under HotSpot's 8,000-byte huge-method limit or it runs interpreted:
     the earlier per-candidate form, reading ring structs with a
     size(ring) check per edge, was 8,498 bytes (pip_join count)
     and 10,958 bytes (zone_image_stats) at 8 edges; this one is 4,036
     and 6,496.  Rings wider than MAX_UNROLL_EDGES use the interpreted
     zip_with form (convex_pip_hof).  Boundary counts as inside
     (cross >= 0 on every CCW edge), matching oracle.pip_halfplane and
     the DuckDB oracle verbatim.

Scale notes (100 TB posture): the zones side is dims-sized -> broadcast;
if zones ever outgrow the broadcast threshold the same plan degrades
gracefully to a shuffled hash join on cell_id. The big side is map-only
up to the join.  Skew from hot cells is handled upstream by op E8
(operators/skew.py) plus AQE skew-join as backstop.

General non-convex rings: use operators.zonal's pandas-UDF ray-cast path
(oracle.pip_raycast) — the fixtures' rings are all convex by
construction so joins keep the codegen fast path.

Reference analog: georaster has no vector joins; this is the distributed
machinery mandated by BASELINE.json.north_rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..constants import DEFAULT_RES
from ..functions import cells
from ..functions.util import per_jvm


# Rings with at most this many edges take the unrolled codegen fast path:
# the largest width whose candidate stage keeps its generated method
# under HotSpot's 8,000-byte DontCompileHugeMethods limit in both
# pip_join and zone_image_stats (tests/test_plan_quality.py).
MAX_UNROLL_EDGES = 11


def ring_edges(ring: Column, n_edges: int) -> Column:
    """Flat array<double> of a closed ring's edges, [x1, y1, x2-x1, y2-y1]
    per edge, padded to exactly `n_edges` edges — the zone-side half of
    the unrolled refine, evaluated once per zone.

    A shorter ring repeats its first edge: the refine ANDs the edge
    tests, so testing one edge twice changes nothing.  A ring with more
    than `n_edges` edges raises instead of silently dropping an edge."""
    n = F.size(ring) - 1

    def edge(k: Column) -> Column:
        e = F.when(k < n, k).otherwise(F.lit(0))
        a, b = F.get(ring, e), F.get(ring, e + 1)
        return F.array(a["x"], a["y"], b["x"] - a["x"], b["y"] - a["y"])

    edges = F.flatten(F.transform(F.sequence(F.lit(0), F.lit(n_edges - 1)), edge))
    return F.when(n <= F.lit(n_edges), edges).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"ring_edges: ring edges exceed n_edges={n_edges}: "),
                n.cast("string"),
            )
        )
    )


def convex_pip_unrolled(edges: Column, px: Column, py: Column, n_edges: int) -> Column:
    """True iff (px, py) is inside/on the convex CCW ring whose
    `ring_edges(ring, n_edges)` array is `edges` — the unrolled
    whole-stage-codegen fast path of the half-plane test.

    Per edge, dx*(py-y1) - dy*(px-x1) >= 0 over plain `get`s and
    arithmetic: the same operations in the same order as
    oracle.pip_halfplane and oracle_sql.PIP_WHERE, so results are
    bit-identical.  The higher-order-function variant (convex_pip_hof)
    is CodegenFallback in Spark 4 — interpreted per candidate, allocating
    two ring slices and a zipped array each.  The code grows about 500
    bytes per edge, which MAX_UNROLL_EDGES bounds."""
    out = None
    for k in range(n_edges):
        x1, y1, dx, dy = (F.get(edges, 4 * k + i) for i in range(4))
        test = dx * (py - y1) - dy * (px - x1) >= 0
        out = test if out is None else out & test
    return out


def convex_pip_hof(ring: Column, px: Column, py: Column) -> Column:
    """True iff (px, py) is inside/on the convex CCW closed ring, for any
    ring size — the engine twin of oracle_sql.pip_where.  Interpreted
    (zip_with/exists are CodegenFallback); the path for rings wider than
    MAX_UNROLL_EDGES and the differential-test twin of the unrolled fast
    path (tests/test_pip_refine.py)."""
    n = F.size(ring)
    p1 = F.slice(ring, 1, n - 1)
    p2 = F.slice(ring, 2, n - 1)
    crosses = F.zip_with(
        p1,
        p2,
        lambda a, b: (b["x"] - a["x"]) * (py - a["y"]) - (b["y"] - a["y"]) * (px - a["x"]),
    )
    return ~F.exists(crosses, lambda c: c < 0)


@per_jvm
def _zone_cells_cols(r: int, shape: str) -> tuple[Column, ...]:
    return (
        F.col("zone_id"),
        F.col(shape),
        F.explode(
            cells.cell_cover(F.col("xmin"), F.col("xmax"), F.col("ymin"), F.col("ymax"), r)
        ).alias("cell_id"),
    )


def zone_cells(zones: DataFrame, r: int = DEFAULT_RES, shape: str = "ring") -> DataFrame:
    """(zone_id, <shape>, cell_id) — one row per covering cell of the bbox."""
    return zones.select(*_zone_cells_cols(r, shape))


@per_jvm
def _pip_exprs(r: int, max_ring: int | None) -> tuple:
    """pip_join's fixed expressions: the point cell, the zone-side
    projection (None when the refine reads the ring itself), the refine
    predicate and the name of the zone shape column it reads."""
    px, py = F.col("_px"), F.col("_py")
    point_cell = cells.cell_encode(px, py, r)
    if max_ring is not None and max_ring - 1 <= MAX_UNROLL_EDGES:
        # Edges are built per zone, below the cell explode; the candidate
        # stream only reads them.
        shape = "edges"
        zone_cols = (
            *[F.col(c) for c in ("zone_id", "xmin", "xmax", "ymin", "ymax")],
            ring_edges(F.col("ring"), max_ring - 1).alias(shape),
        )
        refine = convex_pip_unrolled(F.col(shape), px, py, max_ring - 1)
    else:
        shape, zone_cols = "ring", None
        refine = convex_pip_hof(F.col(shape), px, py)
    return point_cell, zone_cols, refine, shape


def pip_join(
    points: DataFrame,
    zones: DataFrame,
    x: Column,
    y: Column,
    r: int = DEFAULT_RES,
    broadcast_zones: bool = True,
    max_ring: int | None = None,
) -> DataFrame:
    """All (point-row, zone_id) containment pairs.

    `points` is any DataFrame; `x`/`y` are Column expressions over it.
    Result = points columns + zone_id (edges or ring, and cell_id, dropped).
    `max_ring` is an optional caller-supplied bound on size(ring) over the
    zones side.  NOTE: when max_ring is None this function EAGERLY runs a
    tiny Spark job (max(size(ring)) over the dim table) at plan-construction
    time to pick the refine fast path; callers building plans lazily, or
    issuing several pip_joins against the same zones table, should compute
    the bound once and pass it (zone_image_stats does).

    The point cell, zone edges, zone cover and unrolled refine depend
    only on `r` and `max_ring`, and building them costs about 1,700 py4j
    round-trips: they are built once per JVM (util.per_jvm) and reused,
    so a repeated pip_join sends about 50 commands of its own.
    """
    # Dispatch the refine predicate on the zones side's actual max ring
    # size: one tiny driver-side agg over the dim table (broadcast-small
    # by definition) buys the codegen fast path for the candidate stream.
    if max_ring is None:
        max_ring = zones.agg(F.max(F.size("ring"))).first()[0]
    point_cell, zone_cols, refine, shape = _pip_exprs(r, max_ring)
    pts = points.withColumns({"_px": x, "_py": y}).withColumn("cell_id", point_cell)
    if zone_cols is not None:
        zones = zones.select(*zone_cols)
    zc = zone_cells(zones, r, shape)
    if broadcast_zones:
        zc = F.broadcast(zc)
    else:
        # The LARGE-ZONES degradation path: force the shuffled hash join
        # a table-sized zones side would get — without the hint, Catalyst
        # statistics (or AQE) re-broadcast a dim-sized test fixture and
        # the fallback plan is never actually exercised.
        zc = zc.hint("shuffle_hash")
    joined = pts.join(zc, "cell_id").where(refine)
    return joined.drop(shape, "cell_id", "_px", "_py")


def zone_geometry(zones: DataFrame) -> DataFrame:
    """Vector-geometry analytics over zone rings: shoelace area, centroid
    numerators, and edge-length statistics — the polygon measures a
    vector layer carries alongside the PIP/zonal joins (no upstream
    analog: georaster is raster-only; this is the vector half of the
    raster<->vector tier).

    All surfaces are int64-exact: ring coordinates are first snapped to
    the unit lattice (floor(x + 0.5) — exact on doubles, identical in
    any engine), then
      area2    = signed shoelace sum  (= 2*area),
      cx_num6 / cy_num6 = centroid numerators (= 6*area*cx, 6*area*cy),
      perim_sq = sum of squared edge lengths
    are pure integer folds over the edges (array higher-order functions;
    JVM-side, no UDF, map-only — at 10^12 zones this is a scan)."""
    n = F.size("ring")

    def xi(k):
        return F.floor(F.element_at("ring", k).getField("x") + 0.5).cast("long")

    def yi(k):
        return F.floor(F.element_at("ring", k).getField("y") + 0.5).cast("long")

    def edge_fold(term):
        return F.aggregate(
            F.sequence(F.lit(1), n - 1),
            F.lit(0).cast("long"),
            lambda acc, k: acc + term(k),
        )

    cross = lambda k: xi(k) * yi(k + 1) - xi(k + 1) * yi(k)  # noqa: E731
    return zones.select(
        "zone_id",
        "kind",
        (n - 1).cast("long").alias("n_edges"),
        edge_fold(cross).alias("area2"),
        edge_fold(lambda k: (xi(k) + xi(k + 1)) * cross(k)).alias("cx_num6"),
        edge_fold(lambda k: (yi(k) + yi(k + 1)) * cross(k)).alias("cy_num6"),
        edge_fold(
            lambda k: (xi(k + 1) - xi(k)) * (xi(k + 1) - xi(k))
            + (yi(k + 1) - yi(k)) * (yi(k + 1) - yi(k))
        ).alias("perim_sq"),
    )


def zone_overlap(
    zones: DataFrame, r: int = DEFAULT_RES, buffer: float = 0.0
) -> DataFrame:
    """Vector-vector overlay broad phase: every pair of zones whose
    ``buffer``-dilated bounding boxes intersect — i.e. pairs within
    L-inf distance ``2*buffer`` of each other — with the unit-snapped
    intersection box of the dilated footprints and its integer area.
    With ``buffer=0`` and ``kind='rect'`` zones the pair row is the
    exact rect-rect overlay; for convex rings it is the candidate set a
    narrow-phase clip (Sutherland-Hodgman) would refine.

    Plan: zone rings fold to bboxes map-side (array higher-order
    functions, no UDF), each dilated bbox is covered by res-``r`` cells,
    and the pair join is `extent.intersection`'s cell-prefiltered range
    join with reference-point dedup — NOT an O(Z^2) cross join, so the
    same plan holds when the vector layer itself is table-sized (10^9
    zones), the case where a broadcast nested-loop would die.
    Intersection bounds snap to the unit lattice (floor(x+0.5), exact on
    doubles) so the emitted box and area are int64 and bit-stable across
    engines."""
    from . import extent as ext

    xs = F.transform("ring", lambda p: p.getField("x"))
    ys = F.transform("ring", lambda p: p.getField("y"))
    buf = F.lit(float(buffer))
    bb = zones.select(
        F.col("zone_id").alias("image_id"),
        (F.array_min(xs) - buf).alias("xmin"), (F.array_max(xs) + buf).alias("xmax"),
        (F.array_min(ys) - buf).alias("ymin"), (F.array_max(ys) + buf).alias("ymax"),
    ).withColumn(
        "cover_cells",
        cells.cell_cover(F.col("xmin"), F.col("xmax"), F.col("ymin"), F.col("ymax"), r),
    )
    pairs = ext.intersection(bb, bb, r=r, same_table=True)

    def snap(c: Column) -> Column:
        return F.floor(c + 0.5).cast("long")

    zero = F.lit(0).cast("long")
    w_u = F.greatest(snap(F.col("ixmax")) - snap(F.col("ixmin")), zero)
    h_u = F.greatest(snap(F.col("iymax")) - snap(F.col("iymin")), zero)
    return pairs.select(
        F.col("a_id").alias("zone_a"),
        F.col("b_id").alias("zone_b"),
        snap(F.col("ixmin")).alias("ixmin_u"),
        snap(F.col("ixmax")).alias("ixmax_u"),
        snap(F.col("iymin")).alias("iymin_u"),
        snap(F.col("iymax")).alias("iymax_u"),
        (w_u * h_u).alias("area_u"),
    )


def zone_min_width(zones: DataFrame) -> DataFrame:
    """Rotating-calipers minimum width of each convex zone — the
    narrowest-slab measure (min over edge directions of the support
    width) driving corridor/fit analyses; for a convex polygon the
    minimum width is attained perpendicular to an edge (calipers
    theorem), so the exact sweep is min over edges e of
    max over vertices v of dist(v, line(e)).  Coordinates unit-snap to
    ints (same snap as zone_geometry); per edge the squared width is
    the quantized rational w2 = floor(maxcross^2 / |e|^2) (cross
    products are exact int64; the square crosses through DECIMAL(38)
    to dodge the int64 ceiling), and the argmin edge breaks ties by
    index — bit-identical on both engines by construction.  Emits per
    zone: edge count, min/max squared width, argmin edge (1-based).

    Scale shape: ring arrays explode to (edge x vertex) rows — bounded
    by ring length squared (rings are tiny), grouped twice, no UDF; at
    10^9 zones everything stays keyed by zone_id, map-side combinable."""
    snap = lambda c: F.floor(c + F.lit(0.5)).cast("long")  # noqa: E731
    base = zones.select("zone_id", "ring", F.size("ring").alias("n"))
    e = base.select(
        "zone_id",
        F.posexplode(F.slice(F.col("ring"), 1, F.size("ring") - 1)).alias("k0", "a"),
        F.col("ring"),
    ).select(
        "zone_id",
        (F.col("k0") + 1).alias("k"),
        snap(F.col("a.x")).alias("ax"),
        snap(F.col("a.y")).alias("ay"),
        snap(F.element_at(F.col("ring"), F.col("k0") + 2).getField("x")).alias("bx"),
        snap(F.element_at(F.col("ring"), F.col("k0") + 2).getField("y")).alias("by"),
    )
    v = base.select(
        "zone_id",
        F.explode(F.slice(F.col("ring"), 1, F.size("ring") - 1)).alias("p"),
    ).select("zone_id", snap(F.col("p.x")).alias("vx"), snap(F.col("p.y")).alias("vy"))
    ex = F.col("bx") - F.col("ax")
    ey = F.col("by") - F.col("ay")
    cross = ex * (F.col("vy") - F.col("ay")) - ey * (F.col("vx") - F.col("ax"))
    per_edge = (
        e.join(v, "zone_id")
        .groupBy("zone_id", "k", "ax", "ay", "bx", "by")
        .agg(F.max(cross).alias("mc"))
        .select(
            "zone_id",
            "k",
            F.expr(
                "CAST(div(CAST(mc AS DECIMAL(38,0)) * CAST(mc AS DECIMAL(38,0)),"
                " CAST((bx-ax)*(bx-ax) + (by-ay)*(by-ay) AS DECIMAL(38,0)))"
                " AS BIGINT)"
            ).alias("w2"),
        )
    )
    return per_edge.groupBy("zone_id").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.min("w2").alias("min_w2"),
        F.max("w2").alias("max_w2"),
        F.min(F.struct("w2", "k")).getField("k").cast("long").alias("argmin_edge"),
    )


def frechet_pairs(zones: DataFrame) -> DataFrame:
    """Discrete Frechet distance between consecutive zones' rings
    (Eiter & Mannila 1994) — the coupled-walk similarity of trajectory
    and shape matching (a DTW with max instead of sum):
    D[i,j] = max(cost(i,j), min(D[i-1,j], D[i,j-1], D[i-1,j-1])) over
    unit-snapped ring vertices with squared-distance costs, so the
    result is the exact squared Frechet distance, all int64.  Pairs are
    (zone_id, zone_id+1).  Also emits the endpoint cost (a lower bound:
    the coupling must match both final vertices).

    Scale shape: rings are tiny, so each pair's DP is a bounded numpy
    kernel inside one Arrow batch; pairing is a 1-shifted equi-join on
    zone_id — no cross product."""
    import numpy as np
    import pandas as pd

    snap = lambda c: F.floor(c + F.lit(0.5)).cast("long")  # noqa: E731
    ring_ints = F.expr(
        "transform(slice(ring, 1, size(ring) - 1),"
        " p -> struct(CAST(floor(p.x + 0.5) AS BIGINT) AS x,"
        "             CAST(floor(p.y + 0.5) AS BIGINT) AS y))"
    )
    z = zones.select("zone_id", ring_ints.alias("r"))
    a = z.select(F.col("zone_id").alias("pair_id"), F.col("r").alias("ra"))
    b = z.select((F.col("zone_id") - 1).alias("pair_id"), F.col("r").alias("rb"))
    pairs = a.join(b, "pair_id")

    def _dp(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                ra = [(int(p["x"]), int(p["y"])) for p in row["ra"]]
                rb = [(int(p["x"]), int(p["y"])) for p in row["rb"]]
                na, nb = len(ra), len(rb)
                cost = np.array(
                    [[(ax - bx) ** 2 + (ay - by) ** 2 for (bx, by) in rb]
                     for (ax, ay) in ra],
                    dtype=np.int64,
                )
                D = np.zeros((na, nb), dtype=np.int64)
                D[0, 0] = cost[0, 0]
                for i in range(1, na):
                    D[i, 0] = max(cost[i, 0], D[i - 1, 0])
                for j in range(1, nb):
                    D[0, j] = max(cost[0, j], D[0, j - 1])
                for i in range(1, na):
                    for j in range(1, nb):
                        D[i, j] = max(
                            cost[i, j],
                            min(D[i - 1, j], D[i, j - 1], D[i - 1, j - 1]),
                        )
                rows.append(
                    {
                        "pair_id": int(row["pair_id"]),
                        "frechet_sq": int(D[na - 1, nb - 1]),
                        "endpoint_sq": int(cost[na - 1, nb - 1]),
                        "na": na,
                        "nb": nb,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["pair_id", "frechet_sq", "endpoint_sq", "na", "nb"]
            )

    return pairs.mapInPandas(
        _dp,
        schema="pair_id long, frechet_sq long, endpoint_sq long, na int, nb int",
    )


DP_EPS2 = 200 * 200  # squared simplification tolerance (distance units)
DP_MAX_DEPTH = 4     # split rounds; rings here are <= 9 vertices


def polyline_simplify(zones: DataFrame) -> DataFrame:
    """Douglas-Peucker polyline simplification census (Douglas &
    Peucker 1973) over the unit-snapped zone rings, integer-exact: the
    farthest-point split test compares cross^2 > EPS2 * len2 — both
    sides integers, and within a fixed chord the squared cross product
    orders interior points exactly like perpendicular distance — so no
    division or sqrt enters the gate surface.  Ties break to the
    lowest vertex index.  Emits per zone the kept-vertex count, the
    1-based squared-index checksum of kept vertices, and the terminal
    segment count after at most DP_MAX_DEPTH split rounds.

    Implementation is fully declarative (no UDF): a bounded seg table
    — every (start, end) chord with interior points gets its argmax
    interior vertex via one window — then DP_MAX_DEPTH rounds of
    split-or-terminate joins, exactly the walk the DuckDB twin replays
    as a recursive CTE over the same seg table.

    Scale shape: the seg table is O(m^2) rows per ring with m bounded
    (<= 9 here); each round is an equi-join on (zone, s, e); kept
    vertices close with one rollup.  At 10^12 rings everything is
    key-local per zone_id."""
    ring_ints = F.expr(
        "transform(slice(ring, 1, size(ring) - 1),"
        " p -> struct(CAST(floor(p.x + 0.5) AS BIGINT) AS x,"
        "             CAST(floor(p.y + 0.5) AS BIGINT) AS y))"
    )
    z = zones.select("zone_id", ring_ints.alias("r"))
    pts = z.select(
        "zone_id", F.posexplode("r").alias("k", "p")
    ).select("zone_id", "k", F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    m = pts.groupBy("zone_id").agg(F.max("k").alias("last"))

    s = pts.select("zone_id", F.col("k").alias("s"),
                   F.col("x").alias("sx"), F.col("y").alias("sy"))
    e = pts.select("zone_id", F.col("k").alias("e"),
                   F.col("x").alias("ex"), F.col("y").alias("ey"))
    p = pts.select("zone_id", F.col("k").alias("pk"),
                   F.col("x").alias("px"), F.col("y").alias("py"))
    cand = (
        s.join(e, "zone_id")
        .where(F.col("e") > F.col("s") + 1)
        .join(p, "zone_id")
        .where((F.col("pk") > F.col("s")) & (F.col("pk") < F.col("e")))
        .withColumn(
            "cross",
            (F.col("px") - F.col("sx")) * (F.col("ey") - F.col("sy"))
            - (F.col("py") - F.col("sy")) * (F.col("ex") - F.col("sx")),
        )
        .withColumn("score", F.col("cross") * F.col("cross"))
        .withColumn(
            "len2",
            (F.col("ex") - F.col("sx")) * (F.col("ex") - F.col("sx"))
            + (F.col("ey") - F.col("sy")) * (F.col("ey") - F.col("sy")),
        )
    )
    wseg = Window.partitionBy("zone_id", "s", "e").orderBy(
        F.col("score").desc(), F.col("pk").asc()
    )
    seg = (
        cand.withColumn("rn", F.row_number().over(wseg))
        .where(F.col("rn") == 1)
        .select(
            "zone_id", "s", "e", F.col("pk").alias("bp"),
            (F.col("score") > F.lit(DP_EPS2) * F.col("len2")).alias("split"),
        )
    )

    frontier = m.select("zone_id", F.lit(0).alias("s"), F.col("last").alias("e"))
    terminals = []
    for _ in range(DP_MAX_DEPTH):
        j = frontier.join(seg, ["zone_id", "s", "e"], "left")
        terminals.append(
            j.where(~F.coalesce(F.col("split"), F.lit(False)))
            .select("zone_id", "s", "e")
        )
        live = j.where(F.coalesce(F.col("split"), F.lit(False)))
        left = live.select("zone_id", "s", F.col("bp").alias("e"))
        right = live.select("zone_id", F.col("bp").alias("s"), "e")
        frontier = left.union(right)
    terminals.append(frontier)  # depth cap
    term = terminals[0]
    for t in terminals[1:]:
        term = term.union(t)

    kept = (
        term.select("zone_id", F.col("s").alias("k"))
        .union(term.select("zone_id", F.col("e").alias("k")))
        .distinct()
    )
    nt = term.groupBy("zone_id").agg(F.count(F.lit(1)).alias("n_term"))
    return (
        kept.groupBy("zone_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum((F.col("k") + 1) * (F.col("k") + 1)).alias("kept_checksum"),
        )
        .join(nt, "zone_id")
        .repartition(1)
        .sortWithinPartitions("zone_id")
    )


def convex_hull_census(zones: DataFrame) -> DataFrame:
    """Convex-hull vertex census over the unit-snapped zone rings,
    integer-exact: vertex p is on the hull iff SOME directed edge
    p->q leaves every other ring vertex STRICTLY to its left
    (cross(p,q,r) > 0 for all r) — the O(n^3) definitional test, which
    both engines replay identically so collinear/degenerate cases are
    pinned by the predicate itself rather than by library geometry.
    Emits per zone the hull vertex count, the 1-based squared-index
    checksum of hull vertices, and the coordinate sum over hull
    vertices.

    Scale shape: rings are tiny (<= 9 vertices), so the cubic test is
    a constant <= 512 rows per zone, all key-local equi-joins on
    zone_id; one rollup closes.  At 10^12 rings nothing crosses keys."""
    ring_ints = F.expr(
        "transform(slice(ring, 1, size(ring) - 1),"
        " p -> struct(CAST(floor(p.x + 0.5) AS BIGINT) AS x,"
        "             CAST(floor(p.y + 0.5) AS BIGINT) AS y))"
    )
    pts = (
        zones.select("zone_id", ring_ints.alias("r"))
        .select("zone_id", F.posexplode("r").alias("k", "p"))
        .select("zone_id", "k", F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    )
    p = pts.select("zone_id", F.col("k").alias("pk"),
                   F.col("x").alias("px"), F.col("y").alias("py"))
    q = pts.select("zone_id", F.col("k").alias("qk"),
                   F.col("x").alias("qx"), F.col("y").alias("qy"))
    r = pts.select("zone_id", F.col("k").alias("rk"),
                   F.col("x").alias("rx"), F.col("y").alias("ry"))
    cross = (
        (F.col("qx") - F.col("px")) * (F.col("ry") - F.col("py"))
        - (F.col("qy") - F.col("py")) * (F.col("rx") - F.col("px"))
    )
    edges = (
        p.join(q, "zone_id").where(F.col("qk") != F.col("pk"))
        .join(r, "zone_id")
        .where((F.col("rk") != F.col("pk")) & (F.col("rk") != F.col("qk")))
        .groupBy("zone_id", "pk", "qk")
        .agg(F.bool_and(cross > 0).alias("ok"))
    )
    hull = (
        edges.groupBy("zone_id", "pk")
        .agg(F.bool_or("ok").alias("is_hull"))
        .where("is_hull")
    )
    return (
        hull.join(
            pts.withColumnRenamed("k", "pk"), ["zone_id", "pk"]
        )
        .groupBy("zone_id")
        .agg(
            F.count(F.lit(1)).alias("n_hull"),
            F.sum((F.col("pk") + 1) * (F.col("pk") + 1)).alias("hull_checksum"),
            F.sum(F.col("x") + F.col("y")).alias("hull_xy_sum"),
        )
        .repartition(1)
        .sortWithinPartitions("zone_id")
    )


def star_ring_edges(zones: DataFrame) -> DataFrame:
    """Directed edge table of the deterministic CONCAVE 'star' polygon
    derived from each zone ring: unit-snapped vertices with every
    odd-indexed vertex pulled halfway (integer floor) toward the
    snapped bbox center.  The deflation keeps every star vertex inside
    the original ring, so the original bbox remains a valid prefilter,
    while the polygon itself is genuinely non-convex — the shape class
    the half-plane test (convex_pip_hof) cannot answer and the even-odd
    ray cast (raycast_pip_star) exists for."""
    verts = (
        zones.select(
            "zone_id",
            F.floor((F.col("xmin") + F.col("xmax")) / 2 + 0.5)
            .cast("long")
            .alias("cx0"),
            F.floor((F.col("ymin") + F.col("ymax")) / 2 + 0.5)
            .cast("long")
            .alias("cy0"),
            F.expr(
                "transform(slice(ring, 1, size(ring) - 1),"
                " p -> struct(CAST(floor(p.x + 0.5) AS BIGINT) AS x,"
                "             CAST(floor(p.y + 0.5) AS BIGINT) AS y))"
            ).alias("r"),
        )
        .select(
            "zone_id", "cx0", "cy0", F.size("r").alias("n"),
            F.posexplode("r").alias("k", "p"),
        )
        .select(
            "zone_id", "k", "n",
            F.when(F.col("k") % 2 == 0, F.col("p.x"))
            .otherwise(F.floor((F.col("p.x") + F.col("cx0")) / 2).cast("long"))
            .alias("x"),
            F.when(F.col("k") % 2 == 0, F.col("p.y"))
            .otherwise(F.floor((F.col("p.y") + F.col("cy0")) / 2).cast("long"))
            .alias("y"),
        )
    )
    a = verts.select("zone_id", "k", "n", F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = verts.select(
        "zone_id", F.col("k").alias("kb"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    return (
        a.join(b, "zone_id")
        .where(F.col("kb") == (F.col("k") + 1) % F.col("n"))
        .select("zone_id", "x1", "y1", "x2", "y2")
    )


def raycast_pip_star(tiles: DataFrame, zones: DataFrame) -> DataFrame:
    """Even-odd (ray casting) point-in-polygon against the concave star
    polygons of star_ring_edges — the general-polygon PIP rule
    (Shimrat 1962 / Franklin's PNPOLY): a point is inside iff a ray to
    +x crosses an odd number of edges.  The crossing test is held
    integer-exact by cross-multiplying the intersection comparison:
    with E = (px−x1)·(y2−y1) − (py−y1)·(x2−x1), the ray crosses edge
    (1→2) iff (y1 > py) ≠ (y2 > py) and E·sign(y2−y1) < 0 — no
    division, so both engines agree bit-for-bit on every degenerate
    vertex-on-ray case by construction.

    Emits the (image_id, zone_id) pairs whose snapped tile centroid
    lies strictly inside the star polygon.

    Scale shape: zones are a broadcast dim; the bbox prefilter bounds
    candidates exactly like convex PIP (op E5), then a ≤9-edge
    key-local explode + parity groupBy closes — centroids never carry
    pixels, nothing shuffles on a hot key."""
    cent = tiles.select(
        "image_id",
        F.floor(F.col("gt_x0") + F.col("w") * F.col("gt_xres") / 2 + 0.5)
        .cast("long")
        .alias("px"),
        F.floor(F.col("gt_y0") - F.col("h") * F.col("gt_yres") / 2 + 0.5)
        .cast("long")
        .alias("py"),
    )
    zbox = zones.select("zone_id", "xmin", "ymin", "xmax", "ymax")
    cand = cent.join(
        F.broadcast(zbox),
        (F.col("px") >= F.col("xmin"))
        & (F.col("px") <= F.col("xmax"))
        & (F.col("py") >= F.col("ymin"))
        & (F.col("py") <= F.col("ymax")),
    ).select("image_id", "zone_id", "px", "py")
    edges = star_ring_edges(zones)
    dy = F.col("y2") - F.col("y1")
    e = (F.col("px") - F.col("x1")) * dy - (F.col("py") - F.col("y1")) * (
        F.col("x2") - F.col("x1")
    )
    crossing = F.when(
        ((F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py")))
        & (e * F.when(dy > 0, 1).otherwise(-1) < 0),
        1,
    ).otherwise(0)
    return (
        cand.join(F.broadcast(edges), "zone_id")
        .groupBy("image_id", "zone_id")
        .agg(F.sum(crossing).alias("ncross"))
        .where(F.col("ncross") % 2 == 1)
        .select("image_id", "zone_id")
        .repartition(1)
        .sortWithinPartitions("image_id", "zone_id")
    )


DELAUNAY_SNAP = 1 << 11   # snap centroids to a <=256-grid (domain ~5e5): dets < 2^46
DELAUNAY_MAX_ZONES = 64   # bound the definitional O(n^4) point set at every sf


def delaunay_edges(zones: DataFrame) -> DataFrame:
    """Delaunay edge census by the definitional empty-circumcircle test
    (the dual of voronoi_assign; Guibas-Stolfi predicate held exact):
    points are zone centroids snapped to the DELAUNAY_SNAP lattice
    (coords 0..255, so the lifted 3x3 in-circle determinant is bounded
    by ~2^46 — int64-exact; full-domain coords would need 104 bits),
    and edge (a,b) is Delaunay iff SOME third point c gives a
    circumcircle with NO point strictly inside — orientation-
    normalized via the exact cross product.  Co-located snapped
    centroids simply produce zero determinants (never strictly
    inside), so the predicate stays total; both engines replay it
    term-for-term, pinning every cocircular degeneracy.

    Emits each Delaunay edge (za < zb) with the squared snapped length.

    Scale shape: O(n³) candidate circles × O(n) emptiness — all
    key-local equi-joins over a dim-sized point set; at production
    scale the same predicate runs per spatial partition (Delaunay is
    local under point-set partition with halo, the standard
    distributed-DT shape)."""
    z = zones.where(F.col("zone_id") < DELAUNAY_MAX_ZONES).select(
        "zone_id",
        (F.floor((F.col("xmin") + F.col("xmax")) / 2 + 0.5).cast("long")
         / DELAUNAY_SNAP).cast("long").alias("x"),
        (F.floor((F.col("ymin") + F.col("ymax")) / 2 + 0.5).cast("long")
         / DELAUNAY_SNAP).cast("long").alias("y"),
    )

    def pt(tag):
        return z.select(
            F.col("zone_id").alias(f"{tag}id"),
            F.col("x").alias(f"{tag}x"),
            F.col("y").alias(f"{tag}y"),
        )

    a, b, c, d = pt("a"), pt("b"), pt("c"), pt("d")
    # candidate circumcircles: unordered pair a<b, any NON-COLLINEAR third
    # c (orient = 0 has no circumcircle; keeping it would admit every
    # edge through the vacuous emptiness of an undefined circle)
    ori = (F.col("bx") - F.col("ax")) * (F.col("cy") - F.col("ay")) - (
        F.col("by") - F.col("ay")
    ) * (F.col("cx") - F.col("ax"))
    abc = (
        a.join(b, F.col("bid") > F.col("aid"))
        .join(c, (F.col("cid") != F.col("aid")) & (F.col("cid") != F.col("bid")))
        .withColumn("ori", ori)
        .where(F.col("ori") != 0)
    )
    tri = abc.join(
        d,
        (F.col("did") != F.col("aid"))
        & (F.col("did") != F.col("bid"))
        & (F.col("did") != F.col("cid")),
        "left",
    )
    ax, ay = F.col("ax") - F.col("dx"), F.col("ay") - F.col("dy")
    bx, by = F.col("bx") - F.col("dx"), F.col("by") - F.col("dy")
    cx, cy = F.col("cx") - F.col("dx"), F.col("cy") - F.col("dy")
    det = (
        ax * (by * (cx * cx + cy * cy) - cy * (bx * bx + by * by))
        - ay * (bx * (cx * cx + cy * cy) - cx * (bx * bx + by * by))
        + (ax * ax + ay * ay) * (bx * cy - by * cx)
    )
    strictly_in = F.when(
        F.col("did").isNull(), F.lit(False)
    ).otherwise(
        F.when(F.col("ori") > 0, det > 0).otherwise(det < 0)
    )
    empty = (
        tri.groupBy("aid", "bid", "cid", "ax", "ay", "bx", "by")
        .agg(F.bool_and(~strictly_in).alias("empty"))
    )
    edges = (
        empty.groupBy("aid", "bid", "ax", "ay", "bx", "by")
        .agg(F.bool_or("empty").alias("is_delaunay"))
        .where("is_delaunay")
    )
    d2 = (F.col("bx") - F.col("ax")) * (F.col("bx") - F.col("ax")) + (
        F.col("by") - F.col("ay")
    ) * (F.col("by") - F.col("ay"))
    return (
        edges.select(
            F.col("aid").alias("za"), F.col("bid").alias("zb"), d2.alias("len2")
        )
        .repartition(1)
        .sortWithinPartitions("za", "zb")
    )


def convexity_defect(zones: DataFrame) -> DataFrame:
    """Convexity-defect census over the unit-snapped zone rings,
    integer-exact: the hull CYCLE falls out of the same definitional
    strict-left edge test as convex_hull_census (edge p->q is on the
    hull iff every other vertex is strictly left), and because those
    directed edges close a cycle, the hull's doubled shoelace area is
    just the sum of their cross terms — no angular sort, no float.
    Against the ring's own doubled area this yields the defect and the
    solidity ratio (ring/hull in ppm), the shape-quality gate GIS
    pipelines run before trusting a digitized polygon.  Strictness
    assumes no 3 collinear hull vertices; both engines replay the same
    predicate, so degenerate rings are pinned identically.

    Scale shape: same constant-bounded cubic-per-zone joins as
    convex_hull_census — all zone_id-local, one rollup, no cross-key
    traffic at any zone count."""
    ring_ints = F.expr(
        "transform(slice(ring, 1, size(ring) - 1),"
        " p -> struct(CAST(floor(p.x + 0.5) AS BIGINT) AS x,"
        "             CAST(floor(p.y + 0.5) AS BIGINT) AS y))"
    )
    base = zones.select("zone_id", ring_ints.alias("r"))
    pts = (
        base.select("zone_id", F.size("r").alias("n"), F.posexplode("r").alias("k", "p"))
        .select("zone_id", "n", "k", F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    )
    nxt = pts.select(
        "zone_id", F.col("k").alias("kn"),
        F.col("x").alias("x2"), F.col("y").alias("y2"),
    )
    ring_edges = pts.join(
        nxt,
        (nxt["zone_id"] == pts["zone_id"])
        & (F.col("kn") == (F.col("k") + 1) % F.col("n")),
    ).drop(nxt["zone_id"])
    ring_area = ring_edges.groupBy("zone_id").agg(
        F.abs(F.sum(F.col("x") * F.col("y2") - F.col("x2") * F.col("y")))
        .alias("ring_area2")
    )
    p = pts.select("zone_id", F.col("k").alias("pk"),
                   F.col("x").alias("px"), F.col("y").alias("py"))
    q = pts.select("zone_id", F.col("k").alias("qk"),
                   F.col("x").alias("qx"), F.col("y").alias("qy"))
    r = pts.select("zone_id", F.col("k").alias("rk"),
                   F.col("x").alias("rx"), F.col("y").alias("ry"))
    cross = (
        (F.col("qx") - F.col("px")) * (F.col("ry") - F.col("py"))
        - (F.col("qy") - F.col("py")) * (F.col("rx") - F.col("px"))
    )
    hull_edges = (
        p.join(q, "zone_id").where(F.col("qk") != F.col("pk"))
        .join(r, "zone_id")
        .where((F.col("rk") != F.col("pk")) & (F.col("rk") != F.col("qk")))
        .groupBy("zone_id", "pk", "qk")
        .agg(
            F.bool_and(cross > 0).alias("ok"),
            F.first(F.col("px") * F.col("qy") - F.col("qx") * F.col("py")).alias(
                "edge_cross"
            ),
        )
        .where("ok")
    )
    hull_area = hull_edges.groupBy("zone_id").agg(
        F.count(F.lit(1)).alias("n_hull_edges"),
        F.abs(F.sum("edge_cross")).alias("hull_area2"),
    )
    # fully-degenerate rings (all-collinear / duplicate vertices) have
    # zero strict-left hull edges: keep them as explicit sentinel rows
    # (0 hull edges, NULL defect/solidity) instead of an implicit
    # inner-join drop, and never divide by a zero hull area.
    degen = F.col("hull_area2").isNull() | (F.col("hull_area2") == 0)
    return (
        ring_area.join(hull_area, "zone_id", "left")
        .select(
            "zone_id",
            F.coalesce("n_hull_edges", F.lit(0)).alias("n_hull_edges"),
            "ring_area2",
            F.coalesce("hull_area2", F.lit(0)).alias("hull_area2"),
            F.when(degen, F.lit(None).cast("long"))
            .otherwise(F.col("hull_area2") - F.col("ring_area2"))
            .alias("defect2"),
            F.when(degen, F.lit(None).cast("long"))
            .otherwise(
                F.expr("CAST(div(1000000 * ring_area2, hull_area2) AS BIGINT)")
            )
            .alias("solidity_ppm"),
        )
        .repartition(1)
        .sortWithinPartitions("zone_id")
    )
