"""DuckDB oracle-SQL builders (SURVEY §5.2 layer 2).

Each function returns an ANSI-SQL string that DuckDB 1.0 can run to
reproduce the corresponding Spark operator's output *independently* —
georegistration is re-derived from idx arithmetic (constants.py), pixel
values from the ramp formula (FIXTURES.md §1), cells from the GQK packing
(SURVEY §1.2).  Column aliases match the Spark side exactly (the driver's
compare hashes values after sorting columns by name).

These templates take explicit fixture-file paths so the same SQL serves
tests (sf0.001) and the driver contract (sf0.01).
"""

from __future__ import annotations

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
    RES_SHIFT,
    TILE_SPAN,
)

AX = [a[0] for a in HOT_ANCHORS]
AY = [a[1] for a in HOT_ANCHORS]


def georegister_cte(images_path: str) -> str:
    """CTE `tiles`: the DuckDB twin of operators/georegister.py (op E1)."""
    return f"""
img AS (
  SELECT *, CAST(substr(image_id, 4, 10) AS BIGINT) AS idx
  FROM read_parquet('{images_path}')
),
tiles AS (
  SELECT *,
    CASE WHEN (idx % {HOT_EVERY}) = {HOT_PHASE} THEN
      CASE (idx // {HOT_EVERY}) % 3
        WHEN 0 THEN {AX[0]}.0 WHEN 1 THEN {AX[1]}.0 ELSE {AX[2]}.0 END + (idx % 97)
    ELSE {TILE_SPAN} * (idx % {GRID_W})
         + ((idx * {JITTER_AX}) % {JITTER_MOD} - {JITTER_HALF}) + {BASE_OFF} END AS gt_x0,
    CASE WHEN (idx % {HOT_EVERY}) = {HOT_PHASE} THEN
      CASE (idx // {HOT_EVERY}) % 3
        WHEN 0 THEN {AY[0]}.0 WHEN 1 THEN {AY[1]}.0 ELSE {AY[2]}.0 END + (idx % 89)
    ELSE {TILE_SPAN} * ((idx // {GRID_W}) + 1)
         + ((idx * {JITTER_AY}) % {JITTER_MOD} - {JITTER_HALF}) + {BASE_OFF} END AS gt_y0,
    {TILE_SPAN} / w AS gt_xres,
    {TILE_SPAN} / h AS gt_yres
  FROM img
)"""


def cell_expr(x: str, y: str, r: int) -> str:
    """Inline GQK cell-encode (op E2) — twin of functions/cells.cell_encode."""
    s = float(DOMAIN >> r)
    n = (1 << r) - 1
    return (
        f"(({r}::BIGINT << {RES_SHIFT})"
        f" + least(greatest(CAST(floor(({DOMAIN} - ({y})) / {s}) AS BIGINT), 0), {n}) * {1 << r}"
        f" + least(greatest(CAST(floor(({x}) / {s}) AS BIGINT), 0), {n}))"
    )


def ramp_value_expr(i: str, j: str, idx: str = "idx", fmt: str = "fmt") -> str:
    """Pixel value of tile `idx` at row i, col j incl. qnt quantization —
    twin of oracle.ramp_tile + oracle.quantize.  `idx`/`fmt` name the
    columns in scope (overridable so pair joins can evaluate both sides)."""
    v = (
        f"((({idx})*7 % 13 + 1) * ({i}) + (({idx})*11 % 17 + 1) * ({j})"
        f" + ({idx}) % 251) % 256"
    )
    return f"(CASE WHEN {fmt} = 'qnt' THEN (({v}) // 4) * 4 + 2 ELSE {v} END)"


def tile_mean_cte(w: int, h: int) -> str:
    """CTE `tmean`: per-image mean pixel value from the ramp formula.
    sum is exact integer; division by w*h (power of two) is exact float."""
    return f"""
tmean AS (
  SELECT idx,
         SUM({ramp_value_expr('gi.i', 'gj.j')})::DOUBLE / {w * h} AS tile_mean
  FROM tiles,
       generate_series(0, {h - 1}) AS gi(i),
       generate_series(0, {w - 1}) AS gj(j)
  GROUP BY idx
)"""


PIP_WHERE = """
  len(list_filter(generate_series(1, len(z.ring) - 1),
      k -> (z.ring[k+1].x - z.ring[k].x) * ({py} - z.ring[k].y)
         - (z.ring[k+1].y - z.ring[k].y) * ({px} - z.ring[k].x) < 0)) = 0
"""


def pip_where(px: str, py: str) -> str:
    """Convex half-plane containment (boundary inside) — twin of
    operators/pip.convex_pip_hof.  Bbox prefilter must accompany it in the
    join ON (polygon ⊆ bbox ⊆ covered cells, so sets match the engine)."""
    return PIP_WHERE.format(px=px, py=py)


def candidates_cte(points_path: str, pts_sql: str | None = None) -> str:
    """CTEs `pts`/`cand`/`best`: points joined to their lowest-image_id
    containing tile (closed-open edges, matching operators/sampling.py).
    `pts_sql` (a SELECT yielding point_id/x/y) replaces the parquet read
    for generated point sets (e.g. the transect profile)."""
    pts_body = pts_sql if pts_sql is not None else f"SELECT * FROM read_parquet('{points_path}')"
    return f"""
pts AS ({pts_body}),
cand AS (
  SELECT p.point_id, p.x, p.y, t.image_id, t.idx, t.fmt, t.w, t.h,
         t.gt_x0, t.gt_y0, t.gt_xres, t.gt_yres
  FROM pts p JOIN tiles t
    ON p.x >= t.gt_x0 AND p.x < t.gt_x0 + t.w * t.gt_xres
   AND p.y > t.gt_y0 - t.h * t.gt_yres AND p.y <= t.gt_y0
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY point_id ORDER BY image_id) AS rn
    FROM cand) WHERE rn = 1
)"""


def value_at_coords_sql(
    images_path: str,
    points_path: str,
    nodata: float | None = None,
    pts_sql: str | None = None,
) -> str:
    """Oracle for operators/sampling.value_at_coords: pixel value from the
    ramp formula (engine decodes real bytes — match is by construction).
    With `nodata`, a gathered pixel equal to it yields NULL (masked-read
    parity — twin of the engine's nodata column semantics)."""
    v = f"CAST({ramp_value_expr('iy', 'jx')} AS DOUBLE)"
    if nodata is not None:
        v = f"CASE WHEN {v} = {nodata!r} THEN NULL ELSE {v} END"
    return f"""
WITH {georegister_cte(images_path)},
{candidates_cte(points_path, pts_sql=pts_sql)},
px AS (
  SELECT point_id, image_id, idx, fmt,
    least(greatest(CAST(floor((x - gt_x0) / gt_xres) AS BIGINT), 0), w - 1) AS jx,
    least(greatest(CAST(floor((gt_y0 - y) / gt_yres) AS BIGINT), 0), h - 1) AS iy
  FROM best
)
SELECT point_id, image_id, {v} AS val
FROM px ORDER BY point_id
"""


def interp_sql(images_path: str, points_path: str) -> str:
    """Oracle for operators/sampling.interp(order=1): pixel-center bilinear,
    edge-clamped — expression order mirrors oracle.interp_bilinear exactly."""
    v00 = ramp_value_expr("i0c", "j0c")
    v10 = ramp_value_expr("i0c", "j1c")
    v01 = ramp_value_expr("i1c", "j0c")
    v11 = ramp_value_expr("i1c", "j1c")
    return f"""
WITH {georegister_cte(images_path)},
{candidates_cte(points_path)},
frac AS (
  SELECT point_id, image_id, idx, fmt, w, h,
         (x - gt_x0) / gt_xres - 0.5 AS fx,
         (gt_y0 - y) / gt_yres - 0.5 AS fy
  FROM best
),
corners AS (
  SELECT point_id, image_id, idx, fmt,
         fx - floor(fx) AS t, fy - floor(fy) AS u,
         least(greatest(CAST(floor(fx) AS BIGINT), 0), w - 1) AS j0c,
         least(greatest(CAST(floor(fx) AS BIGINT) + 1, 0), w - 1) AS j1c,
         least(greatest(CAST(floor(fy) AS BIGINT), 0), h - 1) AS i0c,
         least(greatest(CAST(floor(fy) AS BIGINT) + 1, 0), h - 1) AS i1c
  FROM frac
)
SELECT point_id, image_id,
  round(((1 - t) * (1 - u)) * ({v00}) + (t * (1 - u)) * ({v10})
      + ((1 - t) * u) * ({v01}) + (t * u) * ({v11}), 6) AS val
FROM corners ORDER BY point_id
"""


def interp_bicubic_sql(images_path: str, points_path: str) -> str:
    """Oracle for operators/sampling.interp(order=3): pixel-center bicubic
    cubic-convolution (Keys a=-0.5), edge-clamped — weight expressions and
    the left-associative 4x4 summation mirror oracle.interp_bicubic
    verbatim so float64 results are bit-identical."""
    # Catmull-Rom weights, same literal arithmetic as oracle._catmull_rom_weights
    def wts(t: str) -> list[str]:
        return [
            f"(((-0.5 * {t} + 1.0) * {t} - 0.5) * {t})",
            f"((1.5 * {t} - 2.5) * {t} * {t} + 1.0)",
            f"(((-1.5 * {t} + 2.0) * {t} + 0.5) * {t})",
            f"((0.5 * {t} - 0.5) * {t} * {t})",
        ]

    offs = (-1, 0, 1, 2)
    jcols = ",\n         ".join(
        f"least(greatest(CAST(floor(fx) AS BIGINT) + {o}, 0), w - 1) AS j{k}"
        for k, o in enumerate(offs)
    )
    icols = ",\n         ".join(
        f"least(greatest(CAST(floor(fy) AS BIGINT) + {o}, 0), h - 1) AS i{k}"
        for k, o in enumerate(offs)
    )
    wx = wts("t")
    wy = wts("u")
    rows = [
        "(" + " + ".join(
            f"{wx[kj]} * ({ramp_value_expr(f'i{ki}', f'j{kj}')})" for kj in range(4)
        ) + ")"
        for ki in range(4)
    ]
    val = " + ".join(f"{wy[ki]} * {rows[ki]}" for ki in range(4))
    return f"""
WITH {georegister_cte(images_path)},
{candidates_cte(points_path)},
frac AS (
  SELECT point_id, image_id, idx, fmt, w, h,
         (x - gt_x0) / gt_xres - 0.5 AS fx,
         (gt_y0 - y) / gt_yres - 0.5 AS fy
  FROM best
),
corners AS (
  SELECT point_id, image_id, idx, fmt,
         fx - floor(fx) AS t, fy - floor(fy) AS u,
         {jcols},
         {icols}
  FROM frac
)
SELECT point_id, image_id, round({val}, 6) AS val
FROM corners ORDER BY point_id
"""


def interp_quadratic_sql(images_path: str, points_path: str) -> str:
    """Oracle for operators/sampling.interp(order=2): pixel-center
    quadratic convolution (Dodgson r=1 interpolating kernel), centered
    on the nearest pixel, edge-clamped — weight expressions and the
    left-associative 3x3 summation mirror oracle.interp_quadratic
    verbatim so float64 results are bit-identical."""
    # Dodgson weights, same literal arithmetic as oracle._quadratic_weights
    def wts(s: str) -> list[str]:
        return [
            f"((({s} + 1.0) - 2.5) * ({s} + 1.0) + 1.5)",
            f"(1.0 - 2.0 * ({s} * {s}))",
            f"(((1.0 - {s}) - 2.5) * (1.0 - {s}) + 1.5)",
        ]

    offs = (-1, 0, 1)
    jcols = ",\n         ".join(
        f"least(greatest(CAST(floor(fx + 0.5) AS BIGINT) + {o}, 0), w - 1) AS j{k}"
        for k, o in enumerate(offs)
    )
    icols = ",\n         ".join(
        f"least(greatest(CAST(floor(fy + 0.5) AS BIGINT) + {o}, 0), h - 1) AS i{k}"
        for k, o in enumerate(offs)
    )
    wx = wts("t")
    wy = wts("u")
    rows = [
        "(" + " + ".join(
            f"{wx[kj]} * ({ramp_value_expr(f'i{ki}', f'j{kj}')})" for kj in range(3)
        ) + ")"
        for ki in range(3)
    ]
    val = " + ".join(f"{wy[ki]} * {rows[ki]}" for ki in range(3))
    return f"""
WITH {georegister_cte(images_path)},
{candidates_cte(points_path)},
frac AS (
  SELECT point_id, image_id, idx, fmt, w, h,
         (x - gt_x0) / gt_xres - 0.5 AS fx,
         (gt_y0 - y) / gt_yres - 0.5 AS fy
  FROM best
),
corners AS (
  SELECT point_id, image_id, idx, fmt,
         fx - floor(fx + 0.5) AS t, fy - floor(fy + 0.5) AS u,
         {jcols},
         {icols}
  FROM frac
)
SELECT point_id, image_id, round({val}, 6) AS val
FROM corners ORDER BY point_id
"""


def psnr_gate_sql(images_path: str, w: int, h: int) -> str:
    """Oracle for the E10 PSNR verification aggregate: raw tiles
    re-quantized with the qnt codec; MSE is exact integer arithmetic."""
    v = "(((idx*7) % 13 + 1) * gi.i + ((idx*11) % 17 + 1) * gj.j + idx % 251) % 256"
    vq = f"(({v}) // 4) * 4 + 2"
    return f"""
WITH {georegister_cte(images_path)},
mse AS (
  SELECT image_id,
         SUM(pow(CAST(({v}) - ({vq}) AS DOUBLE), 2)) / {w * h} AS m
  FROM tiles, generate_series(0, {h - 1}) AS gi(i), generate_series(0, {w - 1}) AS gj(j)
  WHERE fmt = 'raw'
  GROUP BY image_id
)
SELECT image_id,
       CASE WHEN m = 0 THEN 99.0  -- identical arrays: engine maps inf -> 99.0
            ELSE round(10.0 * log10(255.0 * 255.0 / m), 6) END AS psnr
FROM mse ORDER BY image_id
"""


def flagship_sql(images_path: str, zones_path: str, w: int, h: int) -> str:
    """Oracle for plans/pipeline.zone_image_stats (M1 flagship)."""
    return f"""
WITH {georegister_cte(images_path)},
{tile_mean_cte(w, h)},
cent AS (
  SELECT t.image_id, m.tile_mean,
         t.gt_x0 + t.w * t.gt_xres / 2 AS cx,
         t.gt_y0 - t.h * t.gt_yres / 2 AS cy
  FROM tiles t JOIN tmean m USING (idx)
),
pairs AS (
  SELECT c.image_id, c.tile_mean, z.zone_id
  FROM cent c
  JOIN read_parquet('{zones_path}') z
    ON c.cx >= z.xmin AND c.cx <= z.xmax AND c.cy >= z.ymin AND c.cy <= z.ymax
  WHERE {pip_where('c.cx', 'c.cy')}
)
SELECT zone_id, count(*) AS n_images, round(avg(tile_mean), 6) AS avg_tile_mean
FROM pairs GROUP BY zone_id ORDER BY zone_id
"""
