"""Cell-index algebra: NumPy oracle self-consistency + Spark Column parity
+ DuckDB SQL parity (the three implementations must agree bit-for-bit)."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from georaster_spark import oracle
from georaster_spark.constants import DOMAIN, RES_SHIFT
from georaster_spark.functions import cells


def test_encode_decode_roundtrip():
    rng = np.random.default_rng(7)
    x = rng.uniform(0, DOMAIN, 1000)
    y = rng.uniform(0, DOMAIN, 1000)
    for r in (0, 1, 8, 13, 26):
        c = oracle.cell_encode(x, y, r)
        rr, ix, iy = oracle.cell_decode(c)
        assert np.all(rr == r)
        xmin, xmax, ymin, ymax = oracle.cell_bounds(c)
        assert np.all((x >= xmin) & (x < xmax + 1e-6))
        assert np.all((y <= ymax) & (y > ymin - 1e-6))


def test_edge_clamping():
    # y = 0 (bottom edge) and y = DOMAIN (top), x at both edges
    c = oracle.cell_encode([0.0, DOMAIN - 1e-3, 0.0], [DOMAIN, DOMAIN, 0.0], 13)
    r, ix, iy = oracle.cell_decode(c)
    assert iy[0] == 0 and iy[2] == (1 << 13) - 1
    assert ix[0] == 0 and ix[1] == (1 << 13) - 1


def test_parent_child_neighbors():
    c = oracle.cell_encode(123456.0, 654321.0, 13)
    kids = oracle.cell_children(c)
    assert len(kids) == 4
    for k in kids:
        assert oracle.cell_parent(k) == c
    nb = oracle.cell_neighbors(c, 1)
    assert c in nb and 4 <= len(nb) <= 9
    # corner cell has only 4 neighbors (incl self)
    corner = (np.int64(13) << RES_SHIFT)
    assert len(oracle.cell_neighbors(corner, 1)) == 4


def test_cover_contains_anchor_and_is_sorted():
    rng = np.random.default_rng(3)
    x0 = rng.uniform(0, DOMAIN - 10000, 200)
    y1 = rng.uniform(10000, DOMAIN, 200)
    covers = oracle.cell_cover(x0, x0 + 1000.0, y1 - 1000.0, y1, 13)
    anchors = oracle.cell_encode(x0, y1, 13)
    for cov, a in zip(covers, anchors):
        assert a in cov
        assert 1 <= len(cov) <= 4
        assert list(cov) == sorted(cov)  # row-major ascending


@pytest.mark.parametrize("r", [8, 13])
def test_spark_and_duckdb_match_numpy(spark, r):
    rng = np.random.default_rng(11)
    n = 2000
    x = rng.uniform(0, DOMAIN, n)
    y = rng.uniform(0, DOMAIN, n)
    expect = oracle.cell_encode(x, y, r)

    df = spark.createDataFrame([(float(a), float(b)) for a, b in zip(x, y)], "x double, y double")
    got_spark = [
        row[0]
        for row in df.select(cells.cell_encode(F.col("x"), F.col("y"), r).alias("c"))
        .toPandas()
        .itertuples(index=False)
    ]
    assert np.array_equal(np.asarray(got_spark), expect)

    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame({"x": x, "y": y}))
    s = float(DOMAIN >> r)
    nmax = (1 << r) - 1
    got_duck = con.execute(
        f"""
        SELECT ({r}::BIGINT << {RES_SHIFT})
             + least(greatest(floor(({DOMAIN} - y) / {s})::BIGINT, 0), {nmax}) * {1 << r}
             + least(greatest(floor(x / {s})::BIGINT, 0), {nmax}) AS c
        FROM pts
        """
    ).fetchnumpy()["c"]
    assert np.array_equal(got_duck.astype(np.int64), expect)


def test_spark_cover_matches_numpy(spark):
    rng = np.random.default_rng(5)
    n = 500
    x0 = rng.uniform(0, DOMAIN - 20000, n)
    y1 = rng.uniform(20000, DOMAIN, n)
    w = rng.uniform(100, 15000, n)
    expect = oracle.cell_cover(x0, x0 + w, y1 - w, y1, 13)
    df = spark.createDataFrame(
        [(float(a), float(a + c), float(b - c), float(b)) for a, b, c in zip(x0, y1, w)],
        "xmin double, xmax double, ymin double, ymax double",
    )
    got = (
        df.select(
            cells.cell_cover(F.col("xmin"), F.col("xmax"), F.col("ymin"), F.col("ymax"), 13).alias("cov")
        )
        .toPandas()["cov"]
        .tolist()
    )
    for g, e in zip(got, expect):
        assert list(g) == list(e)


def test_cover2_fast_path_matches_general(spark):
    """cell_cover2 (codegen corner enumeration) must be bit-identical to
    cell_cover wherever its <=2-cells-per-axis precondition holds — the
    georegister ingest dispatches between the two on TILE_SPAN vs cell
    edge, so any divergence would silently corrupt E4 tile assignments."""
    rng = np.random.default_rng(7)
    n = 500
    edge = float(DOMAIN >> 13)
    x0 = rng.uniform(0, DOMAIN - 2 * edge, n)
    y1 = rng.uniform(2 * edge, DOMAIN, n)
    # spans up to exactly one cell edge, including boundary-straddling
    w = rng.uniform(1.0, edge, n)
    df = spark.createDataFrame(
        [(float(a), float(a + c), float(b - c), float(b)) for a, b, c in zip(x0, y1, w)],
        "xmin double, xmax double, ymin double, ymax double",
    )
    args = (F.col("xmin"), F.col("xmax"), F.col("ymin"), F.col("ymax"))
    rows = df.select(
        cells.cell_cover(*args, 13).alias("general"),
        cells.cell_cover2(*args, 13).alias("fast"),
    ).collect()
    for row in rows:
        assert list(row["fast"]) == list(row["general"])


def test_morton_key_spark_matches_numpy(spark):
    """The Z-order key of the curve-locality census, fed Spark's lattice
    coords of r = 13 cells, equals a NumPy bit interleave of the oracle's
    decoded (ix, iy)."""
    from georaster_spark.operators.spatial_index import morton_key

    r = 13
    rng = np.random.default_rng(13)
    x = rng.uniform(0, DOMAIN, 500)
    y = rng.uniform(0, DOMAIN, 500)
    _, ix, iy = oracle.cell_decode(oracle.cell_encode(x, y, r))
    expect = np.zeros_like(ix)
    for b in range(r):
        expect |= ((ix >> b) & 1) << (2 * b)
        expect |= ((iy >> b) & 1) << (2 * b + 1)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    got = (
        df.select(
            morton_key(cells.cell_ix(F.col("x"), r), cells.cell_iy(F.col("y"), r), r)
            .alias("m")
        )
        .toPandas()["m"]
        .to_numpy()
    )
    assert np.array_equal(got.astype(np.int64), expect)
