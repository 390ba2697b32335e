"""IDW interpolation: contract parity at sf0.001 and a brute-force
NumPy check."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from georaster_spark.operators import georegister as geo
from georaster_spark.operators import spatial_index as si


def test_idw_contract_vs_duckdb(spark):
    import duckdb

    from georaster_spark.plans import contract as ct
    from tests.driver_sim import table_hash

    sf_dir = "/root/testdata/sf0.001"
    sdf = ct.q_idw(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    orows = con.execute(ct._sql_idw(ct._fx(sf_dir))).fetchall()
    ocols = [d[0] for d in con.description]
    assert len(srows) > 0
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(ocols)
    assert table_hash(sdf.columns, srows) == table_hash(ocols, orows)


def test_idw_pred_matches_numpy_brute(spark, sf0001_dir):
    """Engine IDW vs a brute-force NumPy evaluation on a few points."""
    tiles = geo.georegister(spark.read.parquet(str(sf0001_dir / "images.parquet")))
    pts = spark.read.parquet(str(sf0001_dir / "points.parquet")).where(
        F.col("point_id") % 101 == 0
    )
    got = {
        r["point_id"]: r
        for r in si.idw_interpolate(tiles, pts, 8000.0, r=12).collect()
    }
    st = tiles.select(
        "image_id",
        (F.col("phash") % 256).cast("double").alias("v"),
        (F.col("gt_x0") + 500.0).alias("sx"),
        (F.col("gt_y0") - 500.0).alias("sy"),
    ).collect()
    sx = np.array([r["sx"] for r in st])
    sy = np.array([r["sy"] for r in st])
    sv = np.array([r["v"] for r in st])
    checked = 0
    for p in pts.collect():
        d2 = (sx - p["x"]) ** 2 + (sy - p["y"]) ** 2
        m = d2 <= 8000.0**2
        if p["point_id"] not in got:
            assert not m.any()
            continue
        g = got[p["point_id"]]
        assert g["n_neighbors"] == int(m.sum())
        pred = (sv[m] / d2[m]).sum() / (1.0 / d2[m]).sum()
        assert abs(g["pred"] - pred) < 1e-5
        checked += 1
    assert checked > 0
