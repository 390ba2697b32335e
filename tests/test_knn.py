"""Op E6 knn_join against a NumPy brute force ranked by (d2, center_id),
plus the inputs that exercise the ring proof's edges: exact ties,
points far outside the centers' extent, empty and null inputs."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from georaster_spark.constants import DOMAIN
from georaster_spark.operators.knn import knn_join


def _brute(pts: pd.DataFrame, zones: pd.DataFrame, k: int) -> dict:
    """(point_id, rank) -> (zone_id, d2), the oracle's expression and order."""
    zid = zones["zone_id"].to_numpy(np.int64)
    cx = zones["cx"].to_numpy(np.float64)
    cy = zones["cy"].to_numpy(np.float64)
    out = {}
    for pid, x, y in zip(pts["point_id"], pts["x"], pts["y"]):
        d2 = (x - cx) * (x - cx) + (y - cy) * (y - cy)
        for rank, j in enumerate(np.lexsort((zid, d2))[:k], start=1):
            out[(int(pid), rank)] = (int(zid[j]), float(d2[j]))
    return out


def _got(df) -> dict:
    rows = df.collect()
    got = {(r["point_id"], r["rank"]): (r["zone_id"], r["d2"]) for r in rows}
    assert len(got) == len(rows)
    return got


@pytest.mark.parametrize("k", [1, 4, 20])
def test_knn_matches_bruteforce(spark, sf0001_dir, k):
    """sf0.001: 1,000 points x 16 zone centroids; k = 20 exceeds the
    center count, so every point gets all 16."""
    pts = pd.read_parquet(sf0001_dir / "points.parquet")
    zones = pd.read_parquet(sf0001_dir / "zones.parquet", columns=["zone_id", "cx", "cy"])
    got = _got(knn_join(spark.read.parquet(str(sf0001_dir / "points.parquet")),
                        spark.read.parquet(str(sf0001_dir / "zones.parquet")), k=k))
    assert got == _brute(pts, zones, k)
    assert len(got) == len(pts) * min(k, len(zones))


def test_knn_exact_ties_resolve_to_smaller_id(spark):
    """Duplicated centers tie on d2; the smaller center_id ranks first."""
    zones = pd.DataFrame({"zone_id": [9, 4, 7, 2, 5], "cx": [100.0, 100.0, 300.0, 300.0, 900.0],
                          "cy": [100.0, 100.0, 300.0, 300.0, 900.0]})
    pts = pd.DataFrame({"point_id": [0, 1, 2], "x": [100.0, 200.0, 300.0], "y": [100.0, 200.0, 300.0]})
    got = _got(knn_join(spark.createDataFrame(pts), spark.createDataFrame(zones), k=3))
    assert got == _brute(pts, zones, 3)
    assert [got[(1, r)][0] for r in (1, 2, 3, 4) if (1, r) in got] == [2, 4, 7]


def test_knn_far_points_double_to_the_domain(spark):
    """Centers packed in a small extent give a fine grid, so points far
    outside it (and outside the domain) find no candidate until their
    ring has doubled out to the whole domain."""
    rng = np.random.default_rng(7)
    zones = pd.DataFrame({"zone_id": np.arange(64), "cx": 5_000.0 + rng.random(64) * 2_000.0,
                          "cy": 5_000.0 + rng.random(64) * 2_000.0})
    far = [(0, 6_000.0, 6_000.0), (1, DOMAIN - 1.0, DOMAIN - 1.0), (2, -3.0 * DOMAIN, 0.0),
           (3, 0.5 * DOMAIN, 2.5 * DOMAIN), (4, 7_000.5, 4_999.5)]
    pts = pd.DataFrame(far, columns=["point_id", "x", "y"])
    got = _got(knn_join(spark.createDataFrame(pts), spark.createDataFrame(zones), k=4))
    assert got == _brute(pts, zones, 4)


def test_knn_empty_points(spark, sf0001_dir):
    pts = spark.read.parquet(str(sf0001_dir / "points.parquet")).limit(0)
    out = knn_join(pts, spark.read.parquet(str(sf0001_dir / "zones.parquet")), k=4)
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<point_id:bigint,rank:int,zone_id:bigint,d2:double>"


def test_knn_null_coordinate_takes_smallest_ids(spark):
    """A point with a null coordinate has no known distance, so the
    center_id tie rule alone ranks it: the k smallest ids with a null d2,
    as the Window form of this join returned."""
    zones = pd.DataFrame({"zone_id": [7, 3, 5, 9], "cx": [10.0, 50.0, 1000.0, 99.0],
                          "cy": [10.0, 60.0, 1000.0, 101.0]})
    pts = spark.createDataFrame([(1, None, 5.0), (2, 100.0, 100.0)], "point_id long, x double, y double")
    got = _got(knn_join(pts, spark.createDataFrame(zones), k=2))
    assert got == {(1, 1): (3, None), (1, 2): (5, None), (2, 1): (9, 2.0), (2, 2): (3, 4100.0)}
