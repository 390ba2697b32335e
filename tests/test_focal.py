"""3x3 focal kernels of operators/algebra on tiles without an interior."""

from __future__ import annotations

import pandas as pd

from georaster_spark import oracle
from georaster_spark.operators import algebra


def test_focal_stats_degenerate_tile(spark):
    """w < 3 has no interior: the interior-only 3x3 kernels emit one row
    of zero stats, no crash."""
    raw = oracle.ramp_tile(5, 2, 2).tobytes()
    pdf = pd.DataFrame(
        {"image_id": ["img0000000005"], "bytes": [raw], "w": [2], "h": [2],
         "fmt": ["raw"]}
    )
    df = spark.createDataFrame(pdf)
    (b,) = algebra.bilateral_stats(df).collect()
    assert (b["n_interior"], b["sum_out"], b["n_changed"], b["out_checksum"]) == (
        0, 0, 0, 0,
    )
    (s,) = algebra.structure_tensor(df).collect()
    assert (s["n_interior"], s["jxx"], s["jyy"], s["jxy"], s["anisotropy2"]) == (
        0, 0, 0, 0, 0,
    )
