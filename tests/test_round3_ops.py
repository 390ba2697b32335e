"""Unit tests for the round-3 continuation operators: NumPy/pure-Python
oracles for the new per-tile kernels (CLAHE clip, RLSA smear, BTC).

The oracle gate (tests/driver_sim.py) already pins every query against
DuckDB end-to-end; these tests pin the OPERATOR KERNELS against
independent references so a refactor that breaks a kernel fails here
even before the gate runs.
"""

from __future__ import annotations

import numpy as np


def test_clip_histogram_conserves_mass_and_caps(spark):
    from georaster_spark.operators.raster_stats import clip_histogram

    hist = spark.createDataFrame(
        [("raw", b, c) for b, c in [(0, 500), (1, 10), (7, 300), (255, 10)]],
        "fmt string, bin int, cnt long",
    )
    out = {
        r["bin"]: r["cnt"] for r in clip_histogram(hist, denom=4).collect()
    }
    total = 820  # clip level = total // 4 = 205
    # mass conserved exactly
    assert sum(out.values()) == total
    # excess = (500-205) + (300-205) = 390 over 4 bins: base 97, rem 2
    # capped: [205, 10, 205, 10] + 97 each + [1, 1, 0, 0] by bin order
    assert out == {0: 205 + 97 + 1, 1: 10 + 97 + 1, 7: 205 + 97, 255: 10 + 97}


def _mk_tiles(spark, arr: np.ndarray):
    h, w = arr.shape
    return spark.createDataFrame(
        [("img00000000", bytearray(arr.astype(np.uint8).tobytes()), w, h, "raw")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )


def test_rlsa_smear_fills_small_gaps_only(spark):
    from georaster_spark.operators.algebra import rlsa_smear

    arr = np.zeros((2, 16), dtype=np.uint8)
    # row 0: fg at 0 and 5 -> gap of 4 -> filled; fg at 12, gap 6 -> not
    arr[0, 0] = 200
    arr[0, 5] = 200
    arr[0, 12] = 200
    # row 1: no fg at all
    row = rlsa_smear(_mk_tiles(spark, arr)).collect()[0]
    assert row["n_fg_before"] == 3
    # gap 1..4 (4 pixels) filled; gap 6..11 (6 px) not
    assert row["n_flipped"] == 4
    assert row["n_fg_after"] == 7


def test_btc_encode_reconstruction_matches_numpy(spark):
    from georaster_spark.operators.algebra import btc_encode

    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, size=(8, 8)).astype(np.uint8)
    row = btc_encode(_mk_tiles(spark, arr)).collect()[0]
    # independent reference
    z = arr.astype(np.int64)
    bits = lo_s = hi_s = ck = 0
    for bi in range(2):
        for bj in range(2):
            blk = z[bi * 4 : bi * 4 + 4, bj * 4 : bj * 4 + 4]
            hi = 16 * blk >= blk.sum()
            n_hi = int(hi.sum())
            hi_lvl = int(blk[hi].sum()) // n_hi if n_hi else 0
            n_lo = 16 - n_hi
            lo_lvl = int(blk[~hi].sum()) // n_lo if n_lo else 0
            bits += n_hi
            lo_s += lo_lvl
            hi_s += hi_lvl
            rec = np.where(hi, hi_lvl, lo_lvl)
            for i in range(4):
                for j in range(4):
                    gi, gj = bi * 4 + i, bj * 4 + j
                    ck += int(rec[i, j]) * (gi * 8 + gj + 1)
    assert row["n_blocks"] == 4
    assert row["bits_ones"] == bits
    assert row["sum_lo"] == lo_s
    assert row["sum_hi"] == hi_s
    assert row["btc_checksum"] == ck
