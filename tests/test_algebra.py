"""Per-tile raster kernels (operators/algebra) against NumPy, and the
lattice Moran's I row against its DuckDB twin."""

from __future__ import annotations

import numpy as np

from georaster_spark import oracle
from georaster_spark.operators import algebra
from georaster_spark.operators import georegister as geo


def test_moran_contract_vs_duckdb(spark):
    import duckdb

    from georaster_spark.plans import contract as ct
    from tests.driver_sim import table_hash

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    sdf = ct.q_moran(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    orows = con.execute(ct._sql_moran(ct._fx(sf_dir), 32)).fetchall()
    ocols = [d[0] for d in con.description]
    assert len(srows) == len(orows) > 0
    assert sorted(sdf.columns) == sorted(ocols)
    assert table_hash(sdf.columns, srows) == table_hash(ocols, orows)


def test_chamfer_two_pass_equals_closed_form(spark, sf0001_dir):
    """Borgefors exactness: the two-pass scan must equal the brute
    min-over-features of the chamfer norm 3*max+min, per pixel."""
    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet")).where(
            geo.image_idx() < 40
        )
    )
    got = {r["image_id"]: r for r in algebra.chamfer_stats(tiles).collect()}
    n_checked = 0
    for idx in range(40):
        v = oracle.ramp_tile(idx, 32, 32).astype(np.int64)
        if idx % 10 == 3:
            v = oracle.quantize(v)
        fi, fj = np.nonzero(v < algebra.CHAMFER_THRESH)
        image_id = f"img{idx:08d}"
        if len(fi) == 0:
            assert image_id not in got
            continue
        ii, jj = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        di = np.abs(ii[:, :, None] - fi[None, None, :])
        dj = np.abs(jj[:, :, None] - fj[None, None, :])
        d = (3 * np.maximum(di, dj) + np.minimum(di, dj)).min(axis=2)
        g = got[image_id]
        wt = np.arange(1, 32 * 32 + 1, dtype=np.int64).reshape(32, 32)
        assert g["n_feat"] == len(fi)
        assert g["sum_d"] == d.sum()
        assert g["max_d"] == d.max()
        assert g["d_checksum"] == (d * wt).sum()
        n_checked += 1
    assert n_checked > 0


def test_bilateral_matches_numpy(spark, sf0001_dir):
    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet")).where(
            geo.image_idx() < 24
        )
    )
    got = {r["image_id"]: r for r in algebra.bilateral_stats(tiles).collect()}
    rng = np.asarray(algebra._BILAT_RANGE, dtype=np.int64)
    for idx in range(24):
        v = oracle.ramp_tile(idx, 32, 32).astype(np.int64)
        if idx % 10 == 3:
            v = oracle.quantize(v)
        c0 = v[1:-1, 1:-1]
        num = np.zeros_like(c0)
        den = np.zeros_like(c0)
        for k, (di, dj) in enumerate(
            (di, dj) for di in (-1, 0, 1) for dj in (-1, 0, 1)
        ):
            t = v[1 + di : 31 + di, 1 + dj : 31 + dj]
            wgt = algebra._BILAT_SPATIAL[k] * rng[np.abs(t - c0) >> 5]
            num += wgt * t
            den += wgt
        o = num // den
        g = got[f"img{idx:08d}"]
        wt = np.arange(1, 30 * 30 + 1, dtype=np.int64).reshape(30, 30)
        assert g["n_interior"] == 900
        assert g["sum_out"] == o.sum()
        assert g["n_changed"] == (o != c0).sum()
        assert g["out_checksum"] == (o * wt).sum()


_KERNELS = (
    algebra.chamfer_stats,
    algebra.bilateral_stats,
    algebra.aniso_stats,
    algebra.adaptive_threshold_stats,
    algebra.homography_stats,
    algebra.edt_stats,
    algebra.int_transform_stats,
    algebra.cdf53_census,
    algebra.ntt_census,
    algebra.hamming_code_census,
    algebra.png_filter_census,
    algebra.rlsa_smear,
    algebra.btc_encode,
    algebra.schmitt_census,
    algebra.structure_tensor,
)


def test_new_ops_single_arrow_hop(spark, sf0001_dir):
    """Every kernel of the module is one fused pass: pixels cross the
    JVM->Python Arrow boundary exactly once."""
    tiles = geo.georegister(spark.read.parquet(str(sf0001_dir / "images.parquet")))
    for op in _KERNELS:
        plan = op(tiles)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") == 1, (
            op.__name__,
            plan,
        )
