"""Average-blend warp (warp.reproject method='average') and
normalized-difference band math (raster_io.normalized_diff_stats)."""

from __future__ import annotations

import numpy as np
import pytest

from georaster_spark import oracle
from georaster_spark.operators import georegister as geo
from georaster_spark.operators import raster_io


def test_half_up_integer_mean_identity():
    """(2Σv + n) // (2n) == floor(mean + 0.5) on exhaustive small cases."""
    rng = np.random.default_rng(7)
    for _ in range(200):
        n = int(rng.integers(1, 6))
        vals = rng.integers(0, 256, size=n)
        s = int(vals.sum())
        assert (2 * s + n) // (2 * n) == int(np.floor(s / n + 0.5))


def test_blend_contract_vs_duckdb_matching_sf(spark):
    import duckdb

    from georaster_spark.plans import contract as ct
    from tests.driver_sim import table_hash

    sf_dir = "/root/testdata/sf0.001"
    fx = ct._fx(sf_dir)
    con = duckdb.connect()
    for name, qfn, sql in [
        ("mosaic_blend", ct.q_mosaic_blend, ct._sql_mosaic_blend(fx)),
        ("band_ndvi", ct.q_band_ndvi, ct._sql_band_ndvi(fx, 32)),
    ]:
        sdf = qfn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        orows = con.execute(sql).fetchall()
        ocols = [d[0] for d in con.description]
        assert len(srows) > 0, name
        assert len(srows) == len(orows), name
        assert sorted(sdf.columns) == sorted(ocols), name
        assert table_hash(sdf.columns, srows) == table_hash(ocols, orows), name


def test_blend_overlap_differs_from_first_wins(spark):
    """Where sources overlap, the average blend must differ from the
    first-wins mosaic somewhere (otherwise the mode isn't exercised)."""
    from georaster_spark.plans import contract as ct

    sf_dir = "/root/testdata/sf0.001"
    nn = {r["tile_id"]: r["checksum"] for r in ct.q_reproject(spark, sf_dir).collect()}
    av = {r["tile_id"]: r["checksum"] for r in ct.q_mosaic_blend(spark, sf_dir).collect()}
    assert set(nn) == set(av)
    assert any(nn[t] != av[t] for t in nn)


def test_normalized_diff_matches_numpy(spark, sf0001_dir):
    from georaster_spark.plans.contract import _band_stack

    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).limit(6)
    stacked = _band_stack(tiles, 3)
    got = {
        r["image_id"]: r
        for r in raster_io.normalized_diff_stats(stacked, 3, 1).collect()
    }
    for r in tiles.collect():
        base = oracle.decode_pixels(r["bytes"], r["w"], r["h"], r["fmt"]).astype(
            np.int64
        )
        a = (base + 120) % 256
        b = base
        den = a + b
        nd = np.zeros_like(a)
        np.floor_divide((a - b) * 1000, den, out=nd, where=den > 0)
        g = got[r["image_id"]]
        assert g["nd_sum"] == nd.sum()
        assert g["nd_min"] == nd.min()
        assert g["nd_max"] == nd.max()
        assert g["n_pos"] == (nd > 0).sum()
        wt = np.arange(1, nd.size + 1).reshape(nd.shape)
        assert g["nd_checksum"] == (nd * wt).sum()


def test_reproject_rejects_unknown_method(spark, sf0001_dir):
    from georaster_spark.operators import warp

    tiles = geo.georegister(spark.read.parquet(str(sf0001_dir / "images.parquet")))
    grid = warp.TargetGrid(
        crs="EPSG:4326", x0=0.0, y0=1.0, xres=0.001, yres=0.001,
        nx=64, ny=64, tile_w=64, tile_h=64,
    )
    with pytest.raises(ValueError):
        warp.reproject(tiles, grid, method="cubic")


def test_pansharpen_matches_numpy(spark, sf0001_dir):
    """Brovey fusion vs a driver-side NumPy recompute on real fixture
    tiles: per-band sums/extremes/checksums must be integer-exact."""
    from georaster_spark.plans.contract import _BAND_OFF, _band_stack

    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).limit(6)
    stacked = _band_stack(tiles, 3)
    got = {
        (r["image_id"], r["band"]): r
        for r in raster_io.pansharpen_stats(stacked).collect()
    }
    for r in tiles.collect():
        base = oracle.decode_pixels(r["bytes"], r["w"], r["h"], r["fmt"]).astype(
            np.int64
        )
        planes = np.stack([(base + _BAND_OFF * p) % 256 for p in range(3)])
        den = planes.sum(axis=0)
        pan = den // 3
        wt = np.arange(1, base.size + 1).reshape(base.shape)
        for b in range(3):
            ps = np.zeros_like(base)
            np.floor_divide(planes[b] * pan * 3, den, out=ps, where=den > 0)
            g = got[(r["image_id"], b + 1)]
            assert g["ps_sum"] == ps.sum()
            assert g["ps_min"] == ps.min()
            assert g["ps_max"] == ps.max()
            assert g["ps_checksum"] == (ps * wt).sum()
