"""Image-quality curation ops (operators/quality.py): NumPy ground
truth, DuckDB contract parity at sf0.001, and map-only plan shape."""

from __future__ import annotations

import numpy as np
import pytest

from georaster_spark import oracle
from georaster_spark.operators import georegister as geo
from georaster_spark.operators import quality


@pytest.fixture(scope="module")
def tiles(spark, sf0001_dir):
    return geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    )


def test_laplacian_matches_numpy(spark, tiles):
    sub = tiles.limit(8)
    got = {r["image_id"]: r for r in quality.laplacian_stats(sub).collect()}
    for r in sub.collect():
        z = oracle.decode_pixels(r["bytes"], r["w"], r["h"], r["fmt"]).astype(
            np.int64
        )
        lap = (
            z[:-2, 1:-1] + z[2:, 1:-1] + z[1:-1, :-2] + z[1:-1, 2:]
            - 4 * z[1:-1, 1:-1]
        )
        n = lap.size
        g = got[r["image_id"]]
        assert g["n_interior"] == n
        assert g["lap_sum"] == lap.sum()
        assert g["lap_abs_sum"] == np.abs(lap).sum()
        assert g["lap_var_num"] == n * (lap * lap).sum() - lap.sum() ** 2
        # variance identity: var_num / n^2 == population variance
        assert g["lap_var_num"] / n**2 == pytest.approx(lap.var())


def test_entropy_matches_numpy(spark, tiles):
    sub = tiles.limit(8)
    got = {r["image_id"]: r for r in quality.entropy_stats(sub).collect()}
    for r in sub.collect():
        z = oracle.decode_pixels(r["bytes"], r["w"], r["h"], r["fmt"])
        hist = np.bincount(z.ravel(), minlength=256)
        p = hist[hist > 0] / z.size
        g = got[r["image_id"]]
        assert g["n_pixels"] == z.size
        assert g["n_distinct"] == (hist > 0).sum()
        assert g["mode_val"] == hist.argmax()
        assert g["mode_cnt"] == hist.max()
        assert g["entropy"] == pytest.approx(-(p * np.log(p)).sum(), abs=2e-6)


def test_quality_contract_vs_duckdb(spark):
    """image_quality / tile_entropy / caption_conflict against their
    DuckDB oracles at sf0.001 — the same compare the driver runs."""
    import duckdb

    from georaster_spark.plans import contract as ct
    from tests.driver_sim import table_hash

    sf_dir = "/root/testdata/sf0.001"
    fx = ct._fx(sf_dir)
    con = duckdb.connect()
    for name, qfn, sql in [
        ("image_quality", ct.q_image_quality, ct._sql_image_quality(fx, 32)),
        ("tile_entropy", ct.q_tile_entropy, ct._sql_tile_entropy(fx, 32)),
        ("caption_conflict", ct.q_caption_conflict, ct._sql_caption_conflict(fx)),
    ]:
        sdf = qfn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        orows = con.execute(sql).fetchall()
        ocols = [d[0] for d in con.description]
        assert len(srows) > 0, name
        assert len(srows) == len(orows), name
        assert sorted(sdf.columns) == sorted(ocols), name
        assert table_hash(sdf.columns, srows) == table_hash(ocols, orows), name


def test_quality_ops_map_only(tiles):
    """Both metric passes are a single map-only Arrow stage: no Exchange
    anywhere in the operator's physical plan."""
    from tests.test_plan_quality import _explain

    for op in (quality.laplacian_stats, quality.entropy_stats):
        assert "Exchange" not in _explain(op(tiles)), op.__name__


def test_glcm_matches_numpy(spark, tiles):
    sub = tiles.limit(6)
    got = {r["image_id"]: r for r in quality.glcm_texture(sub).collect()}
    for r in sub.collect():
        z = oracle.decode_pixels(r["bytes"], r["w"], r["h"], r["fmt"]).astype(
            np.int64
        )
        a, b = z[:, :-1], z[:, 1:]
        code = a * 256 + b
        hist = np.bincount(code.ravel(), minlength=65536)
        g = got[r["image_id"]]
        assert g["n_pairs"] == code.size
        assert g["contrast"] == ((a - b) ** 2).sum()
        assert g["energy"] == (hist.astype(np.int64) ** 2).sum()
        assert g["n_distinct_pairs"] == (hist > 0).sum()
        assert g["pair_checksum"] == code.sum()


def test_glcm_funnel_contract_vs_duckdb(spark):
    """glcm_texture against its DuckDB oracle at sf0.001. The funnel
    query this test once also compared is retired."""
    import duckdb

    from georaster_spark.plans import contract as ct
    from tests.driver_sim import table_hash

    sf_dir = "/root/testdata/sf0.001"
    fx = ct._fx(sf_dir)
    con = duckdb.connect()
    sdf = ct.q_glcm(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    orows = con.execute(ct._sql_glcm(fx, 32)).fetchall()
    ocols = [d[0] for d in con.description]
    assert len(srows) > 0
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(ocols)
    assert table_hash(sdf.columns, srows) == table_hash(ocols, orows)


def test_curation_pipeline_funnel_semantics(spark):
    """The composed curation job must actually filter on every gate and
    its census must be self-consistent."""
    from georaster_spark.plans import contract as ct

    row = ct.q_curation_pipeline(spark, "/root/testdata/sf0.001").first()
    assert row["n_input"] > 0
    assert 0 < row["n_sharp"] < row["n_input"]          # blur gate bites
    assert 0 < row["n_informative"] < row["n_input"]     # entropy gate bites
    assert row["n_survivors"] <= min(row["n_sharp"], row["n_informative"])
    assert row["n_survivors"] > 0


def test_curation_pipeline_contract_vs_duckdb(spark):
    import duckdb

    from georaster_spark.plans import contract as ct
    from tests.driver_sim import table_hash

    sf_dir = "/root/testdata/sf0.001"
    fx = ct._fx(sf_dir)
    con = duckdb.connect()
    sdf = ct.q_curation_pipeline(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    orows = con.execute(ct._sql_curation_pipeline(fx, 32)).fetchall()
    ocols = [d[0] for d in con.description]
    assert sorted(sdf.columns) == sorted(ocols)
    assert table_hash(sdf.columns, srows) == table_hash(ocols, orows)
