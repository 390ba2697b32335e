"""M4 scale machinery: op E8 salting (results identical to the plain
join), op E9 checkpoint/resume (kill -> rerun -> identical output), and
icelite snapshot pinning (SURVEY §7.1 M4)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from georaster_spark.constants import DEFAULT_RES
from georaster_spark.operators import georegister as geo
from georaster_spark.operators import skew
from georaster_spark.operators.pip import zone_cells
from georaster_spark.plans import checkpoint as ckpt
from georaster_spark.sources import icelite


def _tiles(spark, sf0001_dir):
    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet")).select("image_id", "w", "h")
    return geo.georegister(imgs)


def test_hot_census_finds_planted_anchors(spark, sf0001_dir):
    tiles = _tiles(spark, sf0001_dir)
    assign = geo.tile_assignments(tiles)
    hot = skew.hot_key_census(assign, "cell_id", sample_fraction=0.5)
    # fixtures teleport ~5% of images into 3 anchor neighborhoods
    # (constants.HOT_ANCHORS); each anchor's cells hold ~1.7% of rows vs
    # ~0.002% for a typical grid cell, so the census must flag them.
    assert len(hot) >= 3
    n = assign.count()
    hot_rows = assign.where(F.col("cell_id").isin(hot)).count()
    assert hot_rows / n > 0.3  # the flagged set is genuinely dense


def test_salted_join_matches_plain(spark, sf0001_dir):
    tiles = _tiles(spark, sf0001_dir)
    assign = geo.tile_assignments(tiles)
    zones = spark.read.parquet(str(sf0001_dir / "zones.parquet"))
    zc = zone_cells(zones, DEFAULT_RES).select("cell_id", "zone_id")

    hot = skew.hot_key_census(assign, "cell_id", sample_fraction=0.5)
    plain = assign.join(zc, "cell_id").select("image_id", "zone_id")
    salted = skew.salted_equi_join(
        assign, zc, key="cell_id", hot_keys=hot, row_key="image_id"
    ).select("image_id", "zone_id")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_checkpoint_resume_exact(spark, sf0001_dir, tmp_path):
    tiles = _tiles(spark, sf0001_dir).select(
        "image_id", "cell_id", F.col("gt_x0"), F.col("gt_y0")
    )
    from georaster_spark.functions import cells as cf

    work = tiles.withColumn(
        "unit", cf.cell_parent(cf.cell_parent(F.col("cell_id"), DEFAULT_RES), DEFAULT_RES - 1)
    )

    out_a = tmp_path / "full"
    rep = ckpt.checkpointed_write(work, out_a, "unit", input_snapshot="v0")
    assert not rep.skipped_units and rep.rows_written == work.count()
    full_rows = sorted(map(tuple, ckpt.read_checkpointed(spark, out_a).collect()))

    # simulate a kill: copy of the run where 2 units lost their manifest
    # (and one of them has torn partial data)
    out_b = tmp_path / "killed"
    ckpt.checkpointed_write(work, out_b, "unit", input_snapshot="v0")
    manifests = sorted((out_b / "_manifest").glob("*.json"))[:2]
    killed_units = [json.loads(m.read_text())["unit"] for m in manifests]
    for m in manifests:
        m.unlink()
    part_dir = next((out_b / "data").glob(f"unit={killed_units[0]}"))
    for f in part_dir.glob("*.parquet"):
        f.write_bytes(b"torn-by-kill")  # stale bytes must be overwritten

    rep2 = ckpt.checkpointed_write(work, out_b, "unit", input_snapshot="v0")
    assert sorted(rep2.processed_units) == sorted(killed_units)
    resumed_rows = sorted(map(tuple, ckpt.read_checkpointed(spark, out_b).collect()))
    assert resumed_rows == full_rows

    # idempotent no-op on a complete output
    rep3 = ckpt.checkpointed_write(work, out_b, "unit", input_snapshot="v0")
    assert not rep3.processed_units


def _entries(out, unit) -> set[str]:
    return set(os.listdir(out / "data" / f"unit={unit}"))


def _manifest(out, name) -> dict:
    return json.loads((out / "_manifest" / f"{name}.json").read_text())


def test_checkpoint_new_snapshot_rewrites_unit(spark, tmp_path):
    """A unit whose manifest names another snapshot is written again from
    the new input, and its older files (and their .crc siblings) are gone."""
    out = tmp_path / "ck"
    v0 = spark.createDataFrame([(i, i % 2) for i in range(6)], "id long, unit long")
    ckpt.checkpointed_write(v0, out, "unit", input_snapshot="v0")
    old = {u: _entries(out, u) for u in (0, 1)}
    assert all(any(e.endswith(".crc") for e in es) for es in old.values())

    v1 = spark.createDataFrame([(i, i % 2) for i in range(10, 14)], "id long, unit long")
    rep = ckpt.checkpointed_write(v1, out, "unit", input_snapshot="v1")
    assert (rep.processed_units, rep.skipped_units, rep.rows_written) == ([0, 1], [], 4)
    for u in (0, 1):
        assert _entries(out, u) and not _entries(out, u) & old[u]
        assert _manifest(out, u)["input_snapshot"] == "v1"
    back = sorted(map(tuple, ckpt.read_checkpointed(spark, out).collect()))
    assert back == sorted((i, i % 2) for i in range(10, 14))


def test_checkpoint_unit_missing_from_new_input_is_kept(spark, tmp_path):
    """A unit with an older snapshot's manifest that the new input lacks
    keeps its files and its manifest."""
    out = tmp_path / "ck"
    v0 = spark.createDataFrame([(i, i % 3) for i in range(9)], "id long, unit long")
    ckpt.checkpointed_write(v0, out, "unit", input_snapshot="v0")
    kept_files, kept_manifest = _entries(out, 2), _manifest(out, 2)

    v1 = spark.createDataFrame([(i, i % 2) for i in range(10, 14)], "id long, unit long")
    rep = ckpt.checkpointed_write(v1, out, "unit", input_snapshot="v1")
    assert rep.processed_units == [0, 1]
    assert _entries(out, 2) == kept_files and _manifest(out, 2) == kept_manifest
    back = ckpt.read_checkpointed(spark, out).where(F.col("unit") == 2)
    assert sorted(r["id"] for r in back.collect()) == [2, 5, 8]


def test_checkpoint_metric_aggs_land_in_manifests(spark, tmp_path):
    out = tmp_path / "ck"
    df = spark.createDataFrame([(i, i % 3) for i in range(10)], "id long, unit long")
    rep = ckpt.checkpointed_write(
        df, out, "unit", metric_aggs={"max_id": F.max("id"), "n": F.count(F.lit(1))},
        input_snapshot="v0",
    )
    assert rep.rows_written == 10
    for u, ids in {0: [0, 3, 6, 9], 1: [1, 4, 7], 2: [2, 5, 8]}.items():
        m = _manifest(out, u)
        assert m["rows"] == len(ids) and m["metrics"] == {"max_id": max(ids), "n": len(ids)}


def test_checkpoint_string_units_round_trip(spark, tmp_path):
    """String units come back from Spark's escaped directory names: `/`,
    `=` and `%` survive a write, a resume and the read-back."""
    out = tmp_path / "ck"
    units = ["a/b=c", "x%41", "plain"]
    rows = [(i, units[i % 3]) for i in range(9)]
    df = spark.createDataFrame(rows, "id long, unit string")
    rep = ckpt.checkpointed_write(df, out, "unit", input_snapshot="v0")
    assert rep.processed_units == sorted(units) and rep.rows_written == 9
    assert ckpt.completed_units(out, "v0") == set(units)

    (out / "_manifest" / "a%2Fb%3Dc.json").unlink()
    rep2 = ckpt.checkpointed_write(df, out, "unit", input_snapshot="v0")
    assert rep2.processed_units == ["a/b=c"] and rep2.skipped_units == ["plain", "x%41"]
    assert sorted(map(tuple, ckpt.read_checkpointed(spark, out).collect())) == sorted(rows)

    # units that all look numeric still read back as the strings written
    digits = spark.createDataFrame([(1, "007"), (2, "010")], "id long, unit string")
    ckpt.checkpointed_write(digits, tmp_path / "digits", "unit", input_snapshot="v0")
    back = ckpt.read_checkpointed(spark, tmp_path / "digits").collect()
    assert sorted(map(tuple, back)) == [(1, "007"), (2, "010")]


def test_checkpoint_rejects_float_and_null_units(spark, tmp_path):
    out = tmp_path / "ck"
    floats = spark.createDataFrame([(1, 0.5)], "id long, cell double")
    with pytest.raises(ValueError, match="'cell'"):
        ckpt.checkpointed_write(floats, out, "cell")
    assert not out.exists()

    nulls = spark.createDataFrame([(1, 7), (2, None)], "id long, cell long")
    with pytest.raises(ValueError, match="'cell'.*null"):
        ckpt.checkpointed_write(nulls, out, "cell")
    assert ckpt.completed_units(out) == set()
    assert [d for d in os.listdir(out / "data") if d.startswith("cell=")] == ["cell=7"]


def test_icelite_snapshot_pinning(spark, tmp_path):
    t = tmp_path / "tbl"
    df1 = spark.range(10).withColumnRenamed("id", "x")
    v0 = icelite.write_snapshot(df1, t)
    df2 = spark.range(10, 15).withColumnRenamed("id", "x")
    v1 = icelite.write_snapshot(df2, t)
    assert (v0, v1) == (0, 1)
    assert icelite.read_snapshot(spark, t, version=0).count() == 10
    assert icelite.read_snapshot(spark, t).count() == 15  # append semantics
    assert icelite.snapshot_info(t, 1)["parent"] == 0
