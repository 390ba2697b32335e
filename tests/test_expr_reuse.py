"""Expression reuse (functions/util.per_jvm): the headline operators build
their fixed Column trees once per JVM and reuse them.  Two plans that
share those trees, side by side in one query, must still return the
rows each returns alone, and the cache must survive a session restart
and a relaunched JVM."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

from georaster_spark.operators import georegister as geo
from georaster_spark.plans.pipeline import zone_image_stats

REPO = Path(__file__).resolve().parent.parent


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_union_of_two_zone_image_stats(spark, sf0001_dir):
    """Both arms reuse the same georegister, PIP and aggregate
    expressions; each keeps its own rows.  Arm 0 is checked against the
    DuckDB oracle, arm 1 (half the images) against itself built alone."""
    import duckdb

    from georaster_spark.plans import contract as ct
    from tests.driver_sim import table_hash

    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet"))
    zones = spark.read.parquet(str(sf0001_dir / "zones.parquet"))
    half = imgs.where(F.col("image_id") < "img00000500")
    arms = [zone_image_stats(imgs, zones), zone_image_stats(half, zones)]
    alone = [_rows(a) for a in arms]
    union = arms[0].withColumn("arm", F.lit(0)).unionByName(arms[1].withColumn("arm", F.lit(1)))
    got = _rows(union.select("arm", "zone_id", "n_images", "avg_tile_mean"))
    assert got == sorted([(0, *r) for r in alone[0]] + [(1, *r) for r in alone[1]])
    assert 0 < len(alone[1]) and sum(r[1] for r in alone[1]) < sum(r[1] for r in alone[0])

    con = duckdb.connect()
    sql = ct._sql_zone_image_stats(sf0001_dir, ct._TILE_W["sf0.001"])
    orows = con.execute(sql).fetchall()
    ocols = [d[0] for d in con.description]
    assert table_hash(arms[0].columns, alone[0]) == table_hash(ocols, orows)


def test_self_join_of_two_georegister_outputs(spark, sf0001_dir):
    """Two georegister outputs of one input, joined on image_id: every
    column matches on both sides and equals georegister alone; cell ids
    match the DuckDB oracle."""
    import duckdb

    from georaster_spark.plans import contract as ct

    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet")).select("image_id", "w", "h")
    a, b = geo.georegister(imgs), geo.georegister(imgs)
    cols = [c for c in a.columns if c != "image_id"]
    joined = a.alias("a").join(b.alias("b"), "image_id").select(
        "image_id",
        *[F.col(f"a.{c}").alias(f"a_{c}") for c in cols],
        *[F.col(f"b.{c}").alias(f"b_{c}") for c in cols],
    )
    alone = {r[0]: tuple(r) for r in geo.georegister(imgs).select("image_id", *cols).collect()}
    got = joined.collect()
    assert len(got) == len(alone) == 1000
    n = len(cols)
    for r in got:
        assert tuple(r)[: n + 1] == alone[r[0]]
        assert tuple(r)[n + 1:] == alone[r[0]][1:]

    con = duckdb.connect()
    want = dict(con.execute(ct._sql_cell_anchor(sf0001_dir)).fetchall())
    assert {r["image_id"]: r["a_cell_id"] for r in got} == want


_RESTART = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from pyspark.sql import functions as F
from georaster_spark.session import get_spark
from georaster_spark.operators import georegister as geo
from georaster_spark.operators.pip import pip_join

conf = {"spark.driver.memory": "1g"}

def pairs(spark):
    fx = sys.argv[2]
    imgs = spark.read.parquet(fx + "/images.parquet").select("image_id", "w", "h")
    zones = spark.read.parquet(fx + "/zones.parquet")
    df = pip_join(geo.georegister(imgs), zones, x=geo.centroid_x(), y=geo.centroid_y())
    return df.agg(F.count(F.lit(1))).first()[0]

spark = get_spark(master="local[1]", shuffle_partitions=2, extra_conf=conf)
out = [pairs(spark)]
spark.stop()
spark = get_spark(master="local[1]", shuffle_partitions=2, extra_conf=conf)
out.append(pairs(spark))
spark.stop()
SparkContext._gateway.shutdown()
SparkContext._gateway = SparkContext._jvm = None
spark = get_spark(master="local[1]", shuffle_partitions=2, extra_conf=conf)
out.append(pairs(spark))
spark.stop()
print(json.dumps(out))
"""


def test_pip_join_survives_session_restart_and_new_jvm(sf0001_dir):
    """In one process: pip_join, stop and rebuild the session (same JVM,
    cached expressions reused), then shut the JVM down and launch a new
    one (new gateway, expressions rebuilt).  All three counts agree."""
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART, str(REPO), str(sf0001_dir)],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    counts = json.loads(proc.stdout.strip().splitlines()[-1])
    assert counts[0] > 0 and counts == [counts[0]] * 3, counts
