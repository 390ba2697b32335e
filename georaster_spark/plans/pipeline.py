"""Flagship end-to-end pipeline (SURVEY §7.1 M1 / §7.4).

"Per zone: number of images whose centroid lies in the zone, and the
mean of their mean-pixel value."

Spine exercised: parquet scan (column-pruned) -> E1 georegister (map-only
Column math) -> fused decode+mean pandas UDF (single JVM<->Python Arrow
hop) -> E5 broadcast PIP join -> partial+final hash aggregation.  One
shuffle total (the final groupBy); the PIP join is broadcast so the big
side never moves.

The decode runs BEFORE the join, so it decodes every image, including
those whose centroid lands in no zone: at sf0.1 all 100,000 images
(411.6 MB over Arrow per job), of which 59,883 land in a zone.  Moving
pixel_mean after the join was measured slower on a 4-vCPU host (2.88 s
against 2.50 s, median of 6 sf0.1 runs each), so the plan keeps the
decode first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import DEFAULT_RES
from ..functions.codecs import pixel_mean
from ..functions.util import per_jvm
from ..operators import georegister as geo
from ..operators.pip import pip_join
from ..sources.fixtures import fixtures_for_sf_dir


def load_fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    fdir = fixtures_for_sf_dir(sf_dir)
    return spark.read.parquet(str(fdir / f"{name}.parquet"))


@per_jvm
def _stats_exprs(with_pixels: bool) -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    """zone_image_stats' pixel-UDF arguments and per-zone aggregates."""
    aggs = (F.count(F.lit(1)).alias("n_images"),)
    if with_pixels:
        aggs += (F.round(F.avg("tile_mean"), 6).alias("avg_tile_mean"),)
    return tuple(F.col(c) for c in ("bytes", "w", "h", "fmt")), aggs


def zone_image_stats(
    images: DataFrame,
    zones: DataFrame,
    r: int = DEFAULT_RES,
    with_pixels: bool = True,
    max_ring: int | None = None,
) -> DataFrame:
    """Per-zone image count (+ mean of per-tile mean pixel value).

    Every fixed expression is built once per JVM (util.per_jvm); the
    pixel_mean call is built per call, because a Python UDF call carries
    a result id that two plans must not share."""
    pixel_args, aggs = _stats_exprs(with_pixels)
    tiles = geo.georegister(images, r)
    if with_pixels:
        tiles = tiles.withColumn("tile_mean", pixel_mean(*pixel_args))
    pairs = pip_join(
        tiles,
        zones,
        x=geo.centroid_x(),
        y=geo.centroid_y(),
        r=r,
        max_ring=max_ring,
    )
    return pairs.groupBy("zone_id").agg(*aggs).repartition(1).sortWithinPartitions("zone_id")


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    images = load_fixture(spark, sf_dir, "images")
    zones = load_fixture(spark, sf_dir, "zones")
    return zone_image_stats(images, zones)
