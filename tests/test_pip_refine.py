"""Differential test of the two convex half-plane refine predicates in
operators/pip.py: the unrolled codegen fast path (convex_pip_unrolled,
which pip_join takes for small rings) and the higher-order-function path
(convex_pip_hof) must agree on every (point, zone) pair of the sf0.001
fixture, including the boundary cases — each ring's own vertices and
edge midpoints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from georaster_spark.operators.pip import convex_pip_hof, convex_pip_unrolled


@pytest.fixture(scope="module")
def zones(spark, sf0001_dir):
    return spark.read.parquet(str(sf0001_dir / "zones.parquet")).select("zone_id", "ring")


@pytest.fixture(scope="module")
def max_ring(zones):
    return zones.agg(F.max(F.size("ring"))).first()[0]


@pytest.fixture(scope="module")
def probes(spark, sf0001_dir, zones):
    """Fixture points, ring vertices and ring edge midpoints as (px, py)."""
    points = spark.read.parquet(str(sf0001_dir / "points.parquet")).select(
        F.col("x").alias("px"), F.col("y").alias("py")
    )
    verts = zones.select(F.explode("ring").alias("p")).select(
        F.col("p.x").alias("px"), F.col("p.y").alias("py")
    )
    n = F.size("ring")
    edges = zones.select(
        F.explode(F.arrays_zip(F.slice("ring", 1, n - 1), F.slice("ring", 2, n - 1))).alias("e")
    )
    mids = edges.select(
        ((F.col("e.0.x") + F.col("e.1.x")) / 2).alias("px"),
        ((F.col("e.0.y") + F.col("e.1.y")) / 2).alias("py"),
    )
    return points.unionByName(verts).unionByName(mids)


def test_unrolled_and_hof_agree(zones, probes, max_ring):
    ring, px, py = F.col("ring"), F.col("px"), F.col("py")
    rows = (
        probes.crossJoin(zones)
        .select(
            "zone_id",
            "px",
            "py",
            convex_pip_unrolled(ring, px, py, max_edges=max_ring - 1).alias("unrolled"),
            convex_pip_hof(ring, px, py).alias("hof"),
        )
        .collect()
    )
    diff = [r for r in rows if r["unrolled"] is not r["hof"]]
    assert not diff, diff[:5]
    inside = sum(r["hof"] for r in rows)
    assert 0 < inside < len(rows)  # both outcomes are exercised


def test_ring_vertices_are_inside_their_own_ring(zones):
    ring = F.col("ring")
    v = zones.select("zone_id", "ring", F.explode("ring").alias("p"))
    px, py = F.col("p.x"), F.col("p.y")
    got = v.select(
        convex_pip_hof(ring, px, py).alias("hof"),
        convex_pip_unrolled(ring, px, py).alias("unrolled"),
    ).collect()
    assert got and all(r["hof"] and r["unrolled"] for r in got)


def test_unrolled_guard_raises_on_wider_ring(zones, max_ring):
    """A probe that passes every tested edge would silently skip the
    untested one, so the guard must raise.  (A probe outside a tested
    edge is a correct False and short-circuits the guard.)  The ring's
    first vertex lies on two edges and inside the rest, so it passes."""
    wide = zones.where(F.size("ring") == max_ring)
    first = F.get("ring", 0)
    refine = convex_pip_unrolled(
        F.col("ring"), first["x"], first["y"], max_edges=max_ring - 2
    )
    with pytest.raises(Exception, match="ring edges exceed max_edges"):
        wide.select(refine.alias("inside")).collect()
