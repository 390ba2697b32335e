"""Differential test of the convex half-plane refine in operators/pip.py:
the unrolled codegen fast path (ring_edges + convex_pip_unrolled, which
pip_join takes for rings up to MAX_UNROLL_EDGES edges), the
higher-order-function path (convex_pip_hof) and the NumPy spec
(oracle.pip_halfplane) must agree on every (point, zone) pair of the
sf0.001 fixture, including the boundary cases — each ring's own vertices
and edge midpoints — and with short rings (the 4-edge `rect` zones)
padded up to the full unroll width."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from georaster_spark import oracle
from georaster_spark.operators import georegister as geo
from georaster_spark.operators.pip import (
    MAX_UNROLL_EDGES,
    convex_pip_hof,
    convex_pip_unrolled,
    pip_join,
    ring_edges,
)


@pytest.fixture(scope="module")
def zones(spark, sf0001_dir):
    return spark.read.parquet(str(sf0001_dir / "zones.parquet")).select("zone_id", "kind", "ring")


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
    """At the width pip_join picks for this fixture (max_ring - 1) and
    at MAX_UNROLL_EDGES, which pads every ring, the 4-edge rects
    included, to the full unroll width."""
    rings = {r["zone_id"]: r for r in zones.collect()}
    assert {r["kind"] for r in rings.values()} == {"rect", "convex"}
    ring, px, py = F.col("ring"), F.col("px"), F.col("py")
    for n_edges in (max_ring - 1, MAX_UNROLL_EDGES):
        rows = (
            probes.crossJoin(zones.withColumn("edges", ring_edges(ring, n_edges)))
            .select(
                "zone_id",
                "px",
                "py",
                convex_pip_unrolled(F.col("edges"), px, py, n_edges).alias("unrolled"),
                convex_pip_hof(ring, px, py).alias("hof"),
            )
            .collect()
        )
        diff = [r for r in rows if r["unrolled"] is not r["hof"]]
        assert not diff, (n_edges, diff[:5])
        for zid, zr in rings.items():
            mine = [r for r in rows if r["zone_id"] == zid]
            rx = np.array([p["x"] for p in zr["ring"]])
            ry = np.array([p["y"] for p in zr["ring"]])
            want = oracle.pip_halfplane(rx, ry, [r["px"] for r in mine], [r["py"] for r in mine])
            assert [r["unrolled"] for r in mine] == want.tolist(), (n_edges, zid)
        inside = sum(r["hof"] for r in rows)
        assert 0 < inside < len(rows)  # both outcomes are exercised


def test_ring_vertices_are_inside_their_own_ring(zones):
    ring = F.col("ring")
    v = zones.select(
        "zone_id", "ring", ring_edges(ring, MAX_UNROLL_EDGES).alias("edges"),
        F.explode("ring").alias("p"),
    )
    px, py = F.col("p.x"), F.col("p.y")
    got = v.select(
        convex_pip_hof(ring, px, py).alias("hof"),
        convex_pip_unrolled(F.col("edges"), px, py, MAX_UNROLL_EDGES).alias("unrolled"),
    ).collect()
    assert got and all(r["hof"] and r["unrolled"] for r in got)


def test_unrolled_guard_raises_on_wider_ring(spark, sf0001_dir, zones, max_ring):
    """The zone-side guard raises on a ring wider than the unroll width,
    whatever the probe: one that passes every tested edge (the ring's
    first vertex lies on two edges and inside the rest) and one that
    fails the first edge (its midpoint pushed outward by the edge's
    normal).  pip_join given too small a `max_ring` bound raises too."""
    wide = zones.where(F.size("ring") == max_ring)
    a, b = F.get("ring", 0), F.get("ring", 1)
    dx, dy = b["x"] - a["x"], b["y"] - a["y"]
    on_vertex = (a["x"], a["y"])
    outside_edge0 = ((a["x"] + b["x"]) / 2 + dy, (a["y"] + b["y"]) / 2 - dx)
    n_edges = max_ring - 2
    edges = ring_edges(F.col("ring"), n_edges)
    for px, py in (on_vertex, outside_edge0):
        refine = convex_pip_unrolled(edges, px, py, n_edges)
        with pytest.raises(Exception, match="ring edges exceed n_edges"):
            wide.select(refine.alias("inside")).collect()

    # The outside probe really fails the first edge: test that edge alone.
    first_edge = convex_pip_unrolled(ring_edges(F.col("ring"), max_ring - 1), *outside_edge0, 1)
    assert not any(r[0] for r in wide.select(first_edge).collect())

    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet"))
    zones_full = spark.read.parquet(str(sf0001_dir / "zones.parquet"))
    tiles = geo.georegister(imgs.select("image_id", "w", "h"))
    q = pip_join(tiles, zones_full, x=geo.centroid_x(), y=geo.centroid_y(), max_ring=max_ring - 1)
    with pytest.raises(Exception, match="ring edges exceed n_edges"):
        q.count()
