"""Behavioral gates for the round-2 pipeline additions — planted
synthetic inputs with hand-computed expectations, independent of the
driver fixtures (which exercise the same ops against DuckDB oracles):

* zone_overlap   — exact rect-rect overlay areas, buffered + unbuffered
"""

from __future__ import annotations

from pyspark.sql import Row

from georaster_spark.operators.pip import zone_overlap


def _ring(x0, y0, x1, y1):
    return [
        Row(x=float(x0), y=float(y0)), Row(x=float(x1), y=float(y0)),
        Row(x=float(x1), y=float(y1)), Row(x=float(x0), y=float(y1)),
        Row(x=float(x0), y=float(y0)),
    ]


def test_zone_overlap_exact_area(spark):
    zones = spark.createDataFrame(
        [
            Row(zone_id=1, kind="rect", ring=_ring(1000, 1000, 2000, 2000)),
            Row(zone_id=2, kind="rect", ring=_ring(1500, 1500, 2500, 2500)),
            Row(zone_id=3, kind="rect", ring=_ring(9000, 9000, 9100, 9100)),
        ],
        "zone_id long, kind string, ring array<struct<x double, y double>>",
    )
    out = zone_overlap(zones).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.zone_a, r.zone_b) == (1, 2)
    assert (r.ixmin_u, r.ixmax_u, r.iymin_u, r.iymax_u) == (1500, 2000, 1500, 2000)
    assert r.area_u == 500 * 500


def test_zone_overlap_buffer_pairs_disjoint_zones(spark):
    zones = spark.createDataFrame(
        [
            Row(zone_id=1, kind="rect", ring=_ring(1000, 1000, 2000, 2000)),
            Row(zone_id=3, kind="rect", ring=_ring(2400, 1000, 3000, 2000)),
        ],
        "zone_id long, kind string, ring array<struct<x double, y double>>",
    )
    assert zone_overlap(zones).count() == 0  # gap of 400: no contact
    buffered = zone_overlap(zones, buffer=300.0).collect()  # dilated by 300
    # dilated boxes: A x[700,2300], B x[2100,3300], y both [700,2300]
    assert len(buffered) == 1 and buffered[0].area_u == (2300 - 2100) * (2300 - 700)
