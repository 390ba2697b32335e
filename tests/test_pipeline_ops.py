"""Behavioral gates for the round-2 pipeline additions — planted
synthetic inputs with hand-computed expectations, independent of the
driver fixtures (which exercise the same ops against DuckDB oracles):

* user_sessions  — gap-based session boundaries at the 6h threshold
* zone_overlap   — exact rect-rect overlay areas, buffered + unbuffered
"""

from __future__ import annotations

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from georaster_spark.operators import relational
from georaster_spark.operators.pip import zone_overlap


def test_user_sessions_gap_boundary(spark, tmp_path):
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, user, minutes, value):
        return Row(
            event_id=i, ts=t0 + datetime.timedelta(minutes=minutes),
            user_id=user, event_type="click", value=float(value), props="{}",
        )

    # user 7: gaps of 1h (same session), exactly 6h (same: strict >),
    # then 6h + 1us would split — use 361 min (> 6h) to split.
    rows = [
        ev(1, 7, 0, 1.0), ev(2, 7, 60, 2.0), ev(3, 7, 60 + 360, 3.0),
        ev(4, 7, 60 + 360 + 361, 4.0),
        ev(5, 9, 0, 5.0),
    ]
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    out = relational.user_sessions(spark, str(tmp_path)).collect()
    sess = {(r.user_id, r.sess_idx): r for r in out}
    assert len(sess) == 3
    assert sess[(7, 0)].n_events == 3  # 1h and exactly-6h gaps both keep
    assert sess[(7, 1)].n_events == 1
    assert sess[(7, 0)].sum_value == 6.0
    assert sess[(9, 0)].n_events == 1


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


def test_pagerank_int_matches_reference(spark):
    """graph.pagerank_int vs a dict-based reference implementation on a
    planted asymmetric graph (hub + chain + isolated pair)."""
    from georaster_spark.operators.graph import pagerank_int

    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (5, 6)]
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank_int(df, iters=3).collect()}

    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rank = {n: 1_000_000 for n in deg}
    for _ in range(3):
        nxt = {}
        for s, d in edges:
            nxt[d] = nxt.get(d, 0) + rank[s] // deg[s]
        rank = {n: 150_000 + (85 * v) // 100 for n, v in nxt.items()}
    assert got == rank


def test_skyline_orders_matches_bruteforce(spark):
    """Two-phase distributed skyline == brute-force O(n^2) dominance."""
    import numpy as np

    from georaster_spark.operators import relational as rel

    sf_dir = "/root/testdata/sf0.001"
    got = rel.skyline_orders(spark, sf_dir).collect()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    from pyspark.sql import functions as F

    nl = li.groupBy("l_orderkey").count()
    rows = (
        orders.where(F.col("o_orderdate") >= F.lit("1997-01-01"))
        .join(nl, orders.o_orderkey == nl.l_orderkey)
        .select(
            F.col("o_orderkey").cast("long"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).cast("long"),
            F.col("count").cast("long"),
        )
        .collect()
    )
    P = np.array([tuple(r) for r in rows], dtype=np.int64)
    keys = []
    for i in range(len(P)):
        p = P[i]
        dom = (
            (P[:, 1] >= p[1]) & (P[:, 2] <= p[2]) & (P[:, 3] >= p[3])
            & ((P[:, 1] > p[1]) | (P[:, 2] < p[2]) | (P[:, 3] > p[3]))
        ).any()
        if not dom:
            keys.append(int(p[0]))
    assert sorted(r["o_orderkey"] for r in got) == sorted(keys)
    # two-phase invariant: partitioned local pass must not lose anybody
    assert len(got) == len(keys) > 0


def test_bloom_semi_prunes_and_is_exact(spark):
    """The hand-rolled runtime Bloom filter must (a) admit every true
    key (no false negatives — guaranteed by construction, asserted
    anyway), (b) actually prune the fact side, and (c) produce the
    exact semi-join result after the verify join."""
    from pyspark.sql import functions as F

    from georaster_spark.operators import relational as rel

    sf_dir = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.col("c_mktsegment") == rel._BLOOM_SEGMENT
    )
    keys = c.select(F.col("c_custkey").cast("long").alias("k"))

    # rebuild the same filter the operator builds
    probes = keys.select(
        "k",
        F.explode(F.array(*[F.lit(s) for s in rel._BLOOM_SEEDS])).alias("seed"),
    ).select(F.pmod(F.xxhash64("k", "seed"), F.lit(rel._BLOOM_BITS)).alias("pos"))
    bits = probes.select(
        (F.col("pos") / 64).cast("int").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("mask"),
    )
    words = [0] * rel._BLOOM_WORDS
    for r in bits.groupBy("word").agg(F.bit_or("mask").alias("bm")).collect():
        words[r["word"]] = r["bm"]

    fact = o.withColumn("ck", F.col("o_custkey").cast("long"))
    n_all = fact.count()
    n_cand = fact.where(rel._bloom_probe(fact, "ck", words)).count()
    n_true = fact.join(F.broadcast(keys), fact["ck"] == keys["k"], "left_semi").count()
    assert n_true <= n_cand < n_all  # no false negatives, real pruning

    # plan of the full query: bloom probe is a pre-join Filter, no UDFs
    plan = rel.bloom_semi(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "xxhash64" in plan.lower()


def test_benford_digits_constants_and_census(spark):
    """BENFORD_PPM matches floor(1e6*log10(1+1/d)) and sums to ~1e6;
    the census on sf0.001 partitions all orders and uses exact integer
    shares."""
    import math

    from georaster_spark.operators.relational import BENFORD_PPM, benford_digits

    for d in range(1, 10):
        assert BENFORD_PPM[d - 1] == math.floor(1_000_000 * math.log10(1 + 1 / d))
    assert 999_990 <= sum(BENFORD_PPM) <= 1_000_000

    sf_dir = "/root/testdata/sf0.001"
    rows = benford_digits(spark, sf_dir).collect()
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r["n_orders"] for r in rows) == n_orders
    assert [r["digit"] for r in rows] == sorted(r["digit"] for r in rows)
    for r in rows:
        assert r["obs_ppm"] == (1_000_000 * r["n_orders"]) // n_orders
        assert r["dev_ppm"] == abs(r["obs_ppm"] - r["benford_ppm"])
