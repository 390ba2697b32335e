"""Connected-components unit tests (operators/graph.py — dedup
clustering tier).  Chain graphs exercise multi-round convergence (the
contract query's LSH clusters are dense and converge in ~2 rounds)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from georaster_spark.operators import graph


def _cc(spark, edges, vertices):
    e = spark.createDataFrame(edges or [(None, None)], "a_id long, b_id long")
    if not edges:
        e = e.where(F.lit(False))
    v = spark.createDataFrame([(x,) for x in vertices], "doc_id long")
    out = graph.connected_components(e, v)
    return {r["doc_id"]: r["component"] for r in out.collect()}


def test_chain_and_isolated(spark):
    # 1-2-3-4 chain (diameter 3) + isolated 9
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)], [1, 2, 3, 4, 9])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_two_clusters_and_canonical(spark):
    got = _cc(spark, [(5, 7), (7, 6), (10, 11)], [5, 6, 7, 10, 11, 12])
    assert got == {5: 5, 6: 5, 7: 5, 10: 10, 11: 10, 12: 12}
    e = spark.createDataFrame([(5, 7)], "a_id long, b_id long")
    v = spark.createDataFrame([(5,), (7,)], "doc_id long")
    flags = {
        r["doc_id"]: r["is_canonical"]
        for r in graph.canonical_docs(graph.connected_components(e, v)).collect()
    }
    assert flags == {5: True, 7: False}


def test_no_edges(spark):
    got = _cc(spark, [], [1, 2, 3])
    assert got == {1: 1, 2: 2, 3: 3}


def test_string_ids(spark):
    # non-numeric ids take the changed-rows convergence path
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "z")], "a_id string, b_id string"
    )
    v = spark.createDataFrame(
        [(s,) for s in ("a", "b", "c", "x", "z", "q")], "doc_id string"
    )
    got = {r["doc_id"]: r["component"] for r in graph.connected_components(e, v).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "z": "x", "q": "q"}


def test_nonconvergence_raises(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a_id long, b_id long")
    v = spark.createDataFrame([(x,) for x in (1, 2, 3, 4)], "doc_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(e, v, max_iter=1)


def _cc_star(spark, edges, vertices):
    e = spark.createDataFrame(edges or [(None, None)], "a_id long, b_id long")
    if not edges:
        e = e.where(F.lit(False))
    v = spark.createDataFrame([(x,) for x in vertices], "doc_id long")
    out = graph.connected_components_star(e, v)
    return {r["doc_id"]: r["component"] for r in out.collect()}


def test_star_matches_minlabel_on_mixed_graph(spark):
    # chain (multi-round) + clique (1-round) + isolated vertex
    edges = [(i, i + 1) for i in range(12)] + [
        (a, b) for a in range(100, 104) for b in range(a + 1, 104)
    ]
    verts = list(range(13)) + list(range(100, 104)) + [200]
    assert _cc_star(spark, edges, verts) == _cc(spark, edges, verts)


def test_star_long_chain_converges_logarithmically(spark):
    # a 64-chain has diameter 64 (min-label would need 64 rounds); the
    # star contraction must finish well inside max_iter=25
    edges = [(i, i + 1) for i in range(64)]
    got = _cc_star(spark, edges, list(range(65)))
    assert got == {i: 0 for i in range(65)}


def test_star_no_edges_and_self_loops(spark):
    got = _cc_star(spark, [(3, 3)], [3, 4])
    assert got == {3: 3, 4: 4}


def test_msf_weight_packing_injective_past_1000_zones(spark):
    # ADVICE r4 (medium): the old decimal packing d*10^6 + u*10^3 + v
    # aliased (d, u, v) with (d+1, u-1000, v) once zone ids reached
    # 1000 — exactly what sf1's 1024 zones hit.  The 2^22/2^11 packing
    # must keep every weight distinct on a witness set that collides
    # under the old scheme.
    from georaster_spark.plans.contract import _msf_weight

    rows = [(5, 1000, 1), (6, 0, 1), (7, 1023, 2047), (8, 23, 2047)]
    # old scheme: rows 0/1 alias at 6_000_001; rows 2/3 at 9_097_047
    assert len({d * 10**6 + u * 10**3 + v for d, u, v in rows}) == 2
    df = spark.createDataFrame(rows, "d long, u long, v long")
    ws = [r["w"] for r in df.select(_msf_weight().alias("w")).collect()]
    assert len(set(ws)) == len(rows)
    # and the packing is order-preserving in d first (MSF needs only
    # distinctness, but d-major ordering keeps cut thresholds exact)
    assert [w >> 22 for w in ws] == [d for d, _, _ in rows]


def test_msf_weight_packing_guard_trips_on_wide_zone_id(spark):
    from georaster_spark.plans.contract import _msf_weight

    df = spark.createDataFrame([(1, 2048, 3)], "d long, u long, v long")
    with pytest.raises(Exception, match="msf weight packing"):
        df.select(_msf_weight().alias("w")).collect()
