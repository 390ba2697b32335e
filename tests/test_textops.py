"""Cross-engine parity for the training-data-pipeline ops (textops /
vectors) at sf0.001 — the same compare the driver runs at sf0.01
(tests/driver_sim.py logic, subset for speed)."""

from __future__ import annotations

import duckdb
import pytest

from georaster_spark.operators import textops, vectors
from tests.driver_sim import table_hash

SF_DIR = "/root/testdata/sf0.001"

CASES = [
    ("text_stats", textops.text_stats, textops.text_stats_sql()),
    ("text_quality", textops.text_quality, textops.text_quality_sql()),
    ("lang_id", textops.lang_id, textops.lang_id_sql()),
    ("doc_fingerprint", textops.doc_fingerprint, textops.doc_fingerprint_sql()),
    ("dedup_exact", textops.dedup_exact, textops.dedup_exact_sql()),
    ("minhash_lsh", textops.minhash_lsh_pairs, textops.minhash_lsh_pairs_sql()),
    ("simhash", textops.simhash_pairs, textops.simhash_pairs_sql()),
    ("cosine_near_dup", vectors.cosine_near_dup, vectors.cosine_near_dup_sql()),
    ("ann_topk_brute", vectors.ann_topk_brute, vectors.ann_topk_brute_sql()),
    ("ann_lsh", vectors.ann_lsh, vectors.ann_lsh_sql()),
    ("ann_sq8", vectors.ann_sq8, vectors.ann_sq8_sql()),
    ("ann_pq", vectors.ann_pq, vectors.ann_pq_sql()),
    ("kmeans_embed", vectors.kmeans_embed, vectors.kmeans_embed_sql()),
    ("ann_ivfpq", vectors.ann_ivfpq, vectors.ann_ivfpq_sql()),
    ("semdedup", vectors.semdedup, vectors.semdedup_sql()),
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name,fn,sql", CASES, ids=[c[0] for c in CASES])
def test_parity(spark, duck, name, fn, sql):
    sdf = fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    orows = duck.execute(sql).fetchall()
    ocols = [d[0] for d in duck.description]
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert table_hash(sdf.columns, srows) == table_hash(ocols, orows)


def test_nontrivial_outputs(spark, duck):
    """Guard against trivially-empty comparisons: the planted structure
    must actually produce pairs/dups at sf0.001."""
    assert textops.minhash_lsh_pairs(spark, SF_DIR).count() > 0
    assert textops.dedup_exact(spark, SF_DIR).count() > 0
    assert vectors.ann_topk_brute(spark, SF_DIR).count() > 0


def test_minhash_lsh_pairs_equal_exact_jaccard_pairs(spark, duck):
    """The banded-MinHash path (D3) must miss no pair the exact
    all-pairs Jaccard test keeps, and keep no other pair, on the planted
    corpus.  The exact set is built from the same shingle and threshold
    pieces as the dedup_components oracle."""
    got = {
        (r["a_id"], r["b_id"])
        for r in textops.minhash_lsh_pairs(spark, SF_DIR).collect()
    }
    exact = set(duck.execute(f"""
WITH w AS (SELECT doc_id, {textops._SQL_WS} AS ws FROM documents),
s AS (SELECT doc_id, {textops._SQL_SHINGLES} AS sh FROM w WHERE len(ws) >= 3)
SELECT a.doc_id, b.doc_id
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
      >= {textops.JACCARD_TAU}
""").fetchall())
    assert exact
    assert got == exact


def test_ann_sq8_accounts_for_every_query(spark, duck):
    """The recall histogram must cover the whole query set and the SQ8
    codes must rank well enough that SOME queries get perfect overlap —
    a quantizer regression (wrong range, off-by-one in the code map)
    drags the histogram mass down and flips the hash row red anyway."""
    sdf = vectors.ann_sq8(spark, SF_DIR)
    rows = {r["overlap"]: (r["n_queries"], r["query_checksum"]) for r in sdf.collect()}
    nq, qsum = duck.execute(
        f"SELECT COUNT(*), SUM(vec_id) FROM embeddings WHERE vec_id % {vectors.QUERY_MOD} = 0"
    ).fetchone()
    assert sum(n for n, _ in rows.values()) == nq
    assert sum(s for _, s in rows.values()) == qsum
    assert max(rows) == vectors.TOPK  # at least one perfect-recall query


def test_ann_pq_recall_against_exact(spark):
    """PQ with data-independent codebooks still has to retrieve real
    neighbors: mean top-5 overlap with the exact cosine ranking must
    clear a floor (guards against degenerate all-same codes)."""
    exact = {}
    for r in vectors.ann_topk_brute(spark, SF_DIR).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    pq = {}
    for r in vectors.ann_pq(spark, SF_DIR).collect():
        pq.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(pq) == set(exact)
    hits = sum(len(pq[q] & exact[q]) for q in exact)
    total = sum(len(pq[q]) for q in pq)  # recall@5 against the exact top-10
    assert hits / total > 0.3
    assert all(len(v) == 5 for v in pq.values())


def test_kmeans_partitions_corpus(spark):
    rows = vectors.kmeans_embed(spark, SF_DIR).collect()
    assert len(rows) == vectors.KM_K
    assert sum(r["n_members"] for r in rows) == 500
    assert all(r["inertia"] >= 0 for r in rows)
    # a real clustering, not one catch-all bucket
    assert sum(1 for r in rows if r["n_members"] > 0) >= 4
