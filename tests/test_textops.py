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
    ("ann_ivf", vectors.ann_ivf, vectors.ann_ivf_sql()),
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
    assert vectors.ann_ivf(spark, SF_DIR).count() > 0


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
