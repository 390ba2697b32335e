"""Deterministic sampling (operators/sample)."""

from __future__ import annotations

from pyspark.sql import functions as F

from georaster_spark.operators import sample

TD = "/root/testdata/sf0.001"


def test_membership_invariant_under_partitioning(spark):
    docs = spark.read.parquet(f"{TD}/documents.parquet")
    a = {r["doc_id"] for r in sample.hash_sample(docs, "doc_id", 300).collect()}
    b = {
        r["doc_id"]
        for r in sample.hash_sample(docs.repartition(13), "doc_id", 300).collect()
    }
    assert a == b and 0 < len(a) < docs.count()


def test_nested_rates_and_salt_independence(spark):
    docs = spark.read.parquet(f"{TD}/documents.parquet")
    s100 = {r["doc_id"] for r in sample.hash_sample(docs, "doc_id", 100).collect()}
    s500 = {r["doc_id"] for r in sample.hash_sample(docs, "doc_id", 500).collect()}
    assert s100 <= s500  # nested: raising the rate only adds rows
    heldout = {
        r["doc_id"]
        for r in sample.hash_sample(docs, "doc_id", 500, salt="heldout").collect()
    }
    assert heldout != s500  # a salted split is a different sample


def test_stratified_rates_respected(spark):
    docs = spark.read.parquet(f"{TD}/documents.parquet")
    kept = sample.stratified_sample(
        docs, key="doc_id", strata="lang", rates={"en": 1000, "de": 0},
        default_per_mille=500,
    )
    got = {r["lang"]: r["n"] for r in
           kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    tot = {r["lang"]: r["n"] for r in
           docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["en"] == tot["en"]  # 1000 per mille keeps everything
    assert "de" not in got  # 0 per mille keeps nothing
