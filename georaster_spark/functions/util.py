"""Small shared plan helpers."""

from __future__ import annotations

import functools
import weakref

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def per_jvm(build):
    """Memoize `build(*args)` once per JVM.

    Building a Column expression in PySpark costs py4j round-trips: a
    call per operation, plus reflection and call-site bookkeeping around
    each one.  The fixed expression trees of the headline operators run
    to hundreds of operations, so rebuilding them on every call cost
    more Python-side time than Spark's planning.  A JVM Column is not
    tied to a session or a plan, so the trees are built on the first
    call with given arguments and reused after.

    The cache is keyed on the py4j gateway object itself, not its `id()`:
    a relaunched JVM comes with a new gateway and never sees a handle of
    the old one.  Only for expressions without per-use identity: a
    Python UDF call carries a result id, so it is never cached."""
    built: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

    @functools.wraps(build)
    def cached(*args):
        memo = built.setdefault(SparkContext._gateway, {})
        if args not in memo:
            memo[args] = build(*args)
        return memo[args]

    return cached


def fan_out(df: DataFrame) -> DataFrame:
    """Local-input parallelism guard: an sf-scale fixture parquet
    (documents, images, embeddings) is ONE small file, which scans as
    one or a few partitions and serializes every downstream map stage
    on a fraction of a many-core executor.  Round-robin repartition to the
    session's default parallelism when the scan is narrower — the
    shuffle moves only the raw corpus bytes once, and at production
    scale (thousands of files/row groups) the branch never fires."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def h40(col: Column) -> Column:
    """First 10 hex digits of md5(col) as a 40-bit bigint."""
    return F.conv(F.substring(F.md5(col), 1, 10), 16, 10).cast("long")
