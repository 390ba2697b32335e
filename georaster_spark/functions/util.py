"""Small shared plan helpers."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ordered(df: DataFrame, *cols: str) -> DataFrame:
    """Total-order a SMALL result set without `orderBy`'s hidden cost.

    A global `orderBy` runs a RangePartitioner sampling job that
    re-executes the entire child plan when the child does not end in a
    reusable exchange (ours usually end in mapInPandas) — measured 2-3x
    wall time on the sampling operators.  Contract outputs are <= ~100k
    rows, so shuffle them to one partition (upstream parallelism intact
    — repartition is a real exchange, unlike coalesce) and sort there.
    """
    return df.repartition(1).sortWithinPartitions(*cols)


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
