"""Op E11 — perceptual-hash near-duplicate pairing (SURVEY §2.2).

Bit-sampling LSH over the 64-bit phash input column: split the hash into
B=5 disjoint bands (4 x 13 bits + 1 x 12 bits).  By pigeonhole, any pair
with Hamming distance <= 4 agrees EXACTLY on at least one band, so the
banded equi-join is a lossless candidate generator for t <= 4; the exact
`bit_count(xor) <= t` refine keeps no false positives.  Pure SQL-shaped
plan — explode to (band_id, band_val) keys, self-equi-join, distinct
pair, refine — no UDFs anywhere.

Scale notes: the join key (band_id, band_val) is ~uniform for scrambled
hashes, so the shuffle is balanced; distinct-pairs collapses multi-band
matches.  At 10^12 rows you'd add a length-prefix or prefix-partition
pruning; the plan shape stays identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 5 bands: shifts and widths covering all 64 bits (4x13 + 1x12)
BANDS: list[tuple[int, int]] = [(0, 13), (13, 13), (26, 13), (39, 13), (52, 12)]


def phash_near_dup(images: DataFrame, t: int = 4, id_col: str = "image_id") -> DataFrame:
    """All unordered pairs (a_id < b_id) with hamming(phash) <= t.
    Lossless for t <= len(BANDS) - 1 = 4 by pigeonhole."""
    if t > len(BANDS) - 1:
        raise ValueError(f"banding is only lossless for t <= {len(BANDS) - 1}")
    h = images.select(F.col(id_col).alias("id"), "phash")
    banded = h.select(
        "id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        # arithmetic shift + mask: the same band values in
                        # Spark and DuckDB even for sign-bit-set hashes
                        F.shiftright(F.col("phash"), sh)
                        .bitwiseAND(F.lit((1 << wd) - 1))
                        .alias("band_val"),
                    )
                    for i, (sh, wd) in enumerate(BANDS)
                ]
            )
        ).alias("b"),
    ).select("id", "phash", "b.band_id", "b.band_val")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash"))).alias("hamming"),
        )
        .where(F.col("hamming") <= t)
        .distinct()
    )
    return pairs.orderBy("a_id", "b_id")
