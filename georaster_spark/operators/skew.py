"""Op E8 — skew-defeating partitioning (SURVEY §2.2/§4.3).

The fixture data plants hot cells on purpose (constants.HOT_ANCHORS:
~5% of all images teleport into 3 anchor cells), modeling the dense
image clusters a 10^12-row corpus has (cities, popular scenes).  A plain
cell equi-join serializes each hot cell into one task; AQE's skew-join
can split the *probe* side post-hoc, but cannot fix fan-out that an
`explode` already amplified — so the layout is fixed BEFORE the join:

  1. CENSUS: approximate per-key counts over a bounded sample
     (`approx_count_distinct`-class pass; one cheap job) -> the set of
     hot keys, broadcast to the planner.
  2. SALT: big side gets `salt = pmod(xxhash64(row_key), S)` for hot
     keys (0 otherwise); the small/broadcast side replicates hot-key
     rows S times (explode over sequence).  The join key becomes
     (key, salt) -> a hot cell's rows now land in S tasks.

Deterministic: xxhash64 of a stable row key — same rows, same salts at
any parallelism (north-rule bit-for-bit posture).

Reference analog: none (georaster is single-node); mandated by
BASELINE.json.north_rule ("partitioning / shuffle / skew handled
explicitly").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SALT = 8
DEFAULT_HOT_THRESHOLD = 0.01  # key is hot if > 1% of sampled rows


def hot_key_census(
    df: DataFrame,
    key: str,
    sample_fraction: float = 0.05,
    hot_threshold: float = DEFAULT_HOT_THRESHOLD,
    seed: int = 42,
) -> list:
    """One cheap sampled pass -> keys holding > hot_threshold of rows.
    The result is planner metadata (a small list), not data."""
    s = df.sample(fraction=sample_fraction, seed=seed).groupBy(key).count()
    # ONE action: broadcast the 1-row grand total back onto the grouped
    # counts instead of collecting total and hot keys in two jobs (the
    # upstream pipeline would re-execute for each driver action)
    tot = s.agg(F.sum("count").alias("_tot"))
    rows = (
        s.join(F.broadcast(tot))
        .where(F.col("count") > hot_threshold * F.col("_tot"))
        .select(key)
        .collect()
    )
    return [r[0] for r in rows]


def salted_equi_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    hot_keys: list,
    row_key: str,
    n_salt: int = DEFAULT_SALT,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on `key` with hot keys salted S ways.

    big:   salted deterministically by xxhash64(row_key) % S.
    small: hot-key rows replicated S times (explode), others salt=0.
    Result == big.join(small, key, how) exactly (verified in tests);
    only the physical layout changes.
    """
    if not hot_keys:
        return big.join(small, key, how)
    is_hot_b = F.col(key).isin(hot_keys)
    bigs = big.withColumn(
        "_salt",
        F.when(is_hot_b, F.pmod(F.xxhash64(F.col(row_key)), F.lit(n_salt))).otherwise(F.lit(0)),
    )
    is_hot_s = F.col(key).isin(hot_keys)
    smalls = small.withColumn(
        "_salt",
        F.explode(
            F.when(is_hot_s, F.sequence(F.lit(0), F.lit(n_salt - 1))).otherwise(
                F.array(F.lit(0))
            )
        ),
    )
    return bigs.join(smalls, [key, "_salt"], how).drop("_salt")
