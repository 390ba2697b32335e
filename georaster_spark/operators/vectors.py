"""Embedding similarity operators over the driver's `embeddings` table
(vec_id bigint, embedding array<float>, label int) — the ANN layer of a
training-data pipeline (near-dup removal + similarity search).

Pairing rule as in textops.py: every operator is a (Spark builder,
DuckDB oracle SQL) pair computing identical results.  The pixel-side
mandate applies here too (BASELINE.json.input_hint: batched NumPy inside
pandas/Arrow UDFs, no per-row Python): all scoring is NumPy GEMM over
Arrow batches.  GEMM accumulates doubles in a different order than the
oracle's sequential fold, so floats are never value-compared: every
cross-engine-compared column is an integer (ids, ranks), and decision
thresholds (COS_TAU) are chosen >= 6e-4 away from any data value so a
~1e-14 summation-order wobble cannot flip a row.

Two operators, both scoreboard rows:

* `cosine_near_dup` (V1) — EXACT all-pairs via block-GEMM: vectors are
  bucketed into BLOCK-sized blocks, the (upper-triangle) block-pair grid
  becomes the shuffle key, and each (bi, bj) group multiplies two
  ~(BLOCK x dim) matrices in one `applyInPandas`.  O(n^2/BLOCK^2)
  evenly-sized tasks, no hot keys; BLOCK sets task granularity vs
  replication (each vector ships to n/BLOCK block-pairs).
* `ann_ivf` (V4) — IVF-flat top-K with a deterministic integer coarse
  quantizer (LCG centroids).  Assignment dots are computed on
  floor(1000*x) integer embeddings — exact int64 arithmetic in both
  engines, so cell assignment is bit-for-bit reproducible (no float
  argmax ties across engines).  Queries probe their NPROBE best cells;
  exact cosine rescoring of candidates only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..functions.util import fan_out

DIM = 64

COS_TAU = 0.46  # near-dup threshold; >= 6e-4 from any sf0.01 pair value
BLOCK = 1024  # block-GEMM block size (rows per block)

QUERY_MOD = 50  # queries = vec_id % QUERY_MOD == 0


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fan_out(_emb_scan(spark, sf_dir))


def _emb_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _mat(col: pd.Series) -> np.ndarray:
    """pandas Series of float lists -> (n, DIM) float64 matrix."""
    return np.array([np.asarray(v, dtype=np.float64) for v in col], dtype=np.float64)


_SQL_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _sql_dot(a: str, b: str) -> str:
    return _SQL_DOT.format(a=a, b=b)


# ---------------------------------------------------------------------------
# V1 — embedding-cosine near-duplicate pairs (exact, block-GEMM)
# ---------------------------------------------------------------------------


def cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine >= COS_TAU, exactly, via the block-GEMM
    shape described in the module header."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    e = e.withColumn("blk", (F.col("vec_id") / BLOCK).cast("int"))
    n_blocks = e.agg(F.max("blk")).collect()[0][0] + 1

    grid = [(bi, bj) for bi in range(n_blocks) for bj in range(bi, n_blocks)]
    pairs = spark.createDataFrame(grid, "bi int, bj int")

    left = e.join(F.broadcast(pairs), F.col("blk") == F.col("bi")).select(
        "bi", "bj", F.lit(0).alias("side"), "vec_id", "embedding"
    )
    right = e.join(F.broadcast(pairs), F.col("blk") == F.col("bj")).select(
        "bi", "bj", F.lit(1).alias("side"), "vec_id", "embedding"
    )
    both = left.unionAll(right)

    out_schema = StructType(
        [StructField("a_id", LongType()), StructField("b_id", LongType())]
    )

    def score(key, pdf: pd.DataFrame):
        bi, bj = key
        la = pdf[pdf["side"] == 0]
        lb = pdf[pdf["side"] == 1] if bi != bj else la
        if len(la) == 0 or len(lb) == 0:
            return pd.DataFrame({"a_id": [], "b_id": []}).astype({"a_id": "int64", "b_id": "int64"})
        A = _mat(la["embedding"])
        B = _mat(lb["embedding"])
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
        cos = An @ Bn.T
        ia, ib = np.nonzero(cos >= COS_TAU)
        a_ids = la["vec_id"].to_numpy()[ia]
        b_ids = lb["vec_id"].to_numpy()[ib]
        keep = a_ids < b_ids  # dedupe diagonal block + orient pairs
        return pd.DataFrame({"a_id": a_ids[keep], "b_id": b_ids[keep]})

    return (
        both.groupBy("bi", "bj")
        .applyInPandas(score, schema=out_schema)
        .repartition(1).sortWithinPartitions("a_id", "b_id")
    )


def cosine_near_dup_sql() -> str:
    dot = _sql_dot("a.embedding", "b.embedding")
    na = _sql_dot("a.embedding", "a.embedding")
    nb = _sql_dot("b.embedding", "b.embedding")
    return f"""
SELECT a.vec_id AS a_id, b.vec_id AS b_id
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {dot} / sqrt(({na}) * ({nb})) >= {COS_TAU}
ORDER BY a_id, b_id
"""


# ---------------------------------------------------------------------------
# V4 — IVF-flat ANN with a deterministic integer coarse quantizer
# ---------------------------------------------------------------------------

N_CELLS = 16
NPROBE = 2
IVF_TOPK = 5
IVF_SCALE = 1000.0  # embeddings quantize as floor(x * 1000) for assignment


def _centroids() -> np.ndarray:
    """(N_CELLS, DIM) integer-valued centroids (LCG; identical literal in
    SQL).  Integer centroids x floor-quantized embeddings keep assignment
    dots EXACT int64 — a float argmax could tie-flip across engines."""
    c = np.arange(N_CELLS)[:, None]
    d = np.arange(DIM)[None, :]
    return (((1103515245 * (c * DIM + d + 7919) + 54321) % 2001) - 1000).astype(np.float64)


def _with_ivf_cell(e: DataFrame, nprobe: int = 1) -> DataFrame:
    """Map-only IVF assignment: (vec_id, embedding, cell) with one row per
    probed cell — nprobe=1 for the corpus (its home cell), nprobe>1 for
    queries (ranked by assignment score desc, cell asc)."""
    cents = _centroids()
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", e.schema["embedding"].dataType),
            StructField("cell", IntegerType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = _mat(pdf["embedding"])
            Mq = np.floor(M * IVF_SCALE)  # exact: same float64 op + floor in SQL
            scores = Mq @ cents.T  # integer-valued float64, exact (< 2^53)
            # stable argsort: ties rank by ascending cell id (matches the
            # oracle's ORDER BY score DESC, cell ASC)
            order = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
            n = len(pdf)
            out = pdf[["vec_id", "embedding"]].iloc[
                np.repeat(np.arange(n), nprobe)
            ].copy()
            out["cell"] = order.ravel().astype(np.int32)
            yield out

    return e.mapInPandas(gen, schema=schema)


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-K via IVF-flat: corpus assigned to its home cell
    (map-only), queries probe their NPROBE best cells, candidates equi-join
    on cell, exact cosine rescoring + window top-K.  Sublinear, with
    data-independent deterministic centroids; swap
    _centroids() for trained k-means means to tune recall — the plan
    shape (map-only assign, bucket equi-join, rescore-candidates-only)
    is the 10^12-row production path."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    corpus = _with_ivf_cell(e, nprobe=1)
    probes = _with_ivf_cell(e.where(F.col("vec_id") % QUERY_MOD == 0), nprobe=NPROBE).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq"), "cell"
    )
    cand = (
        corpus.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "eq", "embedding")
    )

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("vec_id", LongType()),
            StructField("cos", DoubleType()),
        ]
    )

    def rescore(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = _mat(pdf["eq"])
            B = _mat(pdf["embedding"])
            cos = np.einsum("ij,ij->i", A, B) / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            )
            yield pd.DataFrame(
                {"query_id": pdf["query_id"], "vec_id": pdf["vec_id"], "cos": cos}
            )

    scored = cand.mapInPandas(rescore, schema=schema)
    win = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= IVF_TOPK)
        .select("query_id", "rank", "vec_id")
        .repartition(1).sortWithinPartitions("query_id", "rank")
    )


def ann_ivf_sql() -> str:
    cents = _centroids().astype(int)
    cent_lits = ", ".join(
        "[" + ", ".join(str(v) for v in row) + "]" for row in cents
    )
    int_dot = (
        "list_sum(list_transform(range(1, len({a}) + 1),"
        " i -> CAST(floor(CAST({a}[i] AS DOUBLE) * 1000.0) AS BIGINT) * cents[{c}][i]))"
    )
    score_exprs = ", ".join(
        "CAST(" + int_dot.format(a="embedding", c=c + 1) + " AS BIGINT)"
        for c in range(N_CELLS)
    )
    dot = _sql_dot("q.eq", "e.embedding")
    return f"""
WITH ct AS (SELECT [{cent_lits}] AS cents),
sc AS (
  SELECT vec_id, embedding, [{score_exprs}] AS s
  FROM embeddings, ct
),
corpus AS (
  SELECT vec_id, embedding, list_position(s, list_max(s)) - 1 AS cell FROM sc
),
qsc AS (
  SELECT vec_id AS query_id, embedding AS eq, g.c AS cell, s[g.c + 1] AS score
  FROM sc, generate_series(0, {N_CELLS - 1}) AS g(c)
  WHERE vec_id % {QUERY_MOD} = 0
),
probes AS (
  SELECT query_id, eq, cell FROM (
    SELECT query_id, eq, cell,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, cell ASC) AS pr
    FROM qsc) WHERE pr <= {NPROBE}
),
scored AS (
  SELECT q.query_id, e.vec_id,
         {dot} / sqrt(({_sql_dot('q.eq', 'q.eq')}) * ({_sql_dot('e.embedding', 'e.embedding')})) AS cos
  FROM probes q JOIN corpus e ON e.cell = q.cell AND e.vec_id <> q.query_id
)
SELECT query_id, rank, vec_id FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {IVF_TOPK} ORDER BY query_id, rank
"""
