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

Scale shapes (10^12 rows):

* `cosine_near_dup` — EXACT all-pairs via block-GEMM: vectors are
  bucketed into fixed-size blocks, the (upper-triangle) block-pair grid
  becomes the shuffle key, and each (bi, bj) group multiplies two
  ~(B x dim) matrices in one `applyInPandas`.  O(n^2/B^2) evenly-sized
  tasks, no hot keys; B tunes task granularity vs replication (each
  vector ships to n/B block-pairs).
* `ann_topk_brute` — exact top-K, FULLY DISTRIBUTED block-GEMM: queries
  and corpus split into value-derived blocks (no counting job, no driver
  collect), every (query-block, corpus-block) grid cell multiplies two
  bounded matrices in one applyInPandas task and emits its per-cell
  top-K per query; a final window finishes the exact global top-K.
  Corpus replication = #query-blocks — the knob that bounds task size;
  nothing is ever gathered to the driver.
* `ann_lsh` — the sublinear path: random-hyperplane bucketing (one
  GEMM against a constant plane matrix, map-only), hamming-1 multiprobe
  on the query side, bucket equi-join, exact rescoring of candidates
  only.
* `ann_ivf` — the production ANN: IVF-flat with a deterministic integer
  coarse quantizer (LCG centroids).  Assignment dots are computed on
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

TOPK = 10
QUERY_MOD = 50  # queries = vec_id % QUERY_MOD == 0

# deterministic integer hyperplanes (LCG), identical formula in SQL
N_PLANES = 8
LSH_TOPK = 5


def _planes() -> np.ndarray:
    p = np.arange(N_PLANES)[:, None]
    d = np.arange(DIM)[None, :]
    return (((1103515245 * (p * DIM + d + 1) + 12345) % 2001) - 1000).astype(np.float64)


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


def cosine_near_dup(spark: SparkSession, sf_dir: str, block: int = BLOCK) -> DataFrame:
    """All pairs with cosine >= COS_TAU, exactly, via the block-GEMM
    shape described in the module header."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    e = e.withColumn("blk", (F.col("vec_id") / block).cast("int"))
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
# V2 — brute-force cosine top-k (the exact ANN baseline)
# ---------------------------------------------------------------------------


CBLOCK = 2048  # corpus rows per GEMM grid cell
QBLOCK = 4096  # query rows per GEMM grid cell


def ann_topk_brute(
    spark: SparkSession, sf_dir: str, cblock: int = CBLOCK, qblock: int = QBLOCK
) -> DataFrame:
    """Exact top-K cosine neighbors for the query subset (vec_id %
    QUERY_MOD == 0), self excluded; ties broken by vec_id.

    Distributed block-GEMM (module header): block ids derive from vec_id
    (pure Column math — no counting job); each side is replicated across
    the other side's blocks via a broadcast of the distinct block ids,
    every (qb, cb) grid cell GEMMs a (<=qblock, DIM) x (DIM, <=cblock)
    pair in one applyInPandas task and emits only its per-cell top-K per
    query, and one final window finishes the exact global top-K.  No
    driver-side collect anywhere — the prior shape toPandas()'d the
    query subset (corpus/QUERY_MOD rows: linear driver OOM at 10^12)."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    q = e.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id"),
        F.col("embedding"),
        (F.col("vec_id") / (QUERY_MOD * qblock)).cast("int").alias("qb"),
    )
    c = e.withColumn("cb", (F.col("vec_id") / cblock).cast("int"))
    qblks = q.select("qb").distinct()
    cblks = c.select("cb").distinct()
    left = c.crossJoin(F.broadcast(qblks)).select(
        "qb", "cb", F.lit(0).alias("side"), "vec_id", "embedding"
    )
    right = q.crossJoin(F.broadcast(cblks)).select(
        "qb", "cb", F.lit(1).alias("side"), "vec_id", "embedding"
    )
    both = left.unionByName(right)

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("vec_id", LongType()),
            StructField("cos", DoubleType()),
        ]
    )
    k = TOPK

    def score(key, pdf: pd.DataFrame):
        cp = pdf[pdf["side"] == 0]
        qp = pdf[pdf["side"] == 1]
        if len(cp) == 0 or len(qp) == 0:
            return pd.DataFrame({"query_id": [], "vec_id": [], "cos": []}).astype(
                {"query_id": "int64", "vec_id": "int64", "cos": "float64"}
            )
        C = _mat(cp["embedding"])
        Q = _mat(qp["embedding"])
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        cos = Qn @ Cn.T  # (q, c)
        cids = cp["vec_id"].to_numpy()
        qids = qp["vec_id"].to_numpy()
        cos[qids[:, None] == cids[None, :]] = -np.inf  # exclude self
        kk = min(k, cos.shape[1])
        top = np.argpartition(-cos, kk - 1, axis=1)[:, :kk]
        rows_q = np.repeat(qids, kk)
        rows_v = cids[top.ravel()]
        rows_c = np.take_along_axis(cos, top, axis=1).ravel()
        keep = np.isfinite(rows_c)
        return pd.DataFrame(
            {"query_id": rows_q[keep], "vec_id": rows_v[keep], "cos": rows_c[keep]}
        )

    scored = both.groupBy("qb", "cb").applyInPandas(score, schema=schema)
    win = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= TOPK)
        .select("query_id", "rank", "vec_id")
        .repartition(1).sortWithinPartitions("query_id", "rank")
    )


def ann_topk_brute_sql() -> str:
    dot = _sql_dot("q.embedding", "e.embedding")
    nq = _sql_dot("q.embedding", "q.embedding")
    ne = _sql_dot("e.embedding", "e.embedding")
    return f"""
SELECT query_id, rank, vec_id FROM (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {dot} / sqrt(({nq}) * ({ne})) DESC, e.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
  WHERE q.vec_id % {QUERY_MOD} = 0)
WHERE rank <= {TOPK} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# V3 — LSH-bucketed ANN (the sublinear scale path)
# ---------------------------------------------------------------------------


def _with_bucket(e: DataFrame) -> DataFrame:
    """Map-only: hyperplane sign bucket per vector (one small GEMM per
    Arrow batch against the constant plane matrix)."""
    planes = _planes()
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", e.schema["embedding"].dataType),
            StructField("bucket", IntegerType()),
        ]
    )

    def gen(batches):
        weights = 1 << np.arange(N_PLANES)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = _mat(pdf["embedding"])
            bits = (M @ planes.T) > 0  # (n, P)
            pdf = pdf[["vec_id", "embedding"]].copy()
            pdf["bucket"] = (bits * weights).sum(axis=1).astype(np.int32)
            yield pdf

    return e.mapInPandas(gen, schema=schema)


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-K: bucket corpus once, queries probe their bucket
    + all hamming-1 buckets, exact cosine rescoring of candidates only."""
    e = _with_bucket(_emb(spark, sf_dir).select("vec_id", "embedding"))
    q = e.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("eq"),
        F.col("bucket").alias("qb"),
    )
    probes = q.select(
        "query_id",
        "eq",
        F.explode(
            F.array_union(
                F.array(F.col("qb")),
                F.array(*[F.col("qb").bitwiseXOR(F.lit(1 << p)) for p in range(N_PLANES)]),
            )
        ).alias("bucket"),
    )
    cand = (
        e.join(F.broadcast(probes), "bucket")
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
        .where(F.col("rank") <= LSH_TOPK)
        .select("query_id", "rank", "vec_id")
        .repartition(1).sortWithinPartitions("query_id", "rank")
    )


def ann_lsh_sql() -> str:
    planes = _planes().astype(int)
    plane_lits = ", ".join(
        "[" + ", ".join(f"{v}.0" for v in plane) + "]" for plane in planes
    )
    bucket_expr = " + ".join(
        f"(CASE WHEN {_sql_dot('embedding', f'planes[{p + 1}]')} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    probe_exprs = ", ".join(f"xor(qb, {1 << p})" for p in range(N_PLANES))
    dot = _sql_dot("q.eq", "e.embedding")
    return f"""
WITH pl AS (SELECT [{plane_lits}] AS planes),
b AS (
  SELECT vec_id, embedding, {bucket_expr} AS bucket
  FROM embeddings, pl
),
q AS (
  SELECT vec_id AS query_id, embedding AS eq, bucket AS qb
  FROM b WHERE vec_id % {QUERY_MOD} = 0
),
probes AS (
  SELECT query_id, eq, unnest(list_distinct([qb, {probe_exprs}])) AS bucket FROM q
),
scored AS (
  SELECT q.query_id, e.vec_id,
         {dot} / sqrt(({_sql_dot('q.eq', 'q.eq')}) * ({_sql_dot('e.embedding', 'e.embedding')})) AS cos
  FROM probes q JOIN b e ON e.bucket = q.bucket AND e.vec_id <> q.query_id
)
SELECT query_id, rank, vec_id FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {LSH_TOPK} ORDER BY query_id, rank
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
    on cell, exact cosine rescoring + window top-K.  Sublinear like
    ann_lsh but with data-independent deterministic centroids; swap
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


# ---------------------------------------------------------------------------
# V5 — scalar-quantized (SQ8) ANN + recall gate (the 4x-bandwidth path)
# ---------------------------------------------------------------------------

SQ_LEVELS = 255  # uint8 codes 0..255


def _sq_dims(e: DataFrame):
    """Global per-dim (min, range) of the floor(1000x) integer embeddings
    — ONE partial+final agg over posexploded dims (64 groups, map-side
    combine), then a bounded 64-row driver collect (planner metadata,
    same class as the skew census)."""
    xi = F.floor(F.col("v").cast("double") * IVF_SCALE).cast("long")
    rows = (
        e.select(F.posexplode("embedding").alias("d", "v"))
        .select("d", xi.alias("x"))
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    mn = np.zeros(DIM, dtype=np.int64)
    rg = np.zeros(DIM, dtype=np.int64)
    for r in rows:
        mn[r["d"]] = r["mn"]
        rg[r["d"]] = r["mx"] - r["mn"]
    return mn, rg


def ann_sq8(
    spark: SparkSession, sf_dir: str, cblock: int = CBLOCK, qblock: int = QBLOCK
) -> DataFrame:
    """SQ8 compression recall gate: per-dim min-max scalar quantization of
    the floor(1000x) integer embeddings to uint8 codes (the FAISS
    SQ8 / IndexScalarQuantizer idea — 4x less memory bandwidth per
    scanned vector, THE lever when an exact scan at 10^12 rows is
    bandwidth-bound), then exact top-K under the SHIFTED integer dot
    Σ(x−mn)·(c−mn) vs top-K under the quantized-code dot, per-query
    overlap, and the corpus-level recall histogram.  Both rankings are
    pure int64 arithmetic with vec_id tie-break — bit-reproducible
    cross-engine, so the gate row is hash-exact: the approximate answer
    is audited against its exact twin in the same row.

    Plan shape: the dims agg above, then ONE block-GEMM pass in the
    ann_topk_brute grid (no counting job, no driver collect of vectors)
    computing BOTH dot matrices per (qb, cb) cell — the raw and quantized
    rankings share one shuffle and one Arrow hop.  Per-cell top-K uses a
    composite (dot desc, vec_id asc) lexsort: integer dots tie often, so
    a dot-only argpartition could cut the K boundary wrong."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    mn, rg = _sq_dims(e)
    rg_safe = np.where(rg > 0, rg, 1)

    q = e.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id"),
        F.col("embedding"),
        (F.col("vec_id") / (QUERY_MOD * qblock)).cast("int").alias("qb"),
    )
    c = e.withColumn("cb", (F.col("vec_id") / cblock).cast("int"))
    qblks = q.select("qb").distinct()
    cblks = c.select("cb").distinct()
    left = c.crossJoin(F.broadcast(qblks)).select(
        "qb", "cb", F.lit(0).alias("side"), "vec_id", "embedding"
    )
    right = q.crossJoin(F.broadcast(cblks)).select(
        "qb", "cb", F.lit(1).alias("side"), "vec_id", "embedding"
    )
    both = left.unionByName(right)

    schema = StructType(
        [
            StructField("metric", IntegerType()),
            StructField("query_id", LongType()),
            StructField("vec_id", LongType()),
            StructField("dot", LongType()),
        ]
    )
    k = TOPK

    def _codes(M: np.ndarray):
        y = np.floor(M * IVF_SCALE).astype(np.int64) - mn[None, :]
        qc = (y * SQ_LEVELS) // rg_safe[None, :]
        return y, np.where(rg[None, :] > 0, qc, 0)

    def score(key, pdf: pd.DataFrame):
        cp = pdf[pdf["side"] == 0]
        qp = pdf[pdf["side"] == 1]
        out = {"metric": [], "query_id": [], "vec_id": [], "dot": []}
        if len(cp) and len(qp):
            yc, qc = _codes(_mat(cp["embedding"]))
            yq, qq = _codes(_mat(qp["embedding"]))
            cids = cp["vec_id"].to_numpy()
            qids = qp["vec_id"].to_numpy()
            self_m = qids[:, None] == cids[None, :]
            for metric, (A, B) in enumerate(((yq, yc), (qq, qc))):
                dots = A @ B.T  # int64-exact (bounds in docstring audit)
                kk = min(k, dots.shape[1])
                for i in range(dots.shape[0]):
                    row = dots[i]
                    valid = ~self_m[i]
                    order = np.lexsort((cids[valid], -row[valid]))[:kk]
                    vv = cids[valid][order]
                    dd = row[valid][order]
                    out["metric"].extend([metric] * len(vv))
                    out["query_id"].extend([int(qids[i])] * len(vv))
                    out["vec_id"].extend(vv.tolist())
                    out["dot"].extend(dd.tolist())
        return pd.DataFrame(out).astype(
            {"metric": "int32", "query_id": "int64", "vec_id": "int64", "dot": "int64"}
        )

    scored = both.groupBy("qb", "cb").applyInPandas(score, schema=schema)
    win = Window.partitionBy("metric", "query_id").orderBy(
        F.col("dot").desc(), F.col("vec_id").asc()
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= TOPK)
        .select("metric", "query_id", "vec_id")
    )
    exact = topk.where(F.col("metric") == 0).select("query_id", "vec_id")
    approx = topk.where(F.col("metric") == 1).select(
        F.col("query_id").alias("aq"), F.col("vec_id").alias("av")
    )
    ov = (
        exact.join(
            approx,
            (F.col("query_id") == F.col("aq")) & (F.col("vec_id") == F.col("av")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("av").alias("overlap"))
    )
    return (
        ov.groupBy("overlap")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("query_id").alias("query_checksum"),
        )
        .repartition(1).sortWithinPartitions("overlap")
    )


def ann_sq8_sql() -> str:
    d = DIM
    xi = (
        "list_transform(embedding,"
        " v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0) AS BIGINT))"
    )
    ydot = (
        f"list_sum(list_transform(range(1, {d} + 1),"
        " i -> a.y[i] * b.y[i]))"
    )
    qdot = (
        f"list_sum(list_transform(range(1, {d} + 1),"
        " i -> a.q[i] * b.q[i]))"
    )
    return f"""
WITH xi AS (SELECT vec_id, {xi} AS x FROM embeddings),
dims AS (
  SELECT g.d AS d, MIN(x[g.d]) AS mn, MAX(x[g.d]) - MIN(x[g.d]) AS rg
  FROM xi, generate_series(1, {d}) AS g(d) GROUP BY g.d
),
mnr AS (
  SELECT list(mn ORDER BY d) AS mn, list(rg ORDER BY d) AS rg FROM dims
),
codes AS (
  SELECT vec_id,
         list_transform(range(1, {d} + 1), i -> x[i] - mn[i]) AS y,
         list_transform(range(1, {d} + 1),
           i -> CASE WHEN rg[i] > 0
                THEN ((x[i] - mn[i]) * {SQ_LEVELS}) // rg[i] ELSE 0 END) AS q
  FROM xi, mnr
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {ydot} DESC, b.vec_id ASC) AS rank
    FROM codes a JOIN codes b ON b.vec_id <> a.vec_id
    WHERE a.vec_id % {QUERY_MOD} = 0)
  WHERE rank <= {TOPK}
),
approx AS (
  SELECT query_id, vec_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {qdot} DESC, b.vec_id ASC) AS rank
    FROM codes a JOIN codes b ON b.vec_id <> a.vec_id
    WHERE a.vec_id % {QUERY_MOD} = 0)
  WHERE rank <= {TOPK}
),
ov AS (
  SELECT e.query_id, COUNT(x.vec_id) AS overlap
  FROM exact e LEFT JOIN approx x
    ON x.query_id = e.query_id AND x.vec_id = e.vec_id
  GROUP BY e.query_id
)
SELECT overlap, CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(query_id) AS BIGINT) AS query_checksum
FROM ov GROUP BY overlap ORDER BY overlap
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------




# ---------------------------------------------------------------------------
# V6 — SemDeDup: cluster-then-near-dup semantic deduplication (round 3)
# ---------------------------------------------------------------------------


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (Abbas et al., "SemDeDup" — PAPERS.md):
    cluster the embedding space with the IVF coarse quantizer, then
    within every cluster drop each vector that has a SMALLER-id neighbor
    with cosine >= COS_TAU (the order-free variant of SemDeDup\'s greedy
    keep-one; order-free => engine-independent).  Output per cluster:
    member count, survivor count, and the exact Σ vec_id survivor
    checksum so the driver hash pins the survivor SET.

    Plan: map-only integer-exact cell assignment (shared with ann_ivf),
    ONE groupBy(cell) applyInPandas whose GEMM touches only within-
    cluster pairs — O(Σ|cell|²) instead of O(n²), the whole point of
    cluster-first dedup at 10^9+ rows.  Cluster-size skew is the knob:
    production caps cells via finer quantizers (more centroids), same
    plan shape.  COS_TAU is >= 6e-4 from every sf0.01 pair cosine, so
    the float GEMM cannot flip a decision vs the oracle\'s fold."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    corpus = _with_ivf_cell(e, nprobe=1)

    schema = StructType(
        [
            StructField("cell", IntegerType()),
            StructField("n_members", LongType()),
            StructField("n_survivors", LongType()),
            StructField("survivors_checksum", LongType()),
        ]
    )

    def dedup(key, pdf: pd.DataFrame):
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        M = _mat(pdf["embedding"].iloc[order])
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        cos = Mn @ Mn.T
        killed = np.triu(cos >= COS_TAU, k=1).any(axis=0)
        surv = ids[~killed]
        return pd.DataFrame(
            {
                "cell": [key[0]],
                "n_members": [len(ids)],
                "n_survivors": [len(surv)],
                "survivors_checksum": [int(surv.sum())],
            }
        )

    return (
        corpus.groupBy("cell")
        .applyInPandas(dedup, schema=schema)
        .repartition(1).sortWithinPartitions("cell")
    )


def semdedup_sql() -> str:
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
    dot = _sql_dot("a.embedding", "b.embedding")
    na = _sql_dot("a.embedding", "a.embedding")
    nb = _sql_dot("b.embedding", "b.embedding")
    return f"""
WITH ct AS (SELECT [{cent_lits}] AS cents),
sc AS (
  SELECT vec_id, embedding, [{score_exprs}] AS s
  FROM embeddings, ct
),
corpus AS (
  SELECT vec_id, embedding, list_position(s, list_max(s)) - 1 AS cell FROM sc
),
killed AS (
  SELECT DISTINCT b.vec_id
  FROM corpus a JOIN corpus b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {dot} / sqrt(({na}) * ({nb})) >= {COS_TAU}
)
SELECT cell,
       COUNT(*) AS n_members,
       CAST(SUM(CASE WHEN k.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_survivors,
       CAST(SUM(CASE WHEN k.vec_id IS NULL THEN c.vec_id ELSE 0 END) AS BIGINT)
         AS survivors_checksum
FROM corpus c LEFT JOIN killed k USING (vec_id)
GROUP BY cell ORDER BY cell
"""


# ---------------------------------------------------------------------------
# V7 — Product-quantization ANN (ADC scan) (round 3)
# ---------------------------------------------------------------------------

PQ_M = 16         # subspaces (DIM 64 -> 4 dims each)
PQ_K = 16         # centroids per subspace (4-bit codes)
PQ_SUB = DIM // PQ_M
PQ_TOPK = 5


def _pq_codebooks() -> np.ndarray:
    """(PQ_M, PQ_K, PQ_SUB) integer-valued codebooks (LCG; identical
    literal in SQL).  Integer centroids x floor-quantized embeddings
    keep every assignment / ADC distance an exact int64 — a float
    argmin could tie-flip across engines.  Production swaps these for
    trained per-subspace k-means codebooks; plan shape is unchanged."""
    m = np.arange(PQ_M)[:, None, None]
    c = np.arange(PQ_K)[None, :, None]
    d = np.arange(PQ_SUB)[None, None, :]
    seed = (m * PQ_K + c) * PQ_SUB + d + 104729
    # range +-125 ~ the per-dim spread of unit-norm 64-dim embeddings
    # after the floor(x*1000) quantization -- centroids must live ON the
    # data's scale or every subspace argmin collapses to the few
    # smallest-norm centroids and the ADC ranking degenerates
    return (((1103515245 * seed + 12345) % 251) - 125).astype(np.float64)


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011 — PAPERS.md): corpus
    vectors encode to PQ_M 4-bit codes (map-only, one pass), queries
    scan the CODES with asymmetric distance computation (ADC) — the
    memory-bound production path that shrinks a 256-byte float vector
    to 2 bytes and never touches raw corpus floats at query time.
    Top-PQ_TOPK per query by exact integer ADC distance, ties by
    vec_id.

    Exactness: embeddings quantize as floor(x*1000) and codebooks are
    integer-valued, so subspace argmin (ties -> smallest code) and ADC
    sums are exact int64 in every engine.  Plan: encode is map-only;
    the scored scan is one broadcast of the tiny query set against the
    code table (the classic PQ linear scan; compose with _with_ivf_cell
    for IVF-PQ cell pruning at 10^12 rows); TakeOrdered top-k via
    window."""
    cbs = _pq_codebooks()
    e = _emb(spark, sf_dir).select("vec_id", "embedding")

    code_schema = StructType(
        [StructField("vec_id", LongType())]
        + [StructField(f"c{m}", IntegerType()) for m in range(PQ_M)]
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.floor(_mat(pdf["embedding"]) * IVF_SCALE)
            out = {"vec_id": pdf["vec_id"]}
            for m in range(PQ_M):
                sub = M[:, m * PQ_SUB:(m + 1) * PQ_SUB]
                # exact integer squared distances; argmin ties -> first
                d2 = (
                    (sub * sub).sum(axis=1, keepdims=True)
                    - 2.0 * sub @ cbs[m].T
                    + (cbs[m] * cbs[m]).sum(axis=1)[None, :]
                )
                out[f"c{m}"] = np.argmin(d2, axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    codes = e.mapInPandas(encode, schema=code_schema)
    q = e.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq")
    )
    cand = codes.join(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))

    adc_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("vec_id", LongType()),
            StructField("adc", LongType()),
        ]
    )

    def adc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.floor(_mat(pdf["eq"]) * IVF_SCALE)
            dist = np.zeros(len(pdf), dtype=np.int64)
            for m in range(PQ_M):
                qsub = Q[:, m * PQ_SUB:(m + 1) * PQ_SUB]
                cent = cbs[m][pdf[f"c{m}"].to_numpy()]
                diff = qsub - cent
                dist += (diff * diff).sum(axis=1).astype(np.int64)
            yield pd.DataFrame(
                {"query_id": pdf["query_id"], "vec_id": pdf["vec_id"], "adc": dist}
            )

    scored = cand.mapInPandas(adc, schema=adc_schema)
    win = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= PQ_TOPK)
        .select("query_id", "rank", "vec_id", "adc")
        .repartition(1).sortWithinPartitions("query_id", "rank")
    )


def ann_pq_sql() -> str:
    cbs = _pq_codebooks().astype(int)
    cb_lits = ", ".join(
        "[" + ", ".join(
            "[" + ", ".join(str(v) for v in cent) + "]" for cent in cbs[m]
        ) + "]"
        for m in range(PQ_M)
    )

    def qdim(col: str, m: int, i: str) -> str:
        return f"CAST(floor(CAST({col}[{m * PQ_SUB} + {i}] AS DOUBLE) * 1000.0) AS BIGINT)"

    def subdist(col: str, m: int, c: str) -> str:
        q = qdim(col, m, "i")
        return (
            f"list_sum(list_transform(range(1, {PQ_SUB} + 1),"
            f" i -> ({q} - cbs[{m + 1}][{c}][i])"
            f" * ({q} - cbs[{m + 1}][{c}][i])))"
        )

    code_cols = ", ".join(
        f"list_position(l{m}, list_min(l{m})) - 1 AS c{m}" for m in range(PQ_M)
    )
    dist_lists = ", ".join(
        "[" + ", ".join(
            f"CAST({subdist('embedding', m, str(c + 1))} AS BIGINT)"
            for c in range(PQ_K)
        ) + f"] AS l{m}"
        for m in range(PQ_M)
    )
    adc = " + ".join(
        f"CAST({subdist('q.eq', m, f'e.c{m} + 1')} AS BIGINT)" for m in range(PQ_M)
    )
    return f"""
WITH cb AS (SELECT [{cb_lits}] AS cbs),
dl AS (
  SELECT vec_id, embedding, {dist_lists}
  FROM embeddings, cb
),
codes AS (
  SELECT vec_id, {code_cols} FROM dl
),
scored AS (
  SELECT q.query_id, e.vec_id, {adc} AS adc
  FROM (SELECT vec_id AS query_id, embedding AS eq FROM embeddings
        WHERE vec_id % {QUERY_MOD} = 0) q,
       codes e, cb
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, rank, vec_id, adc FROM (
  SELECT query_id, vec_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, vec_id ASC) AS rank
  FROM scored) WHERE rank <= {PQ_TOPK}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# V8 — distributed Lloyd's k-means (3 unrolled rounds) (round 3)
# ---------------------------------------------------------------------------

KM_K = 8           # clusters
KM_SEED_STRIDE = 61  # init: centroids = quantized vectors of vec_id 0,61,...
KM_ROUNDS = 3      # fixed unroll (deterministic; no convergence check)


def kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding table, KM_ROUNDS
    fixed rounds, INTEGER-EXACT so the CTE-unrolled SQL oracle replays
    it bit-for-bit: vectors quantize as floor(x*1000); assignment is
    exact integer L2 argmin (ties -> smallest cluster id); the update
    is element-wise SUM // COUNT integer floor division; an empty
    cluster keeps its previous centroid.  Init = the quantized vectors
    of vec_id 0, 61, 122, ... (k-means|| in production; same plan).

    This is the clustering stage of cluster-then-dedup curation
    (SemDeDup's k-means step) as a first-class operator.  Per round:
    ONE map-only assign pass (centroids broadcast in the closure — 8x64
    ints) + ONE combiner-friendly groupBy(k) update whose output is K
    rows collected to the driver (bounded planner metadata, the
    standard distributed-k-means shape).  Output per cluster: member
    count, exact integer inertia Σ d², and the position-weighted
    centroid checksum pinning every final coordinate."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")

    seeds = {
        int(r["vec_id"]) // KM_SEED_STRIDE: np.floor(
            np.asarray(r["embedding"], dtype=np.float64) * IVF_SCALE
        )
        for r in e.where(
            (F.col("vec_id") % KM_SEED_STRIDE == 0)
            & (F.col("vec_id") < KM_SEED_STRIDE * KM_K)
        ).collect()
    }
    cents = np.stack([seeds[k] for k in range(KM_K)])

    assign_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("k", IntegerType()),
            StructField("d2", LongType()),
        ]
    )
    sum_schema = StructType(
        [StructField("k", IntegerType())]
        + [StructField(f"s{d}", LongType()) for d in range(DIM)]
        + [StructField("n", LongType())]
    )

    def make_assign(cb: np.ndarray):
        def _assign(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = np.floor(_mat(pdf["embedding"]) * IVF_SCALE)
                d2 = (
                    (Q * Q).sum(axis=1, keepdims=True)
                    - 2.0 * Q @ cb.T
                    + (cb * cb).sum(axis=1)[None, :]
                )
                k = np.argmin(d2, axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "k": k.astype(np.int32),
                        "d2": d2[np.arange(len(pdf)), k].astype(np.int64),
                    }
                )

        return _assign

    def upd(key, pdf: pd.DataFrame):
        Q = np.floor(_mat(pdf["embedding"]) * IVF_SCALE).astype(np.int64)
        row = {"k": [key[0]], "n": [len(pdf)]}
        s = Q.sum(axis=0)
        for d in range(DIM):
            row[f"s{d}"] = [int(s[d])]
        return pd.DataFrame(row)

    assign = None
    for _ in range(KM_ROUNDS):
        assign = e.mapInPandas(make_assign(cents.copy()), schema=assign_schema)
        stats = (
            assign.join(e, "vec_id")
            .groupBy("k")
            .applyInPandas(upd, schema=sum_schema)
            .collect()
        )
        new = cents.copy()  # empty cluster keeps its previous centroid
        for r in stats:
            new[r["k"]] = np.array(
                [r[f"s{d}"] // r["n"] for d in range(DIM)], dtype=np.float64
            )
        cents = new

    final = assign.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d2").alias("inertia"),
    )
    cksum = [
        (k, int(sum(int(cents[k, d]) * (d + 1) for d in range(DIM))))
        for k in range(KM_K)
    ]
    ck = spark.createDataFrame(cksum, "k int, cent_checksum long")
    return (
        ck.join(final, "k", "left")
        .select(
            "k",
            F.coalesce("n_members", F.lit(0)).alias("n_members"),
            F.coalesce("inertia", F.lit(0)).alias("inertia"),
            "cent_checksum",
        )
        .repartition(1).sortWithinPartitions("k")
    )


def kmeans_embed_sql() -> str:
    d2 = (
        "list_sum(list_transform(range(1, {n} + 1),"
        " i -> (e.q[i] - c.cent[i]) * (e.q[i] - c.cent[i])))"
    ).format(n=DIM)
    it = """
d{r} AS (
  SELECT e.vec_id, c.k, {d2} AS d2 FROM eq e, c{p} c
),
a{r} AS (
  SELECT vec_id, k, d2 FROM (
    SELECT vec_id, k, d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
    FROM d{r}) WHERE rn = 1
),
u{r} AS (
  -- +1000 shift keeps the numerator nonnegative: DuckDB's // truncates
  -- toward zero while the engine's Python // floors; they agree on
  -- nonnegative operands (q[i] >= -1000 for unit-norm embeddings)
  SELECT a.k, g.i,
         CAST(SUM(e.q[g.i] + 1000) // COUNT(*) - 1000 AS BIGINT) AS s
  FROM a{r} a JOIN eq e USING (vec_id), generate_series(1, {dim}) AS g(i)
  GROUP BY a.k, g.i
),
c{r} AS (
  SELECT p.k, COALESCE(n.cent, p.cent) AS cent
  FROM c{p} p LEFT JOIN
       (SELECT k, list(s ORDER BY i) AS cent FROM u{r} GROUP BY k) n
    USING (k)
)"""
    rounds = ",".join(
        it.format(r=r, p=r - 1, d2=d2, dim=DIM) for r in range(1, KM_ROUNDS + 1)
    )
    R = KM_ROUNDS
    return f"""
WITH eq AS (
  SELECT vec_id,
         list_transform(range(1, {DIM} + 1),
           i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0) AS BIGINT)) AS q
  FROM embeddings
),
c0 AS (
  SELECT CAST(vec_id // {KM_SEED_STRIDE} AS INT) AS k, q AS cent
  FROM eq WHERE vec_id % {KM_SEED_STRIDE} = 0
    AND vec_id < {KM_SEED_STRIDE * KM_K}
),{rounds}
SELECT c.k,
       CAST(COALESCE(m.n_members, 0) AS BIGINT) AS n_members,
       CAST(COALESCE(m.inertia, 0) AS BIGINT) AS inertia,
       CAST(list_sum(list_transform(range(1, {DIM} + 1),
              i -> c.cent[i] * i)) AS BIGINT) AS cent_checksum
FROM c{R} c LEFT JOIN
     (SELECT k, COUNT(*) AS n_members, SUM(d2) AS inertia
      FROM a{R} GROUP BY k) m USING (k)
ORDER BY c.k
"""


# ---------------------------------------------------------------------------
# V9 — IVF-PQ: cell-pruned asymmetric-distance scan (round 3)
# ---------------------------------------------------------------------------


def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production ANN composition (FAISS IndexIVFPQ;
    Jégou et al. 2011): the IVF coarse quantizer prunes the scan to the
    query's NPROBE cells, and within them distances come from PQ codes
    via ADC — so query cost is sublinear AND the scanned payload is 8
    bytes/vector, never the raw floats.  Exactly composes the two
    oracle-checked stages: _with_ivf_cell (integer argmax assignment)
    and ann_pq's integer codebooks (exact int64 ADC).  Top-PQ_TOPK per
    query by (adc, vec_id).

    Plan: corpus encodes ONCE map-only into (cell, 16 codes); probes
    broadcast; ONE equi-join on cell; ADC rescoring touches only
    in-cell candidates — at 10^12 rows this is the shape that holds:
    bucket-pruned candidate generation plus compressed-domain
    rescoring, with the cell key doubling as the partition key."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    cbs = _pq_codebooks()

    corpus = _with_ivf_cell(e, nprobe=1)

    code_schema = StructType(
        [StructField("vec_id", LongType()), StructField("cell", IntegerType())]
        + [StructField(f"c{m}", IntegerType()) for m in range(PQ_M)]
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.floor(_mat(pdf["embedding"]) * IVF_SCALE)
            out = {"vec_id": pdf["vec_id"], "cell": pdf["cell"]}
            for m in range(PQ_M):
                sub = M[:, m * PQ_SUB:(m + 1) * PQ_SUB]
                d2 = (
                    (sub * sub).sum(axis=1, keepdims=True)
                    - 2.0 * sub @ cbs[m].T
                    + (cbs[m] * cbs[m]).sum(axis=1)[None, :]
                )
                out[f"c{m}"] = np.argmin(d2, axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    codes = corpus.mapInPandas(encode, schema=code_schema)
    probes = _with_ivf_cell(
        e.where(F.col("vec_id") % QUERY_MOD == 0), nprobe=NPROBE
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq"), "cell")
    cand = codes.join(F.broadcast(probes), "cell").where(
        F.col("vec_id") != F.col("query_id")
    )

    adc_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("vec_id", LongType()),
            StructField("adc", LongType()),
        ]
    )

    def adc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.floor(_mat(pdf["eq"]) * IVF_SCALE)
            dist = np.zeros(len(pdf), dtype=np.int64)
            for m in range(PQ_M):
                qsub = Q[:, m * PQ_SUB:(m + 1) * PQ_SUB]
                cent = cbs[m][pdf[f"c{m}"].to_numpy()]
                diff = qsub - cent
                dist += (diff * diff).sum(axis=1).astype(np.int64)
            yield pd.DataFrame(
                {"query_id": pdf["query_id"], "vec_id": pdf["vec_id"], "adc": dist}
            )

    scored = cand.mapInPandas(adc, schema=adc_schema)
    win = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= PQ_TOPK)
        .select("query_id", "rank", "vec_id", "adc")
        .repartition(1).sortWithinPartitions("query_id", "rank")
    )


def ann_ivfpq_sql() -> str:
    # compose the IVF assignment CTEs (from ann_ivf_sql) with the PQ
    # code/ADC CTEs (from ann_pq_sql)
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
    cbs = _pq_codebooks().astype(int)
    cb_lits = ", ".join(
        "[" + ", ".join(
            "[" + ", ".join(str(v) for v in cent) + "]" for cent in cbs[m]
        ) + "]"
        for m in range(PQ_M)
    )

    def qdim(col: str, m: int, i: str) -> str:
        return f"CAST(floor(CAST({col}[{m * PQ_SUB} + {i}] AS DOUBLE) * 1000.0) AS BIGINT)"

    def subdist(col: str, m: int, c: str) -> str:
        q = qdim(col, m, "i")
        return (
            f"list_sum(list_transform(range(1, {PQ_SUB} + 1),"
            f" i -> ({q} - cbs[{m + 1}][{c}][i])"
            f" * ({q} - cbs[{m + 1}][{c}][i])))"
        )

    code_cols = ", ".join(
        f"list_position(l{m}, list_min(l{m})) - 1 AS c{m}" for m in range(PQ_M)
    )
    dist_lists = ", ".join(
        "[" + ", ".join(
            f"CAST({subdist('embedding', m, str(c + 1))} AS BIGINT)"
            for c in range(PQ_K)
        ) + f"] AS l{m}"
        for m in range(PQ_M)
    )
    adc = " + ".join(
        f"CAST({subdist('q.eq', m, f'e.c{m} + 1')} AS BIGINT)" for m in range(PQ_M)
    )
    return f"""
WITH ct AS (SELECT [{cent_lits}] AS cents),
cb AS (SELECT [{cb_lits}] AS cbs),
sc AS (
  SELECT vec_id, embedding, [{score_exprs}] AS s
  FROM embeddings, ct
),
corpus AS (
  SELECT vec_id, embedding, list_position(s, list_max(s)) - 1 AS cell FROM sc
),
codes AS (
  SELECT vec_id, cell, {code_cols} FROM (
    SELECT vec_id, cell, {dist_lists} FROM corpus, cb
  )
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
  SELECT q.query_id, e.vec_id, {adc} AS adc
  FROM probes q JOIN codes e USING (cell), cb
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, rank, vec_id, adc FROM (
  SELECT query_id, vec_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, vec_id ASC) AS rank
  FROM scored) WHERE rank <= {PQ_TOPK}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# V10 — Johnson-Lindenstrauss ±1 projection, integer-exact distortion audit
# ---------------------------------------------------------------------------

JL_P = 16        # projected dimensionality
JL_SCALE = 1024  # embeddings quantized to floor(x * JL_SCALE) first
JL_PAIR_MOD = 29  # audited pairs: consecutive query vectors


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 sign matrix (JL_P x DIM) from md5 parity —
    md5 because an LCG-bit matrix is visibly auto-correlated here (the
    first draft used one and single-pair distortions hit 45x); the
    signs are inlined as LITERALS into both engines, so the formula
    never has to be re-expressed in SQL."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"jl{j}:{d}".encode()).digest()[0] % 2 == 0 else -1
            for d in range(DIM)
        ]
        for j in range(JL_P)
    ]


def jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection distortion audit
    (Achlioptas 2003 ±1 database-friendly variant — the dimensionality
    reduction every embedding pipeline reaches for before ANN): vectors
    are quantized to integers (floor(x·JL_SCALE)), projected to JL_P
    dims by a fixed ±1 sign matrix, and for audited vector pairs the
    squared-distance distortion of the projection is reported as EXACT
    integer ppm: 10⁶·‖Δy‖² // (JL_P·‖Δx‖²) — for a dense ±1 matrix
    E[‖SΔx‖²] = P·‖Δx‖² (no DIM factor — that belongs to coordinate
    SAMPLING, not sign projections), no float ever computed.  int64
    bound: |x|<1 ⇒ |Δy| ≤ 2·DIM·JL_SCALE ≈ 1.3e5, so the ppm
    numerator tops out near 1.7e16 < 2^63.

    Scale shape: quantize+project is map-only Column math (F.aggregate
    folds over the array — zero UDF); audited pairs are consecutive
    query-subset vectors joined on an equi key, so the audit is one
    slim join, never an all-pairs blowup."""
    signs = _jl_signs()
    e = _emb(spark, sf_dir).where(F.col("vec_id") % JL_PAIR_MOD == 0)
    xq = F.transform(
        F.col("embedding"), lambda v: F.floor(v.cast("double") * JL_SCALE).cast("long")
    )
    e = e.select("vec_id", xq.alias("xq"))
    proj = [
        F.aggregate(
            F.zip_with(
                F.col("xq"),
                F.array(*[F.lit(sv) for sv in signs[j]]),
                lambda x, sv: x * sv,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias(f"y{j}")
        for j in range(JL_P)
    ]
    p = e.select("vec_id", (F.col("vec_id") / JL_PAIR_MOD).cast("long").alias("k"), "xq", *proj)
    a = p.alias("a")
    b = p.alias("b")
    j = a.join(b, F.col("a.k") + 1 == F.col("b.k"))
    dx2 = F.aggregate(
        F.zip_with(F.col("a.xq"), F.col("b.xq"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dy2 = sum(
        (
            (F.col(f"a.y{jj}") - F.col(f"b.y{jj}"))
            * (F.col(f"a.y{jj}") - F.col(f"b.y{jj}"))
            for jj in range(1, JL_P)
        ),
        (F.col("a.y0") - F.col("b.y0")) * (F.col("a.y0") - F.col("b.y0")),
    )
    return (
        j.select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            dx2.alias("dx2"),
            dy2.alias("dy2"),
        )
        .where(F.col("dx2") > 0)
        .select(
            "id1",
            "id2",
            "dx2",
            "dy2",
            F.expr(f"div(1000000 * dy2, {JL_P} * dx2)").alias("distortion_ppm"),
        )
        .repartition(1).sortWithinPartitions("id1")
    )


def jl_projection_sql() -> str:
    signs = _jl_signs()
    ys = ", ".join(
        "list_sum(list_transform(range(1, %d + 1), i -> xq[i] * ([%s])[i]))"
        % (DIM, ",".join(str(sv) for sv in signs[j]))
        for j in range(JL_P)
    )
    return f"""
WITH q AS (
  SELECT vec_id, CAST(vec_id // {JL_PAIR_MOD} AS BIGINT) AS k,
         list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * {JL_SCALE}) AS BIGINT)) AS xq
  FROM embeddings WHERE vec_id % {JL_PAIR_MOD} = 0
),
p AS (SELECT vec_id, k, xq, [{ys}] AS y FROM q)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       CAST(list_sum(list_transform(range(1, {DIM} + 1),
              i -> (a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i]))) AS BIGINT) AS dx2,
       CAST(list_sum(list_transform(range(1, {JL_P} + 1),
              j -> (a.y[j] - b.y[j]) * (a.y[j] - b.y[j]))) AS BIGINT) AS dy2,
       CAST((1000000 * list_sum(list_transform(range(1, {JL_P} + 1),
              j -> (a.y[j] - b.y[j]) * (a.y[j] - b.y[j]))))
            // ({JL_P} * list_sum(list_transform(range(1, {DIM} + 1),
              i -> (a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i])))) AS BIGINT)
         AS distortion_ppm
FROM p a JOIN p b ON a.k + 1 = b.k
WHERE list_sum(list_transform(range(1, {DIM} + 1),
        i -> (a.xq[i] - b.xq[i]) * (a.xq[i] - b.xq[i]))) > 0
ORDER BY id1
"""


# ---------------------------------------------------------------------------
# V11 — truncated-dimension recall audit (Matryoshka-style)
# ---------------------------------------------------------------------------

TRUNC_DIM = 32  # rank with the first half of the dims


def dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension retrieval recall audit (the Matryoshka /
    MRL question: how much of exact top-K survives if only the first
    TRUNC_DIM of DIM dims are stored?): per query, exact cosine top-K
    under BOTH metrics in one block-GEMM pass, then the overlap count.

    Output is integer-only (ranks and overlap counts) — floats never
    reach the hash, the same determinism posture as ann_topk_brute.

    Scale shape: identical to ann_topk_brute's grid block-GEMM (each
    (qb, cb) cell emits per-cell top-K for BOTH metrics — one Arrow
    pass, not two); two windows finish the global top-Ks; the overlap
    is a self-join on (query, neighbor) + one count agg."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    q = e.where(F.col("vec_id") % QUERY_MOD == 0).select(
        "vec_id",
        "embedding",
        (F.col("vec_id") / (QUERY_MOD * QBLOCK)).cast("int").alias("qb"),
    )
    c = e.withColumn("cb", (F.col("vec_id") / CBLOCK).cast("int"))
    qblks = q.select("qb").distinct()
    cblks = c.select("cb").distinct()
    left = c.crossJoin(F.broadcast(qblks)).select(
        "qb", "cb", F.lit(0).alias("side"), "vec_id", "embedding"
    )
    right = q.crossJoin(F.broadcast(cblks)).select(
        "qb", "cb", F.lit(1).alias("side"), "vec_id", "embedding"
    )
    both = left.unionByName(right)

    schema = StructType(
        [
            StructField("metric", LongType()),  # 0 = full, 1 = truncated
            StructField("query_id", LongType()),
            StructField("vec_id", LongType()),
            StructField("cos", DoubleType()),
        ]
    )
    k = TOPK

    def score(key, pdf: pd.DataFrame):
        cp = pdf[pdf["side"] == 0]
        qp = pdf[pdf["side"] == 1]
        if len(cp) == 0 or len(qp) == 0:
            return pd.DataFrame(
                {"metric": [], "query_id": [], "vec_id": [], "cos": []}
            ).astype({"metric": "int64", "query_id": "int64", "vec_id": "int64", "cos": "float64"})
        C = _mat(cp["embedding"])
        Q = _mat(qp["embedding"])
        cids = cp["vec_id"].to_numpy()
        qids = qp["vec_id"].to_numpy()
        out = []
        for metric, dim in ((0, DIM), (1, TRUNC_DIM)):
            Ct = C[:, :dim]
            Qt = Q[:, :dim]
            Cn = Ct / np.linalg.norm(Ct, axis=1, keepdims=True)
            Qn = Qt / np.linalg.norm(Qt, axis=1, keepdims=True)
            cos = Qn @ Cn.T
            cos[qids[:, None] == cids[None, :]] = -np.inf
            kk = min(k, cos.shape[1])
            top = np.argpartition(-cos, kk - 1, axis=1)[:, :kk]
            rows_c = np.take_along_axis(cos, top, axis=1).ravel()
            keep = np.isfinite(rows_c)
            out.append(
                pd.DataFrame(
                    {
                        "metric": metric,
                        "query_id": np.repeat(qids, kk)[keep],
                        "vec_id": cids[top.ravel()][keep],
                        "cos": rows_c[keep],
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    scored = both.groupBy("qb", "cb").applyInPandas(score, schema=schema)
    win = Window.partitionBy("metric", "query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    top = (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= TOPK)
        .select("metric", "query_id", "vec_id")
    )
    full = top.where(F.col("metric") == 0).select("query_id", "vec_id")
    trunc = top.where(F.col("metric") == 1).select(
        F.col("query_id").alias("q2"), F.col("vec_id").alias("v2")
    )
    hits = full.join(
        trunc,
        (F.col("query_id") == F.col("q2")) & (F.col("vec_id") == F.col("v2")),
        "left_semi",
    )
    per_q = full.groupBy("query_id").agg(F.count(F.lit(1)).alias("k_full"))
    per_h = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_common"))
    return (
        per_q.join(per_h, "query_id", "left")
        .select(
            "query_id",
            "k_full",
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
        )
        .repartition(1).sortWithinPartitions("query_id")
    )


def dim_truncation_recall_sql() -> str:
    def dott(a, b, dim):
        return (
            f"list_sum(list_transform(range(1, {dim} + 1),"
            f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        )

    def ranked(metric, dim):
        d = dott("q.embedding", "e.embedding", dim)
        nq = dott("q.embedding", "q.embedding", dim)
        ne = dott("e.embedding", "e.embedding", dim)
        return f"""
  SELECT {metric} AS metric, q.vec_id AS query_id, e.vec_id AS vec_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {d} / sqrt(({nq}) * ({ne})) DESC, e.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
  WHERE q.vec_id % {QUERY_MOD} = 0"""

    return f"""
WITH t AS (
  SELECT * FROM ({ranked(0, DIM)}) WHERE rank <= {TOPK}
  UNION ALL
  SELECT * FROM ({ranked(1, TRUNC_DIM)}) WHERE rank <= {TOPK}
)
SELECT f.query_id,
       COUNT(*) AS k_full,
       CAST(SUM(CASE WHEN EXISTS (
         SELECT 1 FROM t x WHERE x.metric = 1
           AND x.query_id = f.query_id AND x.vec_id = f.vec_id)
         THEN 1 ELSE 0 END) AS BIGINT) AS n_common
FROM t f WHERE f.metric = 0
GROUP BY f.query_id ORDER BY f.query_id
"""


# ---------------------------------------------------------------------------
# V12 — IVF nprobe tuning sweep (candidates vs recall curve)
# ---------------------------------------------------------------------------

SWEEP_MAX_NPROBE = 3
SWEEP_K = 5


def ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe tuning curve (the FAISS-practitioner question 'how
    many cells must I probe for recall X?'): for nprobe = 1..3, the
    candidate volume and the exact recall@5 against the brute-force
    truth, as one row per operating point — the measurement a 100 TB
    deployment runs on a sample before fixing its ANN config.

    Scale shape: probes are generated ONCE at the max nprobe with their
    probe rank attached; candidates for smaller nprobe are a filter,
    not a re-join.  The truth set is the standard block-GEMM top-K; the
    sweep rollup is a ≤3-key agg.  Candidate counting never rescores —
    only the truth pass touches float cosines."""
    cents = _centroids()
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    corpus = _with_ivf_cell(e, nprobe=1)

    q = e.where(F.col("vec_id") % QUERY_MOD == 0)
    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("eq", e.schema["embedding"].dataType),
            StructField("cell", IntegerType()),
            StructField("pr", IntegerType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = _mat(pdf["embedding"])
            Mq = np.floor(M * IVF_SCALE)
            scores = Mq @ cents.T
            order = np.argsort(-scores, axis=1, kind="stable")[:, :SWEEP_MAX_NPROBE]
            n = len(pdf)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(pdf["vec_id"].to_numpy(), SWEEP_MAX_NPROBE),
                    "eq": list(pdf["embedding"].iloc[np.repeat(np.arange(n), SWEEP_MAX_NPROBE)]),
                    "cell": order.ravel().astype(np.int32),
                    "pr": np.tile(np.arange(1, SWEEP_MAX_NPROBE + 1, dtype=np.int32), n),
                }
            )
            yield out

    probes = q.mapInPandas(gen, schema=schema)
    cand = (
        corpus.join(F.broadcast(probes.select("query_id", "cell", "pr")), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.min("pr").alias("pr_min"))
    )

    # exact truth: brute top-K over the (tiny) query set x corpus
    qb = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq"))
    cross = e.crossJoin(F.broadcast(qb)).where(F.col("vec_id") != F.col("query_id"))

    tschema = StructType(
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

    win = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    truth = (
        cross.mapInPandas(rescore, schema=tschema)
        .withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= SWEEP_K)
        .select("query_id", "vec_id")
    )
    nq = q.agg(F.count(F.lit(1)).alias("n_queries"))
    hits = truth.join(cand, ["query_id", "vec_id"], "left").select(
        F.coalesce(F.col("pr_min"), F.lit(99)).alias("pr_min")
    )
    rows = []
    for np_ in range(1, SWEEP_MAX_NPROBE + 1):
        c = cand.where(F.col("pr_min") <= np_).agg(
            F.count(F.lit(1)).alias("n_candidates")
        )
        h = hits.agg(
            F.sum((F.col("pr_min") <= np_).cast("long")).alias("n_hits")
        )
        rows.append(
            c.crossJoin(h)
            .crossJoin(F.broadcast(nq))
            .select(
                F.lit(np_).cast("long").alias("nprobe"),
                "n_candidates",
                "n_hits",
                "n_queries",
                F.expr(f"div(1000000 * n_hits, {SWEEP_K} * n_queries)").alias(
                    "recall_ppm"
                ),
            )
        )
    res = rows[0]
    for df in rows[1:]:
        res = res.unionByName(df)
    return res.repartition(1).sortWithinPartitions("nprobe")


def ivf_nprobe_sweep_sql() -> str:
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
    sweeps = " UNION ALL ".join(
        f"""
SELECT {np_} AS nprobe,
       (SELECT COUNT(*) FROM cand WHERE pr_min <= {np_}) AS n_candidates,
       (SELECT SUM(CASE WHEN pr_min <= {np_} THEN 1 ELSE 0 END) FROM hits) AS n_hits,
       (SELECT COUNT(*) FROM qset) AS n_queries"""
        for np_ in range(1, SWEEP_MAX_NPROBE + 1)
    )
    return f"""
WITH ct AS (SELECT [{cent_lits}] AS cents),
sc AS (SELECT vec_id, embedding, [{score_exprs}] AS s FROM embeddings, ct),
corpus AS (
  SELECT vec_id, embedding, list_position(s, list_max(s)) - 1 AS cell FROM sc
),
qset AS (SELECT vec_id FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
qsc AS (
  SELECT vec_id AS query_id, embedding AS eq, g.c AS cell, s[g.c + 1] AS score
  FROM sc, generate_series(0, {N_CELLS - 1}) AS g(c)
  WHERE vec_id % {QUERY_MOD} = 0
),
probes AS (
  SELECT query_id, eq, cell, pr FROM (
    SELECT query_id, eq, cell,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, cell ASC) AS pr
    FROM qsc) WHERE pr <= {SWEEP_MAX_NPROBE}
),
cand AS (
  SELECT p.query_id, e.vec_id, MIN(p.pr) AS pr_min
  FROM probes p JOIN corpus e ON e.cell = p.cell AND e.vec_id <> p.query_id
  GROUP BY p.query_id, e.vec_id
),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_sql_dot('q.embedding', 'e.embedding')}
               / sqrt(({_sql_dot('q.embedding', 'q.embedding')})
                    * ({_sql_dot('e.embedding', 'e.embedding')})) DESC,
               e.vec_id ASC) AS rank
    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
    WHERE q.vec_id % {QUERY_MOD} = 0)
  WHERE rank <= {SWEEP_K}
),
hits AS (
  SELECT COALESCE(c.pr_min, 99) AS pr_min
  FROM truth t LEFT JOIN cand c
    ON t.query_id = c.query_id AND t.vec_id = c.vec_id
)
SELECT CAST(nprobe AS BIGINT) AS nprobe,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_hits AS BIGINT) AS n_hits,
       CAST(n_queries AS BIGINT) AS n_queries,
       CAST((1000000 * n_hits) // ({SWEEP_K} * n_queries) AS BIGINT) AS recall_ppm
FROM ({sweeps}) ORDER BY nprobe
"""


# ---------------------------------------------------------------------------
# V13 — 1-bit (sign) binary quantization + Hamming top-k with recall audit
# ---------------------------------------------------------------------------

BQ_TOPK = 5


def ann_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized retrieval (1-bit sign embeddings + Hamming
    ranking — the 64x-compression end of the quantization spectrum
    after SQ8 and PQ; the modern 'binary embeddings' serving trick):
    the first 63 sign bits pack into ONE int64 word (bit 63 stays
    clear: a 1<<63 shift overflows DuckDB's checked BIGINT and wraps
    negative in the JVM — not worth the cross-engine hazard for one
    dim), so the whole index is a long column, distance is
    bit_count(a XOR b) in pure codegen Column math (zero UDF in the
    scan), and per query the Hamming top-K plus its recall against
    exact cosine top-K is reported.

    Scale shape: encode is map-only (one aggregate fold per row); the
    scan is a broadcast of the query words against the corpus column —
    the cheapest possible rescore-free ANN sweep; ranking is one
    window; the truth pass reuses the ann grid convention."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    # bit d set iff embedding[d] >= 0; bits fold into one int64 word
    code = F.expr(
        "aggregate(sequence(0, %d), CAST(0 AS BIGINT),"
        " (acc, d) -> acc + IF(element_at(embedding, d + 1) >= 0,"
        " shiftleft(CAST(1 AS BIGINT), d), CAST(0 AS BIGINT)))" % (DIM - 2)
    )
    coded = e.select("vec_id", "embedding", code.alias("code"))
    coded = coded.localCheckpoint(eager=False)  # encode once: scan + truth share
    q = coded.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("qcode"),
        F.col("embedding").alias("eq"),
    )
    scan = coded.select("vec_id", "code").crossJoin(
        F.broadcast(q.select("query_id", "qcode"))
    ).where(F.col("vec_id") != F.col("query_id"))
    ham = scan.select(
        "query_id",
        "vec_id",
        F.expr("bit_count(code ^ qcode)").cast("long").alias("hamming"),
    )
    win = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    top = (
        ham.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= BQ_TOPK)
        .select("query_id", "vec_id", "hamming")
    )
    # exact truth for recall: brute cosine top-K over the tiny query set
    cross = coded.select("vec_id", "embedding").crossJoin(
        F.broadcast(q.select("query_id", "eq"))
    ).where(F.col("vec_id") != F.col("query_id"))

    tschema = StructType(
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

    twin = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    truth = (
        cross.mapInPandas(rescore, schema=tschema)
        .withColumn("rank", F.row_number().over(twin))
        .where(F.col("rank") <= BQ_TOPK)
        .select(F.col("query_id").alias("q2"), F.col("vec_id").alias("v2"))
    )
    hits = top.join(
        truth,
        (F.col("query_id") == F.col("q2")) & (F.col("vec_id") == F.col("v2")),
        "left_semi",
    ).groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
    per_q = top.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("hamming").alias("hamming_sum"),
        F.sum("vec_id").alias("top_checksum"),
    )
    return (
        per_q.join(hits, "query_id", "left")
        .select(
            "query_id",
            "k",
            "hamming_sum",
            "top_checksum",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        )
        .repartition(1).sortWithinPartitions("query_id")
    )


def ann_binary_hamming_sql() -> str:
    code = (
        "list_sum(list_transform(range(0, %d),"
        " d -> CASE WHEN embedding[d + 1] >= 0"
        " THEN (1::BIGINT << d) ELSE 0 END))" % (DIM - 1)
    )
    dot = _sql_dot("q.eq", "e.embedding")
    nq = _sql_dot("q.eq", "q.eq")
    ne = _sql_dot("e.embedding", "e.embedding")
    return f"""
WITH coded AS (
  SELECT vec_id, embedding, CAST({code} AS BIGINT) AS code FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, code AS qcode, embedding AS eq
  FROM coded WHERE vec_id % {QUERY_MOD} = 0
),
top AS (
  SELECT query_id, vec_id, hamming FROM (
    SELECT q.query_id, c.vec_id,
           bit_count(xor(c.code, q.qcode)) AS hamming,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY bit_count(xor(c.code, q.qcode)), c.vec_id)
             AS rank
    FROM coded c, q WHERE c.vec_id <> q.query_id)
  WHERE rank <= {BQ_TOPK}
),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {dot} / sqrt(({nq}) * ({ne})) DESC, e.vec_id ASC) AS rank
    FROM coded e, q WHERE e.vec_id <> q.query_id)
  WHERE rank <= {BQ_TOPK}
)
SELECT t.query_id,
       COUNT(*) AS k,
       CAST(SUM(t.hamming) AS BIGINT) AS hamming_sum,
       CAST(SUM(t.vec_id) AS BIGINT) AS top_checksum,
       CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM truth x
                 WHERE x.query_id = t.query_id AND x.vec_id = t.vec_id)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
FROM top t GROUP BY t.query_id ORDER BY t.query_id
"""


# ---------------------------------------------------------------------------
# V14 — cluster purity of the IVF partition against ground-truth labels
# ---------------------------------------------------------------------------


def ivf_cell_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-purity evaluation (the standard external clustering
    metric: majority-label fraction per cluster) of the IVF cell
    partition against the embeddings table's ground-truth `label`
    column: per cell its size, majority label, majority count and
    purity ppm, plus the deterministic (count DESC, label ASC) argmax.

    Scale shape: map-only cell assignment (the ann_ivf encoder), ONE
    (cell, label) count agg, argmax via max(struct) on the dims-sized
    relation — no windows over data-sized relations."""
    e = _emb_scan(spark, sf_dir).select("vec_id", "embedding", "label")
    coded = _with_ivf_cell(fan_out(e).select("vec_id", "embedding"), nprobe=1)
    j = coded.join(e.select("vec_id", "label"), "vec_id")
    cl = j.groupBy("cell", "label").agg(F.count(F.lit(1)).alias("c"))
    best = cl.groupBy("cell").agg(
        F.sum("c").alias("n_vecs"),
        F.max(F.struct(F.col("c"), (-F.col("label")).alias("neg"))).alias("m"),
    )
    return (
        best.select(
            F.col("cell").cast("long").alias("cell"),
            "n_vecs",
            (-F.col("m.neg")).cast("long").alias("majority_label"),
            F.col("m.c").alias("majority_n"),
            F.expr("div(1000000 * m.c, n_vecs)").alias("purity_ppm"),
        )
        .repartition(1).sortWithinPartitions("cell")
    )


def ivf_cell_purity_sql() -> str:
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
    return f"""
WITH ct AS (SELECT [{cent_lits}] AS cents),
sc AS (SELECT vec_id, label, [{score_exprs}] AS s FROM embeddings, ct),
corpus AS (SELECT vec_id, label, list_position(s, list_max(s)) - 1 AS cell FROM sc),
cl AS (SELECT cell, label, COUNT(*) AS c FROM corpus GROUP BY 1, 2),
best AS (
  SELECT cell, SUM(c) AS n_vecs,
         MAX((c, -label)) AS m
  FROM cl GROUP BY cell
)
SELECT CAST(cell AS BIGINT) AS cell,
       CAST(n_vecs AS BIGINT) AS n_vecs,
       CAST(-m[2] AS BIGINT) AS majority_label,
       CAST(m[1] AS BIGINT) AS majority_n,
       CAST((1000000 * m[1]) // n_vecs AS BIGINT) AS purity_ppm
FROM best ORDER BY cell
"""


# ---------------------------------------------------------------------------
# MMR — maximal-marginal-relevance diverse re-ranking
# ---------------------------------------------------------------------------

MMR_K = 8       # results to select
MMR_C = 24      # relevance-candidate pool the greedy loop reranks
MMR_QVEC = 0    # query = embedding of vec_id 0
MMR_LAM10 = 7   # lambda = 0.7 in tenths: score = 7*rel - 3*maxsim


def _q6(col: str) -> str:
    """ppm-floor quantization of one embedding element (SQL side)."""
    return f"CAST(floor(CAST({col} AS DOUBLE) * 1000000) AS BIGINT)"


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity pass every retrieval/RAG pipeline runs on its
    relevance candidates: greedily pick argmax of
    λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s).  Kept integer-exact:
    rel and sim are ppm-floor-quantized dot products and λ=0.7 is
    cross-multiplied to score = 7·rel − 3·maxsim, so the greedy
    trajectory is bit-identical across engines (ties fall to vec_id).

    Scale shape: the candidate pool is by definition small (a rerank
    stage, MMR_C rows) — the distributed work is the relevance top-C
    (map-only quantized dot + TakeOrdered against a 1-row broadcast
    query); the O(K·C) greedy runs executor-side in ONE applyInPandas
    group, never on the driver.  The DuckDB twin unrolls the K greedy
    steps as chained CTEs."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    qv = emb.where(F.col("vec_id") == MMR_QVEC).select(
        F.col("embedding").alias("q_emb")
    )
    rel = (
        emb.where(F.col("vec_id") != MMR_QVEC)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "embedding",
            F.expr(
                "aggregate(zip_with(embedding, q_emb,"
                " (a, b) -> floor(CAST(a AS DOUBLE) * 1000000)"
                "         * floor(CAST(b AS DOUBLE) * 1000000)),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("rel"),
        )
    )
    cand = rel.orderBy(F.col("rel").desc(), F.col("vec_id").asc()).limit(MMR_C)

    out_schema = "step int, vec_id long, mmr_score long"

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.lexsort((pdf["vec_id"].to_numpy(), -pdf["rel"].to_numpy()))
        pdf = pdf.iloc[order].reset_index(drop=True)
        Q = np.floor(_mat(pdf["embedding"]) * 1_000_000).astype(np.int64)
        rels = pdf["rel"].to_numpy(dtype=np.int64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        sims = Q @ Q.T
        selected: list[int] = []
        rows = []
        remaining = list(range(len(pdf)))
        for step in range(1, min(MMR_K, len(pdf)) + 1):
            best = None
            for i in remaining:
                maxsim = max((int(sims[i, j]) for j in selected), default=0)
                score = MMR_LAM10 * int(rels[i]) - (10 - MMR_LAM10) * maxsim
                key = (-score, int(ids[i]))
                if best is None or key < best[0]:
                    best = (key, i, score)
            _, pick, score = best
            remaining.remove(pick)
            selected.append(pick)
            rows.append({"step": step, "vec_id": int(ids[pick]), "mmr_score": score})
        return pd.DataFrame(rows)

    return (
        cand.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(lambda _, pdf: _greedy(pdf), schema=out_schema)
        .repartition(1).sortWithinPartitions("step")
    )


def mmr_rerank_sql() -> str:
    qa = _q6("ea.embedding[g.k]")
    qb = _q6("eb.embedding[g.k]")
    qe = _q6("e.embedding[g.k]")
    qq = _q6("qv.q[g.k]")
    lam, mu = MMR_LAM10, 10 - MMR_LAM10
    steps, unions, prev = [], [], []
    for i in range(1, MMR_K + 1):
        if prev:
            sel = " UNION ALL ".join(f"SELECT vec_id FROM s{j}" for j in prev)
            score = (
                f"{lam} * c.rel - {mu} * (SELECT MAX(sim) FROM sims"
                f" WHERE ai = c.vec_id AND bi IN ({sel}))"
            )
            cond = f"c.vec_id NOT IN ({sel})"
        else:
            score = f"{lam} * c.rel"
            cond = "TRUE"
        steps.append(
            f"s{i} AS MATERIALIZED (SELECT c.vec_id, {score} AS mmr_score"
            f" FROM cand c WHERE {cond}"
            f" ORDER BY mmr_score DESC, c.vec_id LIMIT 1)"
        )
        unions.append(f"SELECT {i} AS step, vec_id, mmr_score FROM s{i}")
        prev.append(i)
    return f"""
WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {MMR_QVEC}),
rel AS MATERIALIZED (
  SELECT e.vec_id, SUM({qe} * {qq}) AS rel
  FROM embeddings e, qv, generate_series(1, {DIM}) AS g(k)
  WHERE e.vec_id <> {MMR_QVEC} GROUP BY e.vec_id
),
cand AS MATERIALIZED (SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id LIMIT {MMR_C}),
sims AS MATERIALIZED (
  SELECT a.vec_id AS ai, b.vec_id AS bi, SUM({qa} * {qb}) AS sim
  FROM cand a JOIN embeddings ea ON ea.vec_id = a.vec_id,
       cand b JOIN embeddings eb ON eb.vec_id = b.vec_id,
       generate_series(1, {DIM}) AS g(k)
  WHERE a.vec_id <> b.vec_id GROUP BY a.vec_id, b.vec_id
),
{','.join(steps)}
SELECT CAST(step AS INT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(mmr_score AS BIGINT) AS mmr_score
FROM ({' UNION ALL '.join(unions)}) ORDER BY step
"""


# ---------------------------------------------------------------------------
# hard-negative mining (contrastive training data)
# ---------------------------------------------------------------------------

HNM_QMOD = 10  # queries: vec_id % HNM_QMOD == 0


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training — for each anchor
    embedding, the most similar vector with a DIFFERENT label (the
    negative that actually teaches the margin; random negatives are too
    easy).  Similarity is the ppm-floor-quantized dot product (same
    integer surface as mmr_rerank), ties broken by smallest vec_id, so
    the mined pair set is bit-stable across engines and parallelism.

    Scale shape: anchors are a keyed subset (vec_id % HNM_QMOD); the
    demo runs the exact anchors x corpus product with a label-differs
    filter pushed into the join, reduced by one min(struct) agg — at
    10^12 rows the corpus side is pre-bucketed by the LSH/IVF
    assignments (ann_lsh/ann_ivf) and the product only runs within
    buckets, the same candidate-generation idiom those operators ship."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding", "label")
    q = emb.where(F.col("vec_id") % HNM_QMOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    dot = F.expr(
        "aggregate(zip_with(embedding, q_emb,"
        " (a, b) -> floor(CAST(a AS DOUBLE) * 1000000)"
        "         * floor(CAST(b AS DOUBLE) * 1000000)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            "q_label",
            "vec_id",
            "label",
            dot.alias("dot"),
        )
    )
    best = pairs.groupBy("query_id", "q_label").agg(
        F.min(F.struct((-F.col("dot")).alias("nd"), F.col("vec_id").alias("v"))).alias(
            "b"
        )
    )
    out = best.select(
        "query_id",
        F.col("q_label").cast("int").alias("q_label"),
        F.col("b.v").alias("neg_id"),
        (-F.col("b.nd")).cast("long").alias("neg_dot"),
    )
    return out.repartition(1).sortWithinPartitions("query_id")


def hard_negative_mining_sql() -> str:
    qd = _q6("e.embedding[g.k]")
    qq = _q6("q.embedding[g.k]")
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding, label AS q_label
  FROM embeddings WHERE vec_id % {HNM_QMOD} = 0
),
dots AS (
  SELECT q.query_id, q.q_label, e.vec_id, SUM({qd} * {qq}) AS dot
  FROM embeddings e, q, generate_series(1, {DIM}) AS g(k)
  WHERE e.label <> q.q_label
  GROUP BY q.query_id, q.q_label, e.vec_id
)
SELECT query_id, CAST(q_label AS INT) AS q_label,
       CAST(arg_min(vec_id, -dot * 100000 + vec_id) AS BIGINT) AS neg_id,
       CAST(MAX(dot) AS BIGINT) AS neg_dot
FROM dots GROUP BY query_id, q_label ORDER BY query_id
"""


# ---------------------------------------------------------------------------
# Hubness census — k-occurrence skew, the high-dim curse diagnostic
# ---------------------------------------------------------------------------

HUB_K = 5


def hubness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness census (Radovanovic et al. JMLR 2010): with EVERY
    vector as a query, the k-occurrence N_k(x) = how many other
    vectors list x in their exact cosine top-5 — whose distribution
    skews into hubs and antihubs as dimension grows, silently biasing
    ANN ground truth and dedup. Emits the k-occurrence histogram
    (0-occurrence antihubs included via the zero-fill join) with a
    vec_id checksum per bucket.

    Scale shape: here the exact all-pairs rank (bounded corpus); at
    10^12 rows the same census runs over the ANN graph instead — the
    histogram shape is the shared diagnostic. Rank-only output keeps
    the float cosine out of the comparison surface, and the ranking
    itself is computed from ppm-quantized INTEGER dot/norm sums
    (integer addition is associative, so neither engine's fold order
    matters; the final cos is one exactly-rounded double expression
    of identical ints on both sides)."""
    # deterministic 500-vector audit slice: the k-occurrence histogram
    # SHAPE is the diagnostic; the exact all-pairs rank behind it is
    # quadratic, so the census pins a fixed slice at every sf (at
    # production scale the same census runs over the ANN graph).
    e = _emb(spark, sf_dir).where(F.col("vec_id") < 500).select(
        "vec_id", "embedding"
    )
    # quantize + self-norm ONCE PER VECTOR (n rows), not once per pair
    # (n² rows): the higher-order-fn exprs are CodegenFallback, so the
    # per-pair form paid ~3x interpreted array passes on 250k pairs.
    qe = e.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("qv"),
    ).withColumn(
        "nrm",
        F.expr(
            "aggregate(transform(qv, x -> x * x),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ),
    )
    a = qe.select(
        F.col("vec_id").alias("qa"), F.col("qv").alias("va"), F.col("nrm").alias("na")
    )
    b = qe.select(
        F.col("vec_id").alias("qb"), F.col("qv").alias("vb"), F.col("nrm").alias("nb")
    )
    dot = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    pairs = a.join(b, F.col("qa") != F.col("qb")).select(
        "qa",
        "qb",
        (
            dot.cast("double")
            / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
        ).alias("cos"),
    )
    w = Window.partitionBy("qa").orderBy(F.col("cos").desc(), F.col("qb").asc())
    top = pairs.select("qa", "qb", F.row_number().over(w).alias("rk")).where(
        F.col("rk") <= HUB_K
    )
    occ = top.groupBy("qb").agg(F.count(F.lit(1)).alias("n_occ"))
    filled = e.select(F.col("vec_id").alias("qb")).join(occ, "qb", "left").select(
        "qb", F.coalesce(F.col("n_occ"), F.lit(0)).alias("n_occ")
    )
    return (
        filled.groupBy("n_occ")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("qb").alias("vec_checksum"),
        )
        .repartition(1)
        .sortWithinPartitions("n_occ")
    )


def hubness_census_sql() -> str:
    def qsum(x: str, y: str) -> str:
        q = "CAST(floor(CAST({v} AS DOUBLE) * 1000000) AS BIGINT)"
        return (
            f"list_sum(list_transform(range(1, len({x}) + 1),"
            f" i -> {q.format(v=f'{x}[i]')} * {q.format(v=f'{y}[i]')}))"
        )

    dot = qsum("a.embedding", "b.embedding")
    na = qsum("a.embedding", "a.embedding")
    nb = qsum("b.embedding", "b.embedding")
    return f"""
WITH emb AS (SELECT * FROM embeddings WHERE vec_id < 500),
pairs AS (
  SELECT a.vec_id AS qa, b.vec_id AS qb,
         CAST(({dot}) AS DOUBLE)
           / sqrt(CAST(({na}) AS DOUBLE) * CAST(({nb}) AS DOUBLE)) AS cos
  FROM emb a JOIN emb b ON b.vec_id != a.vec_id
),
top AS (
  SELECT qa, qb FROM (
    SELECT qa, qb, row_number() OVER (PARTITION BY qa ORDER BY cos DESC, qb ASC) AS rk
    FROM pairs
  ) WHERE rk <= {HUB_K}
),
occ AS (SELECT qb, COUNT(*) AS n_occ FROM top GROUP BY qb),
filled AS (
  SELECT e.vec_id AS qb, COALESCE(n_occ, 0) AS n_occ
  FROM emb e LEFT JOIN occ ON occ.qb = e.vec_id
)
SELECT CAST(n_occ AS BIGINT) AS n_occ,
       COUNT(*) AS n_vectors,
       CAST(SUM(qb) AS BIGINT) AS vec_checksum
FROM filled GROUP BY n_occ ORDER BY n_occ
"""
