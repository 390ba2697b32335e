"""Pixel codecs as vectorized pandas UDFs (Arrow transport, no per-row
Python — BASELINE.json.input_hint mandate).

Reference analog: the GDAL dtype handling inside
georaster/georaster.py :: read_single_band / simple_write_geotiff
(≈L370-1060 ⚠ UNVERIFIED — SURVEY §0/§2.1 R10/R6).  The sandbox has no
GDAL/PIL, so formats are self-defined (FIXTURES.md §2): 'raw' (uint8),
'raw16' (uint16-LE), 'qnt' (uint8 quantized step 4 at encode).

The scalar NumPy kernels live in georaster_spark.oracle
(encode_pixels/decode_pixels); these UDFs batch them over Arrow.

Design note (SURVEY §4.3): operators FUSE decode with their pixel
computation inside one applyInPandas/pandas_udf rather than materialising
decoded arrays between stages — `bytes` crosses JVM->Python once per
stage, and queries that don't touch pixels never deserialize it (column
pruning).  The UDFs here are for codec-level use (stats, verification).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from .. import oracle

_KNOWN_FMTS = frozenset({"raw", "raw16", "qnt"})


def _raw16_mask(fmt: pd.Series) -> np.ndarray:
    """bool mask of raw16 rows; raises on fmt values outside the codec set
    (an unknown fmt would otherwise silently decode as uint8 and produce a
    wrong-but-plausible result)."""
    vals = fmt.to_numpy(dtype=object)
    bad = sorted({v for v in vals if v not in _KNOWN_FMTS})
    if bad:
        raise ValueError(f"unknown pixel fmt(s) {bad!r}; expected one of {sorted(_KNOWN_FMTS)}")
    return np.fromiter((v == "raw16" for v in vals), dtype=bool, count=len(vals))


@F.pandas_udf(DoubleType())
def pixel_mean(data: pd.Series, w: pd.Series, h: pd.Series, fmt: pd.Series) -> pd.Series:
    """Mean pixel value per tile — fused decode + reduce, one Arrow batch.

    Batched by (byte-length, dtype) group: rows of equal tile size decode
    as ONE `frombuffer(concat).reshape(n, npix)` and reduce with a single
    vectorized `mean(axis=1)` instead of a per-row Python loop (~5-10x on
    uniform-tile batches; ragged leftovers still take the row path).
    """
    out = np.empty(len(data), dtype=np.float64)
    lens = np.fromiter((len(b) for b in data), dtype=np.int64, count=len(data))
    is16 = _raw16_mask(fmt)
    for dtype, mask16 in ((np.uint8, ~is16), ("<u2", is16)):
        for n_bytes in np.unique(lens[mask16]):
            idx = np.nonzero(mask16 & (lens == n_bytes))[0]
            if len(idx) == 1:
                k = int(idx[0])
                out[k] = float(
                    np.frombuffer(data.iat[k], dtype=dtype).mean(dtype=np.float64)
                )
            else:
                block = np.frombuffer(
                    b"".join(data.iat[int(k)] for k in idx), dtype=dtype
                ).reshape(len(idx), -1)
                out[idx] = block.mean(axis=1, dtype=np.float64)
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def psnr_after_qnt(data: pd.Series, w: pd.Series, h: pd.Series, fmt: pd.Series) -> pd.Series:
    """Fused quantize+PSNR (op E10 hot path): PSNR(dB) between a tile and
    its 'qnt' re-encoding, computed from `bytes` ALONE — the quantizer is
    elementwise, so the quantized payload is never materialized and pixel
    bytes cross the JVM->Python Arrow boundary ONCE.  Bit-identical to
    oracle.psnr against a materialized 'qnt' re-encode, which as two UDFs
    shipped the pixels across Arrow three times (re-encode out, then both
    payloads back in) and was the dominant cost of q_verification_report.

    Vectorized by (byte-length, dtype) group like pixel_mean; identical
    tiles (already-quantized 'qnt' input — the quantizer is idempotent)
    map inf -> 99.0 so SQL aggregation stays finite.
    """
    n = len(data)
    out = np.empty(n, dtype=np.float64)
    is16 = _raw16_mask(fmt)
    lens = np.fromiter((len(b) for b in data), dtype=np.int64, count=n)
    for dtype, mask in ((np.uint8, ~is16), ("<u2", is16)):
        for n_bytes in np.unique(lens[mask]):
            idx = np.nonzero(mask & (lens == n_bytes))[0]
            block = np.frombuffer(
                b"".join(data.iat[int(k)] for k in idx), dtype=dtype
            ).reshape(len(idx), -1)
            # encode_pixels(arr, 'qnt') casts to uint8 first, then the
            # mid-tread quantizer — replicate exactly (oracle.encode_pixels).
            q = oracle.quantize(block.astype(np.uint8))
            diff = block.astype(np.float64) - q.astype(np.float64)
            mse = np.mean(diff * diff, axis=1)
            with np.errstate(divide="ignore"):
                p = 10.0 * np.log10((255.0 * 255.0) / mse)
            out[np.asarray(idx)] = np.where(mse == 0.0, 99.0, p)
    return pd.Series(out)
