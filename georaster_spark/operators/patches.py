"""Training-patch extraction (A36) — ViT-style non-overlapping P x P
patch grid over each tile, emitted as one row per patch.

The first step of every vision-training pipeline: a tile corpus becomes
a patch dataset (w/P * h/P rows per tile) carrying the patch's grid
position, its world anchor, and integer-exact content summaries.  The
reference has no patch surface (it hands the user `self.r`,
`georaster/georaster.py :: SingleBandRaster.r` ≈L600-780 ⚠ UNVERIFIED,
SURVEY §0); slicing is manual NumPy.  Distributed, patching is a
map-only EXPLODING pass — each input row yields (w/P)*(h/P) output rows,
no shuffle, no join; downstream training shards re-partition the patch
table however the loader wants.

`patch_summaries` emits integer checksums rather than re-encoded patch
bytes, so patch pixels never cross the Arrow boundary twice just to be
hashed; a training sink that needs the bytes slices the same grid.

Vectorization: per (w,h,fmt) batch group, the (n, h, w) block is
reshaped to (n, h/P, P, w/P, P) and reduced with einsum over the
in-patch weight grid — per-tile Python, never per-patch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

_SUMMARY_SCHEMA = (
    "image_id string, pi int, pj int, patch_sum long, patch_checksum long, "
    "patch_min int, patch_max int"
)

_DT = {"raw": np.uint8, "qnt": np.uint8, "raw16": "<u2"}


def patch_summaries(tiles: DataFrame, p: int = 8) -> DataFrame:
    """One row per P x P patch: (image_id, pi, pj) grid position plus
    integer-exact content stats —

      patch_sum       sum of the P*P pixel values
      patch_checksum  sum of v * (local_idx + 1), local_idx row-major in
                      the patch — pins every pixel's position
      patch_min/max   value envelope

    Tiles whose w/h are not multiples of `p` contribute only the full
    patches (floor grid) — the standard drop-remainder rule.
    """
    slim = tiles.select("image_id", "bytes", "w", "h", "fmt")

    def _patches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            groups: dict[tuple, list[int]] = {}
            for k in range(len(pdf)):
                key = (int(pdf["w"].iat[k]), int(pdf["h"].iat[k]), pdf["fmt"].iat[k])
                groups.setdefault(key, []).append(k)
            for (w, h, fmt), idx in groups.items():
                gy, gx = h // p, w // p
                if gy == 0 or gx == 0:
                    continue
                z = (
                    np.frombuffer(
                        b"".join(pdf["bytes"].iat[k] for k in idx), dtype=_DT[fmt]
                    )
                    .reshape(len(idx), h, w)[:, : gy * p, : gx * p]
                    .astype(np.int64)
                    .reshape(len(idx), gy, p, gx, p)
                )
                wt = np.arange(1, p * p + 1, dtype=np.int64).reshape(p, p)
                ids = np.repeat(
                    pdf["image_id"].to_numpy()[np.asarray(idx)], gy * gx
                )
                pi = np.tile(np.repeat(np.arange(gy), gx), len(idx))
                pj = np.tile(np.tile(np.arange(gx), gy), len(idx))
                outs.append(
                    pd.DataFrame(
                        {
                            "image_id": ids,
                            "pi": pi.astype(np.int32),
                            "pj": pj.astype(np.int32),
                            "patch_sum": z.sum(axis=(2, 4)).reshape(-1),
                            "patch_checksum": np.einsum(
                                "ngxhy,xy->ngh", z, wt
                            ).reshape(-1),
                            "patch_min": z.min(axis=(2, 4)).reshape(-1).astype(np.int32),
                            "patch_max": z.max(axis=(2, 4)).reshape(-1).astype(np.int32),
                        }
                    )
                )
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(
                    {
                        "image_id": pd.Series([], dtype="int64"),
                        "pi": pd.Series([], dtype="int32"),
                        "pj": pd.Series([], dtype="int32"),
                        "patch_sum": pd.Series([], dtype="int64"),
                        "patch_checksum": pd.Series([], dtype="int64"),
                        "patch_min": pd.Series([], dtype="int32"),
                        "patch_max": pd.Series([], dtype="int32"),
                    }
                )
            )

    return slim.mapInPandas(_patches, schema=_SUMMARY_SCHEMA)
