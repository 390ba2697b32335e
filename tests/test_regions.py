"""4-connected region labeling of tile masks as a pixel-adjacency graph
(operators/graph.connected_components_star) vs a brute-force flood fill."""

from __future__ import annotations

import numpy as np

from georaster_spark.operators import graph


def _flood_stats(mask: np.ndarray) -> tuple[int, int, int, int]:
    h, w = mask.shape
    seen = np.zeros_like(mask, dtype=bool)
    n_fg = int(mask.sum())
    n_regions = 0
    max_region = 0
    checksum = 0
    for i in range(h):
        for j in range(w):
            if not mask[i, j] or seen[i, j]:
                continue
            stack = [(i, j)]
            seen[i, j] = True
            size = 0
            mn = i * w + j
            while stack:
                y, x = stack.pop()
                size += 1
                mn = min(mn, y * w + x)
                for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                    yy, xx = y + dy, x + dx
                    if 0 <= yy < h and 0 <= xx < w and mask[yy, xx] and not seen[yy, xx]:
                        seen[yy, xx] = True
                        stack.append((yy, xx))
            n_regions += 1
            max_region = max(max_region, size)
            checksum += (mn + 1) * size
    return n_fg, n_regions, max_region, checksum


def _label_stats(spark, masks: list[np.ndarray]) -> list[tuple[int, int, int, int]]:
    """Label all masks in ONE connected-components run: pixel p of mask k
    is vertex k * stride + p, edges join 4-adjacent foreground pixels, so
    a component's id (its min vertex) is k * stride + the region's first
    pixel in raster order."""
    stride = max(m.size for m in masks)
    verts, edges = [], []
    for k, mask in enumerate(masks):
        h, w = mask.shape
        ids = k * stride + np.arange(h * w, dtype=np.int64).reshape(h, w)
        verts += ids[mask].tolist()
        right = mask[:, :-1] & mask[:, 1:]
        down = mask[:-1, :] & mask[1:, :]
        edges += zip(ids[:, :-1][right].tolist(), ids[:, 1:][right].tolist())
        edges += zip(ids[:-1, :][down].tolist(), ids[1:, :][down].tolist())
    v = spark.createDataFrame([(i,) for i in verts], "doc_id long")
    e = spark.createDataFrame(edges, "a_id long, b_id long")
    sizes: list[dict[int, int]] = [{} for _ in masks]
    for r in graph.connected_components_star(e, v).collect():
        k, first = divmod(r["component"], stride)
        sizes[k][first] = sizes[k].get(first, 0) + 1
    return [
        (
            sum(s.values()),
            len(s),
            max(s.values(), default=0),
            sum((first + 1) * n for first, n in s.items()),
        )
        for s in sizes
    ]


def test_label_tile_random_masks(spark):
    rng = np.random.default_rng(7)
    masks = [
        rng.random((13, 17)) < density
        for density in (0.0, 0.2, 0.5, 0.8, 1.0)
        for _ in range(8)
    ]
    assert _label_stats(spark, masks) == [_flood_stats(m) for m in masks]


def test_label_tile_serpentine(spark):
    # long snake: worst case for iterative propagation, O(log n) rounds
    # for star contraction
    mask = np.zeros((16, 16), dtype=bool)
    for r in range(16):
        mask[r, :] = True
        if r % 2 == 0:
            mask[r, 0] = r % 4 != 0
        else:
            mask[r, 15] = (r + 1) % 4 != 0
    assert _label_stats(spark, [mask]) == [_flood_stats(mask)]
