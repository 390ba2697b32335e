"""North-rule determinism: identical value-hashes at local[3] vs
local[12] (the cheap stand-in for N vs 4N executors, SURVEY §5.2-5).
Runs a representative query subset in two fresh JVMs via subprocess
(one process cannot host two different masters)."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

QUERIES = [
    "tile_assign", "knn_zones", "zonal_stats", "minhash_lsh_pairs",
    "cell_join_salted", "asof_clicks",
    # round-3 additions: one per new operator family (shuffly shapes
    # where partition count could plausibly leak into the result)
    "box_nms", "segment_intersections",
    "mst_boruvka", "ann_ivf",
    # a 3-way join with a distributed top-k, and a cross-partition NTILE
    "shipping_priority", "ntile_deciles",
]


def _hashes(master: str) -> dict[str, str]:
    env = dict(os.environ, SPARK_GRAFT_MASTER=master)
    proc = subprocess.run(
        [sys.executable, str(REPO / "tests" / "driver_sim.py"), "sf0.01", *QUERIES],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    out = {}
    for line in proc.stdout.splitlines():
        m = re.match(r"(\w+)\s+OK\s.*hash (\w+) vs", line)
        if m:
            out[m.group(1)] = m.group(2)
    return out


def test_identical_hashes_across_parallelism():
    h_small = _hashes("local[3]")
    assert set(h_small) == set(QUERIES)
    h_big = _hashes("local[12]")
    assert h_small == h_big
