"""The benchmark's two workloads.

Each workload is a closed loop with one client: one thread issues
one operation, waits for its result, checks it against `oracles`, then
issues the next.  An operation is one engine action; a cycle is the
fixed sequence of operations the loop repeats.

A workload is driven in four steps; the first two are set-up:

* `prepare(spark)` loads and counts the fixture tables;
* `expect()` draws the seeded inputs, writes the ones the engine reads
  from disk (lookup_write's icelite snapshot), and computes the oracle
  expectations;
* `cycle(k, traced)` returns the operations of cycle k (the warm-up
  cycle is k = -1); traced cycles add, after the job's own operations,
  ops that materialize the layers the job fuses, so their spans can be
  subtracted from the layers above them;
* in traced runs, `layers(spans)` turns cycle spans into the metrics of
  the layers named in `LAYERS`.

`Op.run` receives a `mat(df)` function that collects a DataFrame; in a
traced run it also records the plan's SQL metrics on the op's span.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import numpy as np
import pandas as pd

import oracles
from georaster_spark.constants import DEFAULT_RES
from spans import Span, self_time

N_IMAGES = 100_000  # sf0.1
POINTS_PER_REQUEST = 1_000
KNN_K = 4
ZONAL_SAMPLE = 1_024  # seeded images in the icelite snapshot lookup_write reads and writes
UNIT_RES = 10  # checkpoint work unit: the res-10 ancestor of a tile's res-13 cell


@dataclass
class Op:
    name: str  # the layer call it times, also its span name
    run: Callable[[Callable], Any]
    check: Callable[[Any], bool]
    prep: Callable[[], None] | None = None  # untimed step before run
    extra: dict = field(default_factory=dict)  # counters run() records


def _rng(seed: int, *key: int) -> np.random.Generator:
    return np.random.default_rng([seed, *key])


class Workload:
    name = ""
    named: dict[str, str] = {}  # op (span) name of the job's own ops -> its latency metric name
    LAYERS: tuple[str, ...] = ()  # per-layer metric prefixes `layers` produces

    def __init__(self, fixture_dir: Path, work_dir: Path, seed: int):
        self.fx = fixture_dir
        self.work = work_dir
        self.seed = seed

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        self.spark = spark
        self.images = spark.read.parquet(str(self.fx / "images.parquet"))
        self.zones = spark.read.parquet(str(self.fx / "zones.parquet"))
        n = self.images.count()
        if n != N_IMAGES:
            raise RuntimeError(f"fixture has {n} images, expected {N_IMAGES}")
        self.max_ring = self.zones.agg(F.max(F.size("ring"))).first()[0]
        self.zones_pd = pd.read_parquet(self.fx / "zones.parquet")

    def expect(self) -> None:
        self.tiles_np = oracles.Tiles(N_IMAGES)

    def rates(self, median_s: dict) -> dict:
        """Throughputs derived from the median op latencies, for the details."""
        return {}

    def cleanup(self, k: int) -> None:
        """Remove what cycle k wrote."""

    def layers(self, spans: list[Span]) -> dict:
        return {}


def _find(spans: list[Span], name: str) -> Span:
    return next(s for s in spans if s.name == name)


class TileJoin(Workload):
    """The BASELINE.json headline: georegister -> tile_assignments count,
    broadcast pip_join of centroids into zones, and the zone_image_stats
    pixel leg, run one after the other."""

    name = "tile_join"
    named = {"georegister.tile_assignments": "assign_s", "pip.pip_join": "pairs_s",
             "pipeline.zone_image_stats": "pixel_s"}
    LAYERS = ("georegister", "pip")

    def prepare(self, spark) -> None:
        super().prepare(spark)
        self.slim = self.images.select("image_id", "w", "h")

    def expect(self) -> None:
        super().expect()
        t = self.tiles_np
        self.want_assign = oracles.cover_count(t, DEFAULT_RES)
        means = oracles.tile_means(str(self.fx / "images.parquet"))
        self.want_zones = oracles.zone_image_stats(t, self.zones_pd, means)
        self.want_pairs = sum(n for n, _ in self.want_zones.values())

    def cycle(self, k: int, traced: bool) -> list[Op]:
        from pyspark.sql import functions as F

        from georaster_spark.functions import cells
        from georaster_spark.operators import georegister as geo
        from georaster_spark.operators.pip import pip_join, zone_cells
        from georaster_spark.plans.pipeline import zone_image_stats

        def count(mat, df):
            return mat(df.agg(F.count(F.lit(1))))[0][0]

        def pixel_ok(rows):
            got = {r["zone_id"]: (r["n_images"], r["avg_tile_mean"]) for r in rows}
            return got == self.want_zones

        ops = [
            Op("georegister.tile_assignments",
               lambda mat: count(mat, geo.tile_assignments(geo.georegister(self.slim))),
               lambda n: n == self.want_assign),
            Op("pip.pip_join",
               lambda mat: count(mat, pip_join(
                   geo.georegister(self.slim), self.zones,
                   x=geo.centroid_x(), y=geo.centroid_y(), max_ring=self.max_ring)),
               lambda n: n == self.want_pairs),
            Op("pipeline.zone_image_stats",
               lambda mat: mat(zone_image_stats(self.images, self.zones, max_ring=self.max_ring)),
               pixel_ok),
        ]
        if traced:
            # Layers the headline fuses, materialized on their own so the
            # layers above them can subtract their cost.
            ops += [
                Op("sources.scan",
                   lambda mat: mat(self.slim.agg(F.count("image_id"), F.sum("w")))[0][0],
                   lambda n: n == N_IMAGES),
                Op("georegister",
                   lambda mat: mat(geo.georegister(self.slim).agg(F.sum(F.size("cover_cells"))))[0][0],
                   lambda n: n == self.want_assign),
                Op("pip.candidates",
                   lambda mat: count(mat, geo.georegister(self.slim).withColumn(
                       "cell_id", cells.cell_encode(geo.centroid_x(), geo.centroid_y(), DEFAULT_RES)
                   ).join(F.broadcast(zone_cells(self.zones).select("cell_id")), "cell_id")),
                   lambda n: n >= self.want_pairs),
            ]
        return ops

    def rates(self, median_s: dict) -> dict:
        return {"images_per_s": N_IMAGES / sum(median_s.values())}

    def layers(self, spans: list[Span]) -> dict:
        scan = _find(spans, "sources.scan")
        reg = _find(spans, "georegister")
        assign = _find(spans, "georegister.tile_assignments")
        cand = _find(spans, "pip.candidates")
        pairs = _find(spans, "pip.pip_join")
        return {
            "georegister.self_s": self_time(reg, [scan]),
            "georegister.assign_rows": assign.extra["result"],
            "pip.self_s": self_time(pairs, [reg]),
            "pip.candidates": cand.extra["result"],
            "pip.pairs": pairs.extra["result"],
            "pip.hit_ratio": pairs.extra["result"] / cand.extra["result"],
        }


class LookupWrite(Workload):
    """Small requests, one after another, in a fixed rotation: 1,000-point
    value_at_coords, interp(order=1), interp(order=3) and knn_join(k=4)
    requests; zonal_stats over an icelite snapshot of 1,024 seeded
    images; a checkpointed_write of those tiles keyed by res-10 cell; and
    its resume after a seeded half of the unit manifests is deleted."""

    name = "lookup_write"
    named = {"sampling.value": "value_s", "sampling.interp1": "interp1_s",
             "sampling.interp3": "interp3_s", "knn.knn_join": "knn_s",
             "zonal.zonal_stats": "zonal_s", "checkpoint.checkpointed_write": "write_s",
             "checkpoint.resume": "resume_s"}
    LAYERS = ("sampling", "knn", "zonal", "checkpoint")
    LOOKUPS = ("value", "interp1", "interp3", "knn")

    def prepare(self, spark) -> None:
        from georaster_spark.operators import georegister as geo

        super().prepare(spark)
        self.tiles = geo.georegister(self.images)

    def snapshot(self) -> None:
        """Write the seeded images to an icelite table: the pinned input
        that zonal_stats reads and the checkpointed write copies."""
        from pyspark.sql import functions as F

        from georaster_spark.functions import cells
        from georaster_spark.operators import georegister as geo
        from georaster_spark.sources import icelite

        spark = self.spark
        self.sample = np.sort(_rng(self.seed, 0).choice(N_IMAGES, ZONAL_SAMPLE, replace=False))
        ids = spark.createDataFrame(pd.DataFrame({"image_id": [f"img{i:08d}" for i in self.sample]}))
        table = self.work / "snapshot"
        self.snap = icelite.write_snapshot(
            self.images.join(F.broadcast(ids), "image_id", "left_semi"), table)
        self.snap_bytes = sum(f.stat().st_size for f in (table / "data").glob("*.parquet"))
        self.table = table
        self.snap_tiles = geo.georegister(icelite.read_snapshot(spark, table, self.snap))
        self.units_df = self.snap_tiles.select(
            "image_id", "bytes", "w", "h", "fmt",
            cells.cell_parent_chain(F.col("cell_id"), DEFAULT_RES, UNIT_RES).alias("unit"),
        )

    def content_hash(self, df) -> tuple:
        from pyspark.sql import functions as F

        cols = ["image_id", "bytes", "w", "h", "fmt", "unit"]
        return tuple(df.agg(
            F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).first())

    def expect(self) -> None:
        super().expect()
        self.snapshot()
        # the fixture's point table is the uniform / tile-interior /
        # pixel-edge mix; each request draws its batch from it
        self.pool = pd.read_parquet(self.fx / "points.parquet")
        self.want_zonal = oracles.zonal_stats(self.tiles_np, self.zones_pd, self.sample)
        self.want_hash = self.content_hash(self.units_df)
        units = sorted({int(u) for u in self.units_df.select("unit").distinct().toPandas()["unit"]})
        self.n_units = len(units)
        perm = _rng(self.seed, 1).permutation(len(units))
        self.drop_units = {units[i] for i in perm[: len(units) // 2]}

    def batch(self, k: int, j: int) -> pd.DataFrame:
        rng = _rng(self.seed, k + 1_000_000, j)  # the warm-up cycle is k = -1
        pick = rng.choice(len(self.pool), POINTS_PER_REQUEST, replace=False)
        return self.pool.iloc[np.sort(pick)].reset_index(drop=True)

    def lookup(self, k: int, j: int, mode: str) -> Op:
        from georaster_spark.operators import knn, sampling

        pdf = self.batch(k, j)

        def run(mat):
            pts = self.spark.createDataFrame(pdf)
            if mode == "value":
                df = sampling.value_at_coords(pts, self.tiles)
            elif mode == "knn":
                df = knn.knn_join(pts, self.zones, k=KNN_K)
            else:
                df = sampling.interp(pts, self.tiles, order=int(mode[-1]))
            return mat(df)

        def check(rows):
            ids, xs, ys = (pdf[c].to_numpy() for c in ("point_id", "x", "y"))
            if mode == "knn":
                got = {(r["point_id"], r["rank"]): (r["zone_id"], r["d2"]) for r in rows}
                return got == oracles.knn(xs, ys, ids, self.zones_pd, KNN_K)
            got = {r["point_id"]: (r["image_id"], r["val"]) for r in rows}
            return len(got) == len(rows) and got == oracles.sample(self.tiles_np, xs, ys, ids, mode)

        return Op("knn.knn_join" if mode == "knn" else f"sampling.{mode}", run, check)

    def cycle(self, k: int, traced: bool) -> list[Op]:
        from georaster_spark.operators import zonal
        from georaster_spark.plans import checkpoint as ckpt

        out = self.work / f"ckpt{k}"
        shutil.rmtree(out, ignore_errors=True)
        snap_tag = f"v{self.snap}"

        def files():
            return {p: (p.stat().st_size, p.stat().st_mtime_ns) for p in (out / "data").rglob("*.parquet")}

        def write(extra: dict):
            before = files() if (out / "data").exists() else {}
            rep = ckpt.checkpointed_write(self.units_df, out, "unit", input_snapshot=snap_tag)
            after = files()
            new = [p for p, st in after.items() if before.get(p) != st]
            extra.update(
                units_written=len(rep.processed_units), units_skipped=len(rep.skipped_units),
                files=len(new), bytes_written=sum(after[p][0] for p in new))
            return rep

        def drop_manifests():
            for u in self.drop_units:
                (out / "_manifest" / f"{u}.json").unlink()

        def written_ok(rep, resumed):
            if not resumed:
                return (len(rep.processed_units) == self.n_units and not rep.skipped_units
                        and rep.rows_written == ZONAL_SAMPLE)
            # the resumed output must equal an uninterrupted write of the input
            return (set(rep.processed_units) == self.drop_units
                    and len(rep.skipped_units) == self.n_units - len(self.drop_units)
                    and self.content_hash(ckpt.read_checkpointed(self.spark, out)) == self.want_hash)

        def zonal_ok(rows):
            got = {r["zone_id"]: (r["n_pixels"], r["sum_val"], r["min_val"], r["max_val"], r["mean_val"])
                   for r in rows}
            return got == self.want_zonal

        w_extra, r_extra = {}, {}
        return [self.lookup(k, j, mode) for j, mode in enumerate(self.LOOKUPS)] + [
            Op("zonal.zonal_stats", lambda mat: mat(zonal.zonal_stats(self.snap_tiles, self.zones)),
               zonal_ok),
            Op("checkpoint.checkpointed_write", lambda mat: write(w_extra),
               lambda rep: written_ok(rep, False), extra=w_extra),
            Op("checkpoint.resume", lambda mat: write(r_extra),
               lambda rep: written_ok(rep, True), prep=drop_manifests, extra=r_extra),
        ]

    def cleanup(self, k: int) -> None:
        shutil.rmtree(self.work / f"ckpt{k}", ignore_errors=True)

    def rates(self, median_s: dict) -> dict:
        lookups = ("value_s", "interp1_s", "interp3_s", "knn_s")
        return {
            "points_per_s": len(lookups) * POINTS_PER_REQUEST / sum(median_s[m] for m in lookups),
            "zonal_images_per_s": ZONAL_SAMPLE / median_s["zonal_s"],
        }

    def layers(self, spans: list[Span]) -> dict:
        samp = [s for s in spans if s.name.startswith("sampling.")]
        knn_span = _find(spans, "knn.knn_join")
        cand = sum(s.node_metric("BroadcastHashJoin", "numOutputRows", "cell_id") for s in samp)
        winners = sum(s.extra["rows"] for s in samp)
        z = _find(spans, "zonal.zonal_stats")
        w = _find(spans, "checkpoint.checkpointed_write")
        r = _find(spans, "checkpoint.resume")
        written = w.extra["bytes_written"] + r.extra["bytes_written"]
        return {
            "sampling.candidates": cand,
            "sampling.winners": winners,
            "sampling.winner_ratio": winners / cand,
            "sampling.broadcast_bytes": sum(s.node_metric("BroadcastExchange", "dataSize") for s in samp),
            "knn.jobs": knn_span.jobs,
            "knn.candidates": knn_span.sql_rows["BroadcastHashJoin"],
            "zonal.pairs": z.node_metric("BroadcastNestedLoopJoin", "numOutputRows"),
            "zonal.partial_rows": z.node_metric("MapInPandas", "pythonNumRowsReceived"),
            "checkpoint.units_written": w.extra["units_written"] + r.extra["units_written"],
            "checkpoint.units_skipped": r.extra["units_skipped"],
            "checkpoint.files": w.extra["files"] + r.extra["files"],
            "checkpoint.bytes_written": written,
            "checkpoint.write_amp": written / self.snap_bytes,
        }


WORKLOADS = {w.name: w for w in (TileJoin, LookupWrite)}
