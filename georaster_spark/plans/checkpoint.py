"""Op E9 — checkpoint / lineage / resume (SURVEY §2.2).

A long job over a 10^12-row table WILL be killed; the north rule demands
it "resumes exactly".  Shape:

  * The output is partitioned by a bounded WORK-UNIT column (e.g. the
    res-6 parent cell of a tile — thousands of units, each a few GB at
    production scale).
  * Per completed unit, a manifest entry `_manifest/<unit>.json` is
    committed atomically (tmp+rename) recording row count, optional
    metrics (e.g. min PSNR), and the *input snapshot version* (icelite)
    it was computed from — the lineage.
  * Resume = the rows whose unit has no manifest for this snapshot (the
    done set is read from the manifests on the driver, no Spark job),
    appended in ONE partitioned write.  The driver lists every
    `data/<unit>=*` directory before and after the write; in each one
    that received new files it deletes every entry listed before (a
    killed attempt's torn files, an older snapshot's files, their
    `.crc` siblings).  Row counts come from the new files' Parquet
    footers.  So the final state is identical to an uninterrupted run
    (deterministic unit content; verified in
    tests/test_scale_machinery.py).

Kill-window audit (append, then cleanup, then manifests):
  * die during the write, before its job commit -> new files exist only
    under `data/_temporary` (hidden from readers, removed by the next
    write's job cleanup); no manifest -> the unit is written next run.
  * die during or after the job commit, before cleanup ends -> a unit
    directory may hold new files beside older ones, with no manifest for
    this snapshot -> next run writes the unit again and its cleanup drops
    both the older files and this attempt's.
  * die mid-manifests -> committed units skip, the rest are rewritten.
No window leaves duplicate rows after a resume.  A reader running
between a write and its cleanup can see a unit's older files next to its
new ones when that unit's manifest names an older snapshot.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"  # Spark's directory for a null partition value


@dataclass
class RunReport:
    processed_units: list = field(default_factory=list)
    skipped_units: list = field(default_factory=list)
    rows_written: int = 0


def _manifest_dir(out_dir: str | Path) -> Path:
    return Path(out_dir) / "_manifest"


def completed_units(out_dir: str | Path, input_snapshot=None) -> set:
    """Units with a committed manifest entry for this input snapshot."""
    md = _manifest_dir(out_dir)
    if not md.exists():
        return set()
    done = set()
    for f in md.glob("*.json"):
        try:
            e = json.loads(f.read_text())
        except json.JSONDecodeError:
            continue  # torn write from a kill -> treat as not done
        if input_snapshot is None or e.get("input_snapshot") == input_snapshot:
            done.add(e["unit"])
    return done


def _commit_manifest(
    out_dir: str | Path, name: str, unit, rows: int, metrics: dict, input_snapshot
) -> None:
    md = _manifest_dir(out_dir)
    md.mkdir(parents=True, exist_ok=True)
    entry = {
        "unit": unit,
        "rows": rows,
        "metrics": metrics,
        "input_snapshot": input_snapshot,
        "ts": time.time(),
    }
    tmp = md / f".{name}.json.tmp"
    tmp.write_text(json.dumps(entry))
    os.rename(tmp, md / f"{name}.json")


def _unit_parser(df: DataFrame, unit_col: str):
    """Directory name -> unit value: integral units parse as int, string
    units undo Spark's %XX path escaping; any other type is rejected."""
    dt = df.schema[unit_col].dataType
    if isinstance(dt, T.IntegralType):
        return int
    if isinstance(dt, T.StringType):
        return unquote
    raise ValueError(
        f"checkpointed_write: unit column {unit_col!r} is {dt.simpleString()};"
        " only integral and string units are supported"
    )


def _unit_dirs(data: Path, unit_col: str) -> dict[str, set[str]]:
    """{escaped unit value: entry names} of every data/<unit_col>=* directory."""
    prefix = f"{unit_col}="
    if not data.is_dir():
        return {}
    return {
        d.name[len(prefix):]: set(os.listdir(d.path))
        for d in os.scandir(data)
        if d.is_dir() and d.name.startswith(prefix)
    }


def checkpointed_write(
    df: DataFrame,
    out_dir: str | Path,
    unit_col: str,
    metric_aggs: dict | None = None,
    input_snapshot=None,
) -> RunReport:
    """Write `df` partitioned by `unit_col` with per-unit manifests;
    re-invocation after a kill completes only pending units.  One Spark
    write per call, and no other job unless `metric_aggs` is given.

    metric_aggs: {name: Column-aggregate} evaluated per unit and stored
    in the manifest (lineage + verification metrics, e.g. min PSNR); it
    reads the written units back.
    """
    parse = _unit_parser(df, unit_col)
    out_dir = Path(out_dir)
    data = out_dir / "data"
    unit = F.col(unit_col)
    done = completed_units(out_dir, input_snapshot)
    report = RunReport(skipped_units=sorted(done))

    # Cluster rows by unit before the partitioned write: without this,
    # every input partition opens a writer for every unit it touches
    # (input_partitions x units small files — a metadata bomb at 10^12
    # rows); after, files-per-unit == tasks that own the unit (1 here).
    # Production variant with jumbo units: repartition(n, unit, salt).
    # Null units pass the filter so that they are rejected below.
    pend_df = df.where(unit.isNull() | ~unit.isin(sorted(done))) if done else df
    before = _unit_dirs(data, unit_col)
    pend_df.repartition(unit).write.mode("append").partitionBy(unit_col).parquet(str(data))
    fresh = {
        name: new
        for name, names in _unit_dirs(data, unit_col).items()
        if (new := names - before.get(name, set()))
    }
    for name in fresh:
        udir = data / f"{unit_col}={name}"
        for old in before.get(name, ()):
            (udir / old).unlink()
    if _NULL_DIR in fresh:
        shutil.rmtree(data / f"{unit_col}={_NULL_DIR}")
        raise ValueError(
            f"checkpointed_write: unit column {unit_col!r} holds null or empty values"
        )

    units = {name: parse(name) for name in fresh}
    metrics: dict = {}
    if metric_aggs and units:
        back = df.sparkSession.read.schema(df.schema).parquet(str(data))
        back = back.where(unit.isin(list(units.values())))
        aggs = [c.alias(name) for name, c in metric_aggs.items()]
        metrics = {
            r[unit_col]: {name: r[name] for name in metric_aggs}
            for r in back.groupBy(unit_col).agg(*aggs).collect()
        }
    for name, u in sorted(units.items(), key=lambda nu: nu[1]):
        udir = data / f"{unit_col}={name}"
        rows = sum(
            pq.read_metadata(udir / f).num_rows for f in fresh[name] if f.endswith(".parquet")
        )
        _commit_manifest(out_dir, name, u, rows, metrics.get(u, {}), input_snapshot)
        report.processed_units.append(u)
        report.rows_written += rows
    return report


def read_checkpointed(spark: SparkSession, out_dir: str | Path) -> DataFrame:
    """Read back ONLY manifest-committed units (ignores partial output
    from a killed attempt)."""
    out_dir = Path(out_dir)
    done = completed_units(out_dir)
    data = str(out_dir / "data")
    df = spark.read.parquet(data)
    *cols, unit = df.schema.fields  # partition col is appended last
    if any(isinstance(u, str) for u in done):
        # string units: keep partition inference from typing "007" as 7
        unit = T.StructField(unit.name, T.StringType())
        df = spark.read.schema(T.StructType([*cols, unit])).parquet(data)
    return df.where(F.col(unit.name).isin(list(done)))
