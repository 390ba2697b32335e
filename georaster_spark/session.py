"""SparkSession factory with the engine's tuned defaults.

Scale posture (SURVEY §4): AQE on (runtime coalescing + skew-join
backstop), Arrow transport for every pandas UDF, parquet split size small
enough that a single large fixture file still fans out across all cores.
On a real cluster these same knobs apply per-executor; nothing here is
local-mode-specific except the master default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def mem_total_mb() -> int:
    """The host's MemTotal in MiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return kb // 1024


def _default_driver_memory() -> str:
    """Half of the host's MemTotal; the other half is left to the Python
    workers and, in the gate harness, the DuckDB oracle beside the JVM
    (capped there at a quarter)."""
    return f"{mem_total_mb() // 2}m"


def get_spark(
    master: str | None = None,
    app_name: str = "georaster-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    if "local-cluster[" in master:
        # local-cluster[E,C,mem]: E executor JVMs x C cores — the faithful
        # sandbox analog of an E-executor cluster (separate heaps).
        execs, cores_per, _mem = master.split("[")[1].rstrip("]").split(",")
        cores = int(execs) * int(cores_per)
    elif "*" in master:
        cores = cpus
    elif "[" in master:
        cores = int(master.split("[")[1].rstrip("]"))
    else:
        cores = cpus
    if shuffle_partitions is None:
        shuffle_partitions = 4 * cores  # BASELINE.md protocol: 4x cores
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # InferFiltersFromGenerate turns explode(cover_cells) into a
        # size(...)>0 filter pushed below exchanges, re-evaluating the
        # whole (interpreted, non-codegen) higher-order cover expression
        # per input row — measured ~10x on tile assignment.  Our
        # generators never produce empty arrays; the inferred filter is
        # pure cost.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
