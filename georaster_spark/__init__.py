"""georaster_spark — a from-scratch PySpark-native spatial-join + tiling
engine with the query/data-processing capabilities of GeoUtils/georaster,
re-expressed Spark-first (SURVEY.md).

Layers:
  functions/  — pure Column expressions + vectorized pandas UDF kernels
  operators/  — distributed operators (georegister, PIP, kNN, zonal,
                sampling, subset, warp, dedup, ann, ...)
  sources/    — fixture generator + icelite snapshot-pinned parquet I/O
  plans/      — end-to-end pipelines, checkpoint/resume
  streaming/  — structured-streaming variants
  oracle.py   — the NumPy executable spec every operator must match
"""

__version__ = "0.1.0"

from .zip_stamps import install_in_task

install_in_task()  # inside a Python worker task: stop re-reading unchanged zips
