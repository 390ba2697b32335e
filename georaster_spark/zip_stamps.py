"""Python worker tasks that stop re-reading unchanged zip archives.

pyspark's worker calls `importlib.invalidate_caches()` at the start of
every task (`worker_util.setup_spark_files`), after it adds the task's
`--py-files` to `sys.path`.  That call reaches every `zipimporter` in
`sys.path_importer_cache`, and CPython's `zipimporter.invalidate_caches`
re-reads its whole archive directory each time.  A worker that imports
pyspark from `$SPARK_HOME/python/lib/pyspark.zip` holds one importer per
package directory it has touched in that archive (plus py4j's zip and
any shipped ones), so every task re-reads the same directories again:
16 importers and 0.22-0.24 s per task on a 4-vCPU host, before the task
reads its first row.

`install()` replaces `zipimporter.invalidate_caches` with one that
re-reads an archive only when its size or mtime differs from the last
read.  The first import of `georaster_spark` inside a task installs it
(see the package `__init__`), so the worker's first task still pays the
full re-read and every later task of that worker pays one `stat` per
importer.  A `--py-files` archive that is replaced between tasks is
still re-read, and its new modules import.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int] | None] = {}  # archive -> (size, mtime_ns) when last read


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Reload the archive's file data only if the archive has changed."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        self._files = files  # another importer of this archive already re-read it
        return
    _reread(self)
    _read_at[self.archive] = stamp


def install() -> None:
    """Patch `zipimporter.invalidate_caches` for this process.  The
    archives the live importers hold count as read now: inside a task
    the worker has just re-read all of them."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            _read_at[finder.archive] = _stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def install_in_task() -> None:
    """`install()` when called inside a Spark task (a Python worker);
    a no-op on the driver and outside Spark."""
    pyspark = sys.modules.get("pyspark")
    if pyspark is not None and pyspark.TaskContext.get() is not None:
        install()
