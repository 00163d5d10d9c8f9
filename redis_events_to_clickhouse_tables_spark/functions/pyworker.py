"""Per-process set-up for the engine's Python-worker functions.

PySpark reuses a Python worker across tasks, and at the start of every
task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython before 3.13 that makes
every cached ``zipimporter`` re-read its archive's central directory at
once. A Spark 4.1 worker holds 16 of them, over ``pyspark.zip`` (1,328
entries), the py4j zip and the ``spark-core`` jar (5,359 entries), so a
warm trivial 1,000-row ``mapInArrow`` task cost 130-240 ms of worker
CPU, against 10-20 ms with :func:`worker_setup` (12 tasks each way,
4 vCPU, CPython 3.11.7). CPython 3.13 re-reads lazily, on the next
lookup, so there it is left alone.

:func:`worker_setup` makes the re-read conditional: an archive whose
``(st_ino, st_size, st_mtime_ns)`` is unchanged since it was last read
keeps its parsed directory (``zipimport._zip_directory_cache``), and a
changed or unreadable archive is re-read exactly as before. Every
function the engine ships to a Python worker calls it first; it is
idempotent and cheap after the first call in a process.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def worker_setup() -> None:
    """Install the stamp-checked ``zipimporter.invalidate_caches`` in
    this process (no-op on CPython >= 3.13 or once installed)."""
    importer = zipimport.zipimporter
    if hasattr(importer, "_get_files") or getattr(
        importer.invalidate_caches, "_stamped", False
    ):
        return
    reread = importer.invalidate_caches
    # archive path -> stamp of the file its cached directory was read from
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)  # noqa: SLF001
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:  # noqa: SLF001
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    invalidate_caches._stamped = True
    importer.invalidate_caches = invalidate_caches
