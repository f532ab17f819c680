"""PySpark worker daemon that keeps zip archives' directories between tasks.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so the
executor launches it (``python -m valentinus_spark._daemon pyspark.worker``)
in place of ``pyspark.daemon``; the forked workers are the stock
``pyspark.worker``.

Why: before every task the worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py::setup_spark_files``). On CPython before 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, and a worker holds about a dozen zipimporters into
``pyspark.zip`` (one per package path) plus two into the Spark core jar
that Spark puts on the worker's PYTHONPATH: about 200 ms of re-reading
per task (4-vCPU VM, CPython 3.11) before any user code runs. Here an
archive is re-read only when its ``(st_mtime_ns, st_size)`` differs from
the stamp taken when its directory was last read, the rule ``FileFinder``
applies to directories. Files shipped with ``addPyFile``/``addFile``
still show up: they arrive as new path entries or new files in a
directory, not as changed archives.

This module and the package ``__init__`` it runs under must stay light:
every forked worker inherits what the daemon imported.
"""

from __future__ import annotations

import os
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        # another importer into the same archive may have re-read it
        self._files = files
        return
    _original_invalidate(self)  # stamp taken first: a write during the read re-reads next time
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> bool:
    """Replace ``zipimporter.invalidate_caches`` and stamp every archive
    whose directory is cached now. Returns False (and changes nothing)
    where the interpreter's own ``invalidate_caches`` is already lazy."""
    if hasattr(zipimport.zipimporter, "_get_files"):  # CPython 3.13+: drops the entry only
        return False
    for archive in list(zipimport._zip_directory_cache):
        stamp = _stamp(archive)
        if stamp is not None:
            _stamps[archive] = stamp
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True


if __name__ == "__main__":
    import pyspark.daemon  # imports the worker module named in argv[1], reading pyspark.zip

    # through the package, so tasks see the one installed copy of the stamps
    from valentinus_spark._daemon import install as _install

    _install()
    pyspark.daemon.manager()
