"""Python worker daemon for local sessions (``spark.python.daemon.module``).

This file is a top-level module in a directory of its own, which a
local ``get_spark`` session puts on the workers' PYTHONPATH. It must
not import ``mapreducegcp_spark``: the workers fork from this process,
and a package it imported would be importable in every worker, so a
function pickled by reference would work locally and fail on a cluster.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()`` so a zip added by ``addPyFile``
becomes importable. Before CPython 3.13 that makes every cached
``zipimporter`` re-read its archive's whole central directory: each of
the importers for ``pyspark.zip`` and the py4j zip, on every task. Here
an archive is re-read only when its ``(st_mtime_ns, st_size)`` differs
from the last read, so a rewritten or newly added archive is still
picked up. The stamp is shared by every importer of one archive; an
archive that cannot be statted takes the stock re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _stamps.get(self.archive) != stamp:
        _stock_invalidate(self)
        _stamps[self.archive] = stamp
    else:
        self._files = files


def install() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    import pyspark.daemon

    pyspark.daemon.manager()
