"""The engine's Python worker daemon (``spark.python.daemon.module``).

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13 that makes
every ``zipimporter`` re-read its archive's whole central directory, and
there is one importer per package directory imported from ``pyspark.zip``
and the py4j zip — about 0.2 s of CPU per task on a 4-vCPU VM. This
daemon re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` changed since the last read, so a rewritten archive is still
picked up, then runs PySpark's own daemon. Python 3.13 made the reload
lazy; there the daemon patches nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp at its last directory read; shared by every
# importer of the archive, like zipimport's own directory cache
_read_stamps: dict[str, tuple[int, int, int]] = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_stamps.pop(self.archive, None)
        _stock_invalidate_caches(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    if _read_stamps.get(self.archive) == stamp:
        # read at this stamp already, by this or another importer of it
        self._files = zipimport._zip_directory_cache.get(self.archive, {})
        return
    _stock_invalidate_caches(self)
    _read_stamps[self.archive] = stamp


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # Spark starts this file with ``python -m``; go through the package
    # name so the installed method reports this module, not ``__main__``.
    from kafka_connect_jsonata_spark.worker_daemon import main as _main

    _main()
