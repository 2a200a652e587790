"""Python worker daemon that re-reads a zip archive only when it changed.

At the start of every task, pyspark's worker calls
``importlib.invalidate_caches()``.  On CPython 3.11 that makes every
cached ``zipimporter`` re-read its archive's central directory: a dozen
importers re-read ``pyspark.zip`` and two re-read the spark-core jar,
0.2-0.3 s of CPU per task on a 4-vCPU VM.  This module patches
``zipimporter.invalidate_caches`` to re-read an archive only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the last read, then runs
``pyspark.daemon.manager()``; the forked workers inherit the patch.

Spark starts it through ``spark.python.daemon.module``;
:func:`paradump_spark.session.build_session` picks it when the workers
can import this package.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stat key taken before its last directory read
_seen: dict[str, tuple[int, int, int] | None] = {}


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _seen.get(self.archive) == key:
        self._files = files
        return
    # stat before the read: a change during the read shows up next time
    _seen[self.archive] = key
    _stock_invalidate(self)


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()  # one read per archive, inherited by forks
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
