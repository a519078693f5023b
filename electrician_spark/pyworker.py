"""Python worker daemon for the sessions :func:`session.get_session` builds.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11
that makes every ``zipimporter`` re-read the whole directory of its
archive, about 16 reads of the 1,328-entry ``pyspark.zip`` per task, and
that was most of the fixed per-task cost of each pandas, Arrow and
stateful stage. Here the re-read happens only when the archive's
``(st_ino, st_mtime_ns, st_size)`` changed since the last read, so a
pyFile replaced on disk is still picked up. Then the stock daemon runs.
"""

from __future__ import annotations

import os
import zipimport

from pyspark import daemon

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or _stamps.get(self.archive) != stamp:
        _reread(self)
        _stamps[self.archive] = stamp
    else:  # another importer on this archive may have re-read it
        self._files = zipimport._zip_directory_cache.get(self.archive, self._files)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    daemon.manager()
