"""Python worker daemon for sessions that ``get_spark`` launches
(``spark.python.daemon.module``): ``pyspark.daemon`` unchanged, after
one swap that its forked workers inherit.

Every task's worker calls ``importlib.invalidate_caches()`` once its
Spark files are on ``sys.path`` (``pyspark.worker_util.setup_spark_files``).
On CPython 3.11 that makes every zipimporter on pyspark.zip (one per
package imported from it) re-read the archive's central directory:
~0.25 CPU-s per Arrow-UDF task whatever its rows, 0.05 s with the
swap (4-core box, trivial ``mapInPandas``). The swapped
``zipimporter.invalidate_caches`` re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the copy it last read, so a
rewritten zip is still picked up.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stamp of the directory held in zipimport's cache
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _read_at.get(self.archive) == stamp:
        self._files = cached  # another importer of this archive may have re-read it
        return
    _reread(self)
    _read_at[self.archive] = stamp


def guard_zip_rereads() -> None:
    """Swap in the stamp-checked ``invalidate_caches``. Archives already
    in zipimport's cache are taken as read at their current stamp."""
    for archive in zipimport._zip_directory_cache:
        _read_at[archive] = _stamp(archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    guard_zip_rereads()
    from pyspark import daemon

    daemon.manager()
