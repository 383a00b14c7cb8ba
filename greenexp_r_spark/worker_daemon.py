"""pyspark's Python daemon, with zip importers that re-read an archive
only when it changed.

`session.build_session` runs this module as the daemon
(``spark.python.daemon.module``); the daemon forks the Python
workers, and each runs pyspark's own `pyspark.worker`.  At the start
of every task that worker calls
`importlib.invalidate_caches()` (`pyspark.worker_util.setup_spark_files`),
and on CPython 3.11 and 3.12 every `zipimport.zipimporter` on the
worker path then re-reads its archive's whole central directory:
`pyspark.zip` (1,328 entries) once per importer, 13 importers, and the
spark-core jar (5,359 entries) twice — 0.14–0.21 s of CPU per task
before its first row on a 4-core host.  The wrapper below re-reads an
archive only when its ``(st_mtime_ns, st_size)`` stamp differs from
the stamp taken before its last read, and otherwise points the
importer at the directory already cached in
`zipimport._zip_directory_cache`.  A zip rewritten in place, or one
added later with `SparkContext.addPyFile`, is still read.  CPython
3.13 re-reads lazily on its own; there the wrapper only skips a
cache pop.

The stamps are taken before the fork, by one `invalidate_caches()` in
the daemon, so no forked worker re-reads an unchanged archive.  This
module imports only the standard library and pyspark: the daemon
starts before any task, and nothing of the engine needs to be in it.
"""

from __future__ import annotations

import importlib
import os
import zipimport

from pyspark import daemon

_stamps: dict[str, tuple[int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """`zipimporter.invalidate_caches` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        if hasattr(self, "_files"):     # CPython < 3.13 reads its own
            self._files = files         # reference, not the cache
        return
    _reread(self)
    _stamps[self.archive] = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
