"""PySpark worker daemon of library sessions (``spark.python.daemon.module``).

At the start of every task, PySpark's ``worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. Before Python 3.13 that makes
every ``zipimport.zipimporter`` re-read its archive's whole central
directory. A reused worker holds about 16 of them: one per imported
package of ``pyspark.zip`` (1,328 entries) and some for the spark-core
jar (5,359 entries). Measured inside the workers of a local[4] session
(Python 3.11, 4-vCPU Xeon), that call took 0.15-0.40 s per Python task
before its UDF started, and 0.2-0.6 ms with this daemon.

This daemon re-reads an archive only when its ``(st_mtime_ns, st_size)``
changed since the last read, then forks the workers as
``pyspark.daemon`` does. As with Python 3.13's lazy invalidation, an
archive rewritten on disk is still re-read, and a new ``--py-files``
path still gets a new importer.

Importing this module loads only the stdlib. At launch it imports
``pyspark``, which imports numpy only if numpy is installed, so a
missing package fails only the stages that use it.
"""

from __future__ import annotations

import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)  # taken before the read: a racing rewrite re-reads next time
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _read_archive(self)
        _stamps[self.archive] = stamp
    else:  # another importer of this archive may have re-read it since
        self._files = files


def main() -> None:
    from pyspark import daemon

    # the archives read so far (pyspark.zip, py4j, the spark-core jar) are current
    for path in list(zipimport._zip_directory_cache):
        _stamps[path] = _stamp(path)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    daemon.manager()


if __name__ == "__main__":
    main()
