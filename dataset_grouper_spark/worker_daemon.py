"""Python-worker daemon for ``get_spark`` sessions: ``pyspark.daemon``
without the per-task re-read of every zip archive on the worker path.

Spark starts it as ``python -m dataset_grouper_spark.worker_daemon``
(``spark.python.daemon.module``); workers fork from it. Each task start
calls ``importlib.invalidate_caches()``, and before Python 3.13 every
cached ``zipimporter`` then re-reads its archive's whole directory:
pyspark.zip (12 importers), the spark-core jar and the py4j zip cost
~200 ms CPU per task. Here an archive is re-read only when its stat
key changed; otherwise the importer is pointed back at the shared
``zipimport._zip_directory_cache`` entry (3.13's lazy invalidation has
the same effect). Rewritten archives still reload.

Running as ``-m`` imports the package first, so workers fork with
numpy, pandas and pyarrow already loaded. The daemon then holds
pyarrow's jemalloc background thread; jemalloc and OpenBLAS register
fork handlers, and each worker starts single-threaded.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def stat_checked(reload):
    """Wrap ``zipimporter.invalidate_caches`` (``reload``) so it skips
    archives whose ``(st_mtime_ns, st_size, st_ino)`` is unchanged
    since this wrapper last re-read them."""
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        reload(self)
        read_at[self.archive] = key

    return invalidate_caches


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = stat_checked(
            zipimport.zipimporter.invalidate_caches
        )
    import pyspark.daemon

    # read each archive once here, so forked workers start with its key
    importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    # run the importable copy, so the patch names its real module
    from dataset_grouper_spark.worker_daemon import main

    main()
