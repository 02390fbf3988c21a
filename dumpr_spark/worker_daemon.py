"""Python worker daemon for engine sessions.

`get_spark` sets `spark.python.daemon.module` to this module, so the JVM
starts it in place of `pyspark.daemon` (`python -m dumpr_spark.worker_daemon
<worker module>`). It runs `pyspark.daemon.manager()` unchanged, after one
change to the process it forks workers from: `zipimporter.invalidate_caches`
becomes stat-checked (see `install_stat_checked_invalidation`), and every
importer on the path is stamped once, so each forked worker inherits
stamped directory caches.

Why: every Python task starts in `pyspark.worker_util.setup_spark_files`,
which calls `importlib.invalidate_caches()`. On CPython 3.11 each
zipimporter re-reads the whole central directory of its archive on that
call, and a worker imports pyspark from `pyspark.zip`, so it holds 16-18
of them (over pyspark.zip, the py4j zip and the spark-core jar Spark puts
on the worker path). See the `dumpr_spark.session` docstring for the
measured cost.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def install_stat_checked_invalidation() -> None:
    """Make `zipimporter.invalidate_caches` re-read an archive only when it
    changed on disk.

    An archive is re-read when its `(st_mtime_ns, st_size, st_ino)` differs
    from the stamp taken just before its cached directory was read; an
    importer over an unchanged archive adopts `zipimport._zip_directory_cache`
    for it. So a rewritten or newly added `addPyFile` archive is still
    re-read (the same kind of stat check `FileFinder` makes on directories),
    and a deleted one gets an empty directory, as with the stock method.
    """
    stock = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            stamp = None
        else:
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and cached is not None
                and stamps.get(self.archive) == stamp):
            self._files = cached
            return
        # stamped before the read: an archive that changes during the read
        # only costs one more read on the next call
        stock(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install_stat_checked_invalidation()
    importlib.invalidate_caches()  # stamp every archive once, before the fork
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
