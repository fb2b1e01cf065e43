"""Python worker daemon for ``session.get_spark`` sessions.

Spark forks every Python worker from one daemon process, and each task's
setup (``pyspark.worker_util.setup_spark_files``) calls
``importlib.invalidate_caches()``.  Under CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
directory, and a worker holds over a dozen of them (``pyspark.zip`` once
per imported subpackage, the py4j zip, the spark-core jar): about 0.3 s of
every task before any user code runs.

Run as ``python -m cassandra_snap_to_hadoop_spark.worker_daemon`` (Spark
does, through ``spark.python.daemon.module``), this module makes an
unchanged archive cost one ``stat`` instead of a re-read, then runs
Spark's own daemon; forked workers inherit the patch.  Importing the
module patches nothing.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_unless_unchanged(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read when the
    archive's (mtime_ns, size, inode) equals the stamp taken at this
    importer's last re-read.  Any change, a missing archive, or an
    importer never re-read before takes Spark's stock path.  The stamp is
    taken before the read, so an archive rewritten during the read is
    re-read next time."""
    stamp = _stamp(importer.archive)
    if stamp is not None and stamp == getattr(importer, "_reread_stamp", None):
        return
    _stock_invalidate(importer)
    importer._reread_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_unless_unchanged

    from pyspark.daemon import manager

    manager()
