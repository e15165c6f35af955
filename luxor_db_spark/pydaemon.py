"""Python-worker daemon that skips the per-task zip re-read.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On CPython 3.11 that makes
every ``zipimport.zipimporter`` on the worker's path re-read its archive's
central directory, and a worker's ``sys.path`` starts with ``pyspark.zip``,
the py4j zip and the spark-core jar: about 0.22 s of CPU per task on 4 vCPU.
CPython 3.13 only drops the cache entry and reads the archive again lazily.

Run as ``spark.python.daemon.module`` (``session.get_spark`` sets it for
``local*`` masters), this module replaces ``zipimporter.invalidate_caches``
with a stat-guarded form: an importer re-reads its archive only when the
archive's ``(st_mtime_ns, st_size)`` differs from the stamp it recorded at
its last read, or when the archive cannot be stat'ed. A changed archive is
still re-read on the next invalidation, which is what ``invalidate_caches``
exists for. One ``importlib.invalidate_caches()`` before
``pyspark.daemon.manager()`` stamps every importer the daemon holds, so
forked workers inherit the stamps and skip the re-read from their first
task.

Dropping ``zipimport._zip_directory_cache`` entries alone would not do on
3.11: its importer reads ``self._files`` directly and would keep a stale
listing. Importing this module installs nothing; running it does.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_dir_stamp", None):
        _reread(self)
        self._dir_stamp = stamp


def install() -> None:
    """Use the stat-guarded invalidation in this process."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def main() -> None:
    install()
    import pyspark.daemon

    importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    # Run the importable copy, not ``__main__``'s, so the installed method
    # names its home module (``luxor_db_spark.pydaemon``).
    from luxor_db_spark.pydaemon import main as _main

    _main()
