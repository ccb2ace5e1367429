"""Spark's Python worker daemon, with an import-cache refresh that checks first.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(pyspark/worker_util.py:144, ``setup_spark_files``) so that files added to the
job become importable. On CPython 3.11 each ``zipimporter`` answers by
re-reading its whole archive directory (zipimport.py:329-336). A reused worker
holds ~16 importers over pyspark.zip and the py4j zip, so unchecked, every task
parses ~27k directory entries (~0.2 s of CPU) before any of its own work.

Here each importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp taken at that importer's last
read, or when the ``stat`` fails. A new path still gets a new importer, and an
archive rewritten in place changes its stamp, so what becomes importable is
unchanged. ``get_spark`` starts the daemon from this module; every worker forks
from it and inherits the check.
"""

import os
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


_reread = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _refresh_if_changed(self):
    """zipimporter.invalidate_caches that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_grenad_stamp", None):
        _reread(self)
        self._grenad_stamp = stamp


if __name__ == "__main__":
    if _reread is not None:  # otherwise the stock daemon runs unchanged
        zipimport.zipimporter.invalidate_caches = _refresh_if_changed
    from pyspark.daemon import manager

    manager()
