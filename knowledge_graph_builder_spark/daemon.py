"""Python worker daemon (``spark.python.daemon.module``) that keeps
zip-import directories across tasks.

Every task a Python worker runs starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes each
``zipimporter`` on ``sys.path_importer_cache`` re-read its archive's
central directory: ``pyspark.zip``, the py4j zip and any ``--py-files``
archive, once per package path inside each. A local-mode worker carries
16 such importers; on a 4-CPU VM the re-reads cost 0.3-0.5 s of every
task before the UDF runs.

This module patches ``zipimport.zipimporter.invalidate_caches`` to skip
the re-read while the archive's ``(st_ino, st_size, st_mtime_ns)`` is the
one seen at that importer's last read; a rewritten archive is re-read as
before. Every other finder is invalidated exactly as before, and a zip
added mid-application (``addPyFile``) lands on a new ``sys.path`` entry,
which gets a new importer. It then runs pyspark's own daemon loop, whose
forked workers inherit the patch.

``session.get_spark`` selects this module when it starts the JVM itself
and the workers can import the package.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _archive_stat(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed since this importer last read it."""
    stat = _archive_stat(self.archive)
    if stat is not None and getattr(self, "_read_stat", None) == stat:
        return
    _reread(self)
    # taken before the read: a write during the read shows as a change
    self._read_stat = stat


if __name__ == "__main__":
    from pyspark import daemon  # imports the worker, so its importers exist

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()  # every importer reads once and records its archive's state
    daemon.manager()
