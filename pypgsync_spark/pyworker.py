"""Python worker daemon for sessions built by ``session.get_spark``.

The JVM starts it as ``python -m pypgsync_spark.pyworker`` (the
``spark.python.daemon.module`` setting) in place of ``pyspark.daemon``.
It differs from that daemon in one respect: at the start of every task
pyspark calls ``importlib.invalidate_caches()`` (so that a file added
with ``addPyFile`` becomes importable), and on CPython < 3.13
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, once per importer. A worker importing pyspark
from ``pyspark.zip`` holds one importer per pyspark package, so every
task re-read the archive about 16 times, which cost far more CPU than
the Arrow kernels the task ran. Here the re-read happens only when the
archive's ``(st_mtime_ns, st_size)`` differs from the stamp taken at the
importer's last read. CPython 3.13 made the invalidation lazy, so there
the daemon is plain ``pyspark.daemon``.

Importing this module changes nothing; the patch is installed only when
it runs as the daemon.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STAMP = "_pypgsync_stamp"
_original_invalidate_caches = zipimport.zipimporter.invalidate_caches


def stamped_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    Falls back to the original method when the archive cannot be
    stat-ed or this importer carries no stamp yet, so a missing or
    rewritten archive behaves exactly as before."""
    try:
        st = os.stat(self.archive)
    except OSError:
        # the original leaves no files; whatever appears later is read
        self.__dict__.pop(_STAMP, None)
        _original_invalidate_caches(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, _STAMP, None) != stamp:
        _original_invalidate_caches(self)
        setattr(self, _STAMP, stamp)


def install() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = stamped_invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
