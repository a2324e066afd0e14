"""Python worker daemon for sessions built by :func:`session.get_spark`.

Spark's worker runs ``importlib.invalidate_caches()`` before every task
(``worker_util.setup_spark_files``).  Each cached ``zipimporter`` then
re-reads its archive's directory in pure Python: the Spark core jar and
``pyspark.zip`` sit on the worker path and cost tens of milliseconds per
task although neither changes while a session runs.  This daemon gates that
re-read on the archive's ``(st_mtime_ns, st_size)`` stamp, seeds the stamps
once so forked workers inherit them, and then runs Spark's stock daemon.

It imports nothing beyond what the stock daemon imports: a module loaded
here is resident in every forked worker.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    it is new to this process, its stamp changed, or it cannot be stat'ed."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stamps.pop(self.archive, None)
        _stock_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if _stamps.get(self.archive) == stamp and cached is not None:
        # Another importer of the same archive may have re-read it already.
        self._files = cached
        return
    _stock_invalidate(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    importlib.invalidate_caches()
    daemon.manager()
