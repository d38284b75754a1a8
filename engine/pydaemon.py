"""Python worker daemon: ``pyspark.daemon`` with lazy zip-archive reloads.

Every Python task calls ``importlib.invalidate_caches()``, and CPython
3.11's ``zipimporter.invalidate_caches`` re-reads the whole directory of
its archive each time: ``pyspark.zip`` and the spark-core jar, 250-420 ms
per task on a 4-core host. Before forking workers, this daemon makes it
re-read an archive only when the archive's ``(st_mtime_ns, st_size)`` has
changed, which is what CPython 3.13's lazy invalidation amounts to.
``engine.session`` starts it through ``spark.python.daemon.module``.
"""

import os
import zipimport

_reload = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and stamp == getattr(self, "_engine_stamp", None):
        return
    _reload(self)
    self._engine_stamp = stamp


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp every archive once, before the fork
    from pyspark.daemon import manager

    manager()
