"""Python worker daemon of :func:`codegraph_spark.session.get_spark` sessions.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.11 that makes every ``zipimporter`` re-read its
archive's whole central directory, and a worker holds one importer per
package path inside ``pyspark.zip`` and the py4j zip. That re-read was
most of a warm task's fixed cost. Here an importer re-reads its archive
only when the archive's ``(mtime_ns, size)`` changed since its last read,
so a rewritten ``addPyFile`` archive is still picked up.

Importing this module changes nothing; only the daemon process, run as
``python -m codegraph_spark.pydaemon``, installs the replacement, and the
workers it forks inherit it.
"""

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive's stamp is the one this importer last read it at."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _stock_invalidate_caches(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    # the module's own name, not ``__main__``, so a worker can tell whose
    # method it runs
    from codegraph_spark import pydaemon

    zipimport.zipimporter.invalidate_caches = pydaemon.invalidate_caches
    from pyspark import daemon

    daemon.manager()
