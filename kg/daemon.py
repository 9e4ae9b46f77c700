"""Python worker daemon for ``kg.session.build_session`` sessions.

Spark starts it as ``python -m kg.daemon <worker module>`` (the
``spark.python.daemon.module`` conf) in place of ``pyspark.daemon``.
It changes one thing before handing off to ``pyspark.daemon.manager()``:
the cost of ``importlib.invalidate_caches()``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark.worker_util.setup_spark_files``), so that files
and zips shipped with ``addPyFile`` become importable. On CPython
< 3.12 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its whole archive directory. A
worker holds one importer per package imported from a zip: 12 over
``pyspark.zip`` (1,328 entries), 2 over the spark-core jar (5,359
entries) and 2 over the py4j zip, about 0.18 s of CPU per task on a
4-core x86 host. The patched ``invalidate_caches`` re-reads an
archive only on an importer's first call and whenever the archive's
``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken at
that importer's last read, so a zip replaced under the same name is
still picked up. CPython 3.12 made the invalidation lazy, so there
the class is left as it is.

Forked workers inherit the patched class. Nothing else is imported
here: preloading pandas, pyarrow and the kg kernels in the daemon did
not speed up the first run and raised peak memory (CHANGES.md).
"""

import os
import sys
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install():
    """Make ``zipimporter.invalidate_caches`` re-read an archive only on
    an importer's first call and when the archive changed since its last
    read. Does nothing on Python 3.12+ or when already installed."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or cls.invalidate_caches.__module__ == __name__:
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_kg_stamp", None):
            self._kg_stamp = stamp
            reread(self)

    cls.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # Patch from the importable ``kg.daemon``, not from ``__main__``,
    # so the installed method names its real module.
    import kg.daemon

    kg.daemon.install()
    from pyspark import daemon

    daemon.manager()
