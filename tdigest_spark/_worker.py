"""Spark Python worker bootstrap: stop the per-task re-parse of zip archives.

At the start of every task pyspark's worker calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``).
Under CPython 3.11 that makes every ``zipimport.zipimporter`` on
``sys.path_importer_cache`` re-read its whole archive directory.  A
worker holds about 16 of them (12 over ``pyspark.zip``, 2 over the
spark-core jar, the rest over py4j), so each task parses ~26.7k
central-directory entries: 0.2-0.4 s of CPU per task on a 4-vCPU box,
more than the sketch kernels of a small task spend.

``install`` wraps ``zipimporter.invalidate_caches`` so an importer skips
the re-read while its archive keeps the ``(st_mtime_ns, st_size,
st_ino)`` signature it had at that importer's last real read.  An archive
that changed (``addPyFile``, a ``--py-files`` re-ship), one the importer
has never re-read, or one whose stat fails still takes the stdlib path,
so import semantics are unchanged.  The package calls ``install`` only
inside Spark Python workers; this module imports nothing but ``os`` and
``zipimport``.
"""

import os
import zipimport

_SIG = "_tdigest_spark_archive_sig"


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` (idempotent)."""
    cls = zipimport.zipimporter
    stdlib = getattr(cls.invalidate_caches, "__wrapped__", cls.invalidate_caches)

    def invalidate_caches(self):
        # stat BEFORE the read: a change racing the read leaves a stale
        # signature, which forces one more read next time, never a miss
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        if sig is not None and sig == getattr(self, _SIG, None):
            return
        stdlib(self)
        # on the instance, not keyed by id(): ids are reused after GC
        setattr(self, _SIG, sig)

    invalidate_caches.__wrapped__ = stdlib
    cls.invalidate_caches = invalidate_caches
