"""PySpark worker daemon: start-up archives read once, engine imports preloaded.

Enabled by ``spark.python.daemon.module=upton_spark.spark_daemon`` (set in
plans.session.get_spark). Control flow is delegated verbatim to
pyspark.daemon.manager; this module only changes what the forked workers
inherit.

1. Start-up archives are read once. PySpark's worker calls
   ``importlib.invalidate_caches()`` at the start of every Python task
   (``worker_util.setup_spark_files``), so that zips shipped with
   ``addPyFile`` become importable. On CPython < 3.13 that makes every zip
   importer re-read its whole archive directory eagerly. The archives Spark
   puts on the worker's ``PYTHONPATH`` (pyspark.zip, the py4j zip and the
   spark-core jar, ~1.3k and ~5.4k entries for the two big ones) have one
   importer per imported package prefix, so each task paid ~210-240 ms of
   directory reads before touching a row: most of the Python-worker CPU of
   a small crawl. Those archives never change while the daemon lives, so a
   ``sys.path_hooks`` entry serves them with an importer whose
   ``invalidate_caches`` does nothing. Zips added later (the ``addPyFile``
   ones under the SparkFiles dir) and directory finders keep the stock
   invalidation. CPython >= 3.13 already defers the re-read to the next
   import from the archive, so there the hook saves little.

2. Heavy imports are preloaded. Stock pyspark.daemon forks workers that
   then cold-import pandas/numpy/pyarrow per fork: with 32 cores and
   pipelined Arrow-UDF stages that is a multi-second import storm on every
   new stage shape (measured ~7-15 s per first execution). Importing the
   heavy modules here, in the daemon parent, lets every forked worker
   inherit them copy-on-write.
"""

import os
import sys
import zipimport

# Every file on sys.path now is an archive Spark put there for this daemon.
_STARTUP_ARCHIVES = frozenset(p for p in sys.path if os.path.isfile(p))


class _FrozenZipImporter(zipimport.zipimporter):
    """A zip importer that keeps the directory it read at construction."""

    def invalidate_caches(self):
        pass


def _startup_archive_hook(path):
    if any(path == a or path.startswith(a + os.sep) for a in _STARTUP_ARCHIVES):
        return _FrozenZipImporter(path)
    raise ImportError(f"not a start-up archive: {path}")


sys.path_hooks.insert(0, _startup_archive_hook)
# upton_spark/__init__.py has already imported pyspark through stock
# importers; drop them so every path is looked up again through the hook.
sys.path_importer_cache.clear()

# Heavy third-party imports first (the big wins):
import numpy  # noqa: F401
import pandas  # noqa: F401

try:  # pyarrow is what Arrow-batched UDFs deserialize with
    import pyarrow  # noqa: F401
    import pyarrow.pandas_compat  # noqa: F401
except ImportError:  # pragma: no cover
    pass

# Engine modules used inside UDFs:
import upton_spark.urlkit  # noqa: F401
import upton_spark.html.extract  # noqa: F401
import upton_spark.operators.dedup  # noqa: F401

import gc

# Instagram-style fork hygiene: freeze the post-import heap into the
# permanent generation so forked workers never traverse (and
# copy-on-write-unshare) it. The cyclic GC stays ENABLED with a raised
# gen-0 threshold: the DOM trees built by the extraction UDFs carry
# parent<->children reference cycles, so with collection disabled every
# parsed page would leak (observed: 32 workers OOM-killed mid-stage).
# freeze() alone keeps the COW win; the raised threshold amortizes the
# collector over ~50k allocations.
gc.collect()
gc.freeze()
gc.set_threshold(50_000, 20, 20)

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
