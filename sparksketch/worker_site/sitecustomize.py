"""Python-worker runtime fix, loaded via PYTHONPATH into every Python
process that Spark forks (pyspark.daemon and its worker children).

Why this exists (round-5 profiling, xp_crossing in BENCH.md "Retired
diagnostic scripts" + the worker instrumentation in tools/inst/):
pyspark's worker calls
``importlib.invalidate_caches()`` once per task (worker_util.py
``setup_spark_files``), and on CPython 3.11 ``zipimporter.
invalidate_caches()`` re-reads the ENTIRE zip central directory
unconditionally.  The worker's sys.path carries three large archives
(pyspark.zip, py4j zip, spark-core jar), so every task paid ~137 ms of
pure directory re-parsing — 18 core-seconds per 128-task stage, the
dominant cost of every mapInPandas stage at small partition sizes.

CPython >= 3.12 guards this with an archive-mtime check
(python/cpython GH-87319); this module backports exactly that guard:
``invalidate_caches`` becomes a no-op while the archive's mtime is
unchanged, and falls through to the original full re-read the moment the
file changes.  Semantics are identical to modern CPython — py-files
added mid-job still invalidate correctly because adding a file changes
the staged archive, not these system archives.

Gated behind SPARKSKETCH_ZIPIMPORT_FIX so merely having the directory on
PYTHONPATH changes nothing; sparksketch.workerenv.configure() sets the
gate + PYTHONPATH before the JVM (and therefore the daemon) starts.
"""
import os
import sys

if os.environ.get("SPARKSKETCH_ZIPIMPORT_FIX") and \
        sys.version_info < (3, 12):
    import zipimport

    _orig_invalidate = zipimport.zipimporter.invalidate_caches

    def _invalidate_if_changed(self):
        try:
            mtime = os.path.getmtime(self.archive)
        except OSError:
            mtime = None
        if mtime is not None and \
                getattr(self, "_sparksketch_zip_mtime", None) == mtime:
            return
        self._sparksketch_zip_mtime = mtime
        return _orig_invalidate(self)

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
