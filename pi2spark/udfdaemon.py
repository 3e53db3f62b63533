"""Python-worker daemon with a fixed-cost-per-task patch (guide §4).

Spark's worker runs ``importlib.invalidate_caches()`` once per task
(``pyspark/worker_util.py::setup_spark_files``) so that files added via
``sc.addPyFile`` mid-session become importable. On Python 3.11,
``zipimport.zipimporter.invalidate_caches`` unconditionally re-reads
and re-parses its archive's central directory — and a worker that has
imported pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` holds one
zipimporter per package subpath (a dozen or more), so every task pays
~150-200 ms of pure-Python zip parsing before any user code runs.
Measured here (worker-side instrumentation, 2000-task identity pandas
UDF over 1M rows on local[32]): ~200 ms/task — 1595 s of CPU across
8000 tasks — against ~1.5 ms/task for the UDF evaluation itself; the
whole stage was >10x slower than its useful work.

CPython 3.12+ fixes this upstream by making the zipimporter re-read
only when the archive's (mtime, size) changed (gh-84559 lineage /
zipimport._read_directory caching). This module applies the same guard,
keyed on the integer ``st_mtime_ns`` (a float ``st_mtime`` can round
two nearby writes to the same value), and then delegates to the stock pyspark daemon, preserving every other
behavior — including correctness of ``addPyFile``: replacing an
archive updates its mtime/size, which invalidates the guard and forces
the original full re-read.

Wired in by ``pi2spark.session.get_spark`` via
``spark.python.daemon.module=pi2spark.udfdaemon`` (the documented
pluggable-daemon hook), with the repo root appended to ``PYTHONPATH``
so the worker interpreter can import this module regardless of its
working directory.
"""

from __future__ import annotations


def patch_zipimporter_invalidate_caches() -> None:
    import os
    import zipimport

    orig = zipimport.zipimporter.invalidate_caches
    if getattr(orig, "_pi2spark_guarded", False):  # idempotent
        return

    def invalidate_caches(self):  # noqa: ANN001 — zipimporter instance
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if key is not None and getattr(self, "_pi2_zip_stat", None) == key:
            return  # archive unchanged: the cached directory is valid
        orig(self)
        if key is not None:
            self._pi2_zip_stat = key

    invalidate_caches._pi2spark_guarded = True  # type: ignore[attr-defined]
    zipimport.zipimporter.invalidate_caches = invalidate_caches  # type: ignore[method-assign]


patch_zipimporter_invalidate_caches()

from pyspark.daemon import manager  # noqa: E402  (after the patch, by design)

if __name__ == "__main__":
    manager()
