"""Pre-warmed PySpark worker daemon, named in ``session.TUNING_CONF``.

The stock daemon forks a fresh worker per task slot; each worker then pays
the numpy/pandas/pyarrow import (~1.5-2 s of CPU and tens of MB of freshly
faulted pages) before its first batch. With N task slots × multiple chained
UDF stages that import storm lands entirely inside the first job's critical
path — measured as a multi-second serial floor per parallelism level.

Importing the heavy modules HERE, in the daemon process *before* it forks,
gives every worker a warm copy-on-write image: imports resolve instantly and
the module pages are shared. The engine's own kernel modules are warmed too.
This module then defers to the stock ``pyspark.daemon`` manager loop.
"""

# fmt: off
import numpy            # noqa: F401
import pandas           # noqa: F401
import pandas.core.util.hashing  # noqa: F401  (pd.util.hash_array path)
import pyarrow          # noqa: F401

try:  # engine kernels (repo root must be on PYTHONPATH; see session.py)
    import jira_duplicate_detection_turkcell__spark.operators.signatures  # noqa: F401
    import jira_duplicate_detection_turkcell__spark.extract  # noqa: F401
    import jira_duplicate_detection_turkcell__spark.operators.winnow  # noqa: F401
    import jira_duplicate_detection_turkcell__spark.operators.suffix  # noqa: F401
    import jira_duplicate_detection_turkcell__spark.operators.components  # noqa: F401
except ImportError:  # pragma: no cover - daemon still works without them
    pass
# fmt: on


def patch_zipimport_invalidate() -> None:
    """Make ``zipimporter.invalidate_caches()`` a no-op while the archive is
    unchanged (stat-guarded), instead of re-reading the whole zip directory.

    ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` once PER TASK; CPython's zipimporter
    implements that by unconditionally re-parsing the zip central directory
    — ~35 ms × every zip on sys.path (pyspark.zip alone has ~30k entries).
    Worker-side cProfile over a 128-task job attributed 68% of ALL worker
    CPU (234 of 344 s) to these re-reads: ~0.57 s of pure overhead per
    task, which at fine split sizes rivals the actual kernel work and eats
    the scaling headroom at every width. The archives cannot change inside
    a running job (spark-submit ships them once), so re-reading is only
    needed when (mtime, size) actually moved — exactly what this guard
    checks. A genuinely updated zip still invalidates correctly unless it
    was replaced byte-for-byte-same-size with its mtime deliberately
    preserved to nanosecond precision — not a deployment that exists for
    spark-submit-shipped archives.
    """
    import os
    import zipimport

    orig = zipimport.zipimporter.invalidate_caches

    def stat_guarded(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            return orig(self)
        if getattr(self, "_jdt_zip_stat", None) == key:
            return None
        result = orig(self)
        self._jdt_zip_stat = key
        return result

    stat_guarded._jdt_patch = True  # idempotence marker
    if not getattr(zipimport.zipimporter.invalidate_caches, "_jdt_patch", False):
        zipimport.zipimporter.invalidate_caches = stat_guarded


if __name__ == "__main__":
    # Only the actual daemon launch (`python -m …warm_daemon` by Spark's
    # Python worker factory) patches stdlib behavior — importing this
    # module (tests, tooling) must not change the importing process.
    patch_zipimport_invalidate()

    # Prime the guard on every finder that already exists in THIS process:
    # the forked workers inherit the primed state copy-on-write, so their
    # per-task importlib.invalidate_caches() costs a handful of stat()
    # calls, nothing else. (Finders created later — e.g. --py-files zips
    # added by setup_spark_files — pay one directory read per worker, then
    # hit the guard.)
    import importlib

    importlib.invalidate_caches()

    from pyspark.daemon import manager

    manager()
