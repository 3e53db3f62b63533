"""SparkSession factory tuned for the maintenance engine.

AQE + Arrow + sane shuffle-partition defaults (BASELINE.json:north_star
"salted repartitioning and AQE-aware range partitioning"). Local-mode
testing only here; the builder flags apply on a real cluster via
``spark-submit --py-files`` too, with two caveats: the custom worker
daemon (``spark.python.daemon.module``) requires the package on the
EXECUTORS' import path (``--py-files dist/pi2spark.zip`` provides it),
and ``spark.local.dir`` should point at each node's fastest local
scratch. The library never picks that location itself:
``spark.local.dir`` is set only from ``PI2SPARK_LOCAL_DIR``, and left
to Spark's own default (``SPARK_LOCAL_DIRS``, else the system temp
dir) when that is unset — no silent switch to tmpfs.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pi2spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        # match parallelism in local mode; a real cluster would size
        # this to 2-3× total cores (AQE coalesces the excess anyway)
        shuffle_partitions = max(cores, 8)
    # Make this package importable by the worker interpreter regardless
    # of its cwd: the custom daemon module below ships in this package.
    # Must happen before the JVM launches (the gateway inherits env),
    # and only then: with a context already active the JVM and its
    # workers' environment exist, so changing the env would be a pure
    # side effect on the host process.
    if SparkContext._active_spark_context is None:
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        existing = os.environ.get("PYTHONPATH", "")
        if pkg_root not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_root + ((os.pathsep + existing) if existing else "")
            )
    # scratch location is the deployment's decision (module docstring)
    local_dir = os.environ.get("PI2SPARK_LOCAL_DIR")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("PI2SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Write-path syscall reduction. Hadoop's LocalFileSystem wraps
        # writes in ChecksumFileSystem (FSOutputSummer flushes ~4.5 KB
        # chunks + .crc sidecars) over a 4 KB io buffer — ~200k write
        # syscalls per GB. Raw FS + a 1 MiB buffer cuts that ~100×.
        # This matches production parity: S3A/ABFS and Iceberg's FileIO
        # do no client-side .crc either (parquet pages carry their own
        # checksums), and on this sandbox's hypervisor — where syscalls
        # intermittently cost 10-100× (see BENCH/BASELINE.md host
        # caveat) — the syscall count directly bounds write phases.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        .config("spark.hadoop.io.file.buffer.size", str(1 << 20))
        # Python-boundary fixed cost: the stock worker pays ~150-200 ms
        # of zipimport re-parsing PER TASK inside the per-task
        # importlib.invalidate_caches() call (Python 3.11; fixed
        # upstream in 3.12+). pi2spark.udfdaemon applies the 3.12-style
        # (mtime,size) guard before delegating to the stock daemon —
        # measured 2000-task pandas-UDF stages drop ~10 s on local[32].
        .config("spark.python.daemon.module", "pi2spark.udfdaemon")
        # Explicit-path scans (every maintenance wave passes its file
        # list to the reader) trigger a DISTRIBUTED listing job above
        # this many paths — one tiny task per file: measured 2.4 s per
        # 1600-file wave at 8 cores, 7.6 s at 2 (a parallelism-hostile
        # fixed cost). Driver-side stat of a path list is microseconds
        # per path on any FS, and the wave planner already bounds the
        # list at DEFAULT_WAVE_FILES (10^4). Object-store deployments
        # with slow per-path HEADs can lower this via extra_conf.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
