"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster — AQE on (runtime re-plan, skew-join
splitting, partition coalescing), UTC session timezone (oracle parity with
timezone-naive parquet timestamps), Arrow enabled for the Pandas-UDF slow
path. Python workers start from ``daemon/graft_daemon.py``, which keeps
each task from re-reading every zip archive on the worker PYTHONPATH
(about 0.2 s a task on CPython 3.11).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _default_driver_mem() -> str:
    """Half of the host's MemTotal in whole GiB (at least 1g): the heap
    shares the machine with the Python workers and the page cache."""
    with open("/proc/meminfo") as fh:
        kb = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
    return f"{max(1, kb // 2 // (1 << 20))}g"


_DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "daemon")

_SHIPPED: set[str] = set()  # application ids the package zip was added to


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    local[N] hides a whole bug class: driver and executors share one
    process, so executor-side Python workers inherit the driver's
    sys.path and any ``from toy_map_reduce_spark...`` import inside a UDF
    resolves by accident. On real executor processes (local-cluster, a
    real cluster) nothing ships the package, and every deferred in-UDF
    import dies with ModuleNotFoundError — exactly what the r12
    full-registry local-cluster sweep caught on the multimodal codec
    family. The fix is the canonical deployment pattern (spark-submit
    --py-files): zip the package once (cached under .layout_cache/) and
    addPyFile it at session build, so the code travels with the job no
    matter where the worker runs.

    The cache key is a digest over every file's (relpath, size,
    mtime_ns): max(mtime) truncated to seconds (the old key) reused a
    stale zip for two edits landing in the same second and never changed
    at all when a file was deleted — executors silently running
    different code than the driver, falsifying the local-cluster parity
    gate this exists to serve.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    import hashlib
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    paths: list[str] = []
    digest = hashlib.sha256()
    for dirpath, dirs, files in os.walk(pkg_dir):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                paths.append(p)
                st = os.stat(p)
                digest.update(
                    f"{os.path.relpath(p, root)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode()
                )
    out = os.path.join(root, ".layout_cache", f"pkg_{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = f"{out}.tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for p in paths:
                z.write(p, os.path.relpath(p, root))
        os.replace(tmp, out)
    sc.addPyFile(out)
    _SHIPPED.add(app_id)


def get_spark(
    app_name: str = "toy_map_reduce_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``shuffle_partitions`` defaults to the core count: at local test scale
    the Spark default of 200 just fragments tiny datasets; on a real
    cluster AQE coalesces to the right size at runtime anyway.

    ``extra_conf`` lets a measurement harness layer startup-only confs
    (e.g. scripts/skew_bench.py re-enables the UI for the task-metrics
    REST API) — remember the FIRST session in a process wins its config.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or cores
    # SPARK_GRAFT_MASTER overrides the master URL (scripts/
    # localcluster_smoke.py sets local-cluster[2,4,2048]: real executor
    # PROCESSES, real serialization boundary — the one execution surface
    # in-process local[N] threads can't exercise). Default stays
    # local[cores,2].
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores},2]")
    builder = (
        # local[cores, 2] = maxFailures 2: local mode defaults to
        # fail-fast (1 attempt), but the engine contract inherits the
        # reference's worker-loss recovery (task reassignment,
        # MasterProcessorLiveImpl.scala:101-116) through Spark task
        # retry — a cluster runs spark.task.maxFailures=4; one retry
        # locally keeps that semantic live (and tested:
        # tests/test_properties.py::test_task_retry_recovers...)
        # while still surfacing deterministic bugs on the second attempt.
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark's vectorized
        # reader rejects outright; read it as raw nanos (BIGINT) and convert
        # in tables.load_events.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Size file splits to the machine, not to the 128 MB cloud-store
        # default: the sf0.1 tables are single ~2-11 MB parquet files,
        # which the default openCost (4 MiB) slices into only 1-3 input
        # tasks — a 32-core box runs 90% idle through every scan stage.
        # On a real cluster the same knobs scale with the data (100 TB /
        # 16 MiB splits ≈ 6.5M tasks is too many — there you'd RAISE
        # maxPartitionBytes); the point is sizing splits so every core
        # has work, which is exactly what these values do at local scale.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
        .config("spark.sql.files.openCostInBytes", "65536")
        .config("spark.ui.enabled", "false")
        # Every Python task calls importlib.invalidate_caches(), which on
        # CPython 3.11 re-reads the central directory of each zip on the
        # worker PYTHONPATH (16 importers over pyspark.zip, py4j and the
        # spark-core jar): about 0.2 s a task, most of a trivial one.
        # graft_daemon re-reads an archive only when it changed. Its
        # directory holds nothing else and it drops the working directory
        # from sys.path, so the engine comes from _ship_package's zip.
        .config("spark.python.daemon.module", "graft_daemon")
        .config("spark.executorEnv.PYTHONPATH", _DAEMON_DIR)
        # local mode = one JVM holding driver + every executor thread +
        # the persisted staging tables (shingles, windows, knn vectors),
        # so the heap defaults to half the host's RAM (_default_driver_mem);
        # SPARK_GRAFT_DRIVER_MEM overrides it
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
