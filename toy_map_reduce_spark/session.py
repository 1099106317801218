"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster — AQE on (runtime re-plan, skew-join
splitting, partition coalescing), UTC session timezone (oracle parity with
timezone-naive parquet timestamps), Arrow enabled for the Pandas-UDF slow
path. Python workers start from ``daemon/graft_daemon.py``, which keeps
each task from re-reading every zip archive on the worker PYTHONPATH
(about 0.2 s a task on CPython 3.11).

A session that runs many queries keeps two things between them. RDD and
SQL Python jobs share one pool of workers: the SQL runners'
simplified-traceback env var is set for every worker, so it no longer
splits Spark's pool key, and the first Python UDF job after a warm RDD
pool took 0.6-0.8 s instead of 1.9-2.5 s (two sessions each, 4 cores).
Spark's cache of generated classes holds 8192 instead of 100, more than
one pass over the whole registry compiles (4258 at sf0.001): a warm
round of perfbench interactive_mix's queries recompiled about 380
classes with the default and now compiles 0-16, and the workload's
queries_per_s rose from 4.0 to 5.3 (medians of ten seeds, 4 cores).

The driver JVM maps Spark's classes from an AppCDS (application
class-data sharing) archive instead of parsing and verifying them from the
287 jars on every start. There is one archive per JDK + Spark install, in
``${XDG_CACHE_HOME:-~/.cache}/spark-graft/cds-<key>.jsa``, shared by every
checkout; ``_archive_key`` says what the key covers. The first session of
an install runs with ``-XX:ArchiveClassesAtExit`` to a temporary file; when
its JVM exits with status 0 (the caller stopped it, or at interpreter
exit) this process starts a JVM on that file and renames it into place
only if that JVM starts, since a truncated archive crashes every JVM that
maps it. Mapping the archive halves session start (perfbench ``setup_s``
7.3 to 4.0 s on 4 cores); the session that dumps it pays about 3 s more at
start and about 14 s more at exit, once per install. A caller whose
``extra_conf`` sets ``spark.driver.extraJavaOptions`` replaces the flags
and runs without the archive. The archive is only usable while the conf directory, which the
launcher puts first on the classpath, stays empty, so ``get_spark`` points
``SPARK_CONF_DIR`` at an empty ``spark-graft/conf`` when the default one
holds nothing but ``*.template`` files, and uses no archive otherwise.
``cds_status()`` says which archive the next session uses.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import hashlib
import os
import shutil
import subprocess
import tempfile
import threading
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql.session import _monkey_patch_RDD

from toy_map_reduce_spark import scratch


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _default_driver_mem() -> str:
    """Half of the host's MemTotal in whole GiB (at least 1g): the heap
    shares the machine with the Python workers and the page cache."""
    with open("/proc/meminfo") as fh:
        kb = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
    return f"{max(1, kb // 2 // (1 << 20))}g"


def _driver_mem() -> str:
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()


def _mem_bytes(mem: str) -> int:
    """Bytes in a Spark memory string; a bare number is MiB, as Spark
    reads ``spark.driver.memory``."""
    mem = mem.strip().lower().removesuffix("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if mem[-1:] in units:
        return int(mem[:-1]) * units[mem[-1]]
    return int(mem) << 20


class _Cds(NamedTuple):
    java: str  # the binary the launcher runs the driver with
    conf_dir: str  # the empty directory SPARK_CONF_DIR points at
    key: str
    archive: str


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(os.path.abspath(base), "spark-graft")


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except FileNotFoundError:
        return []


def _archive_key(java: str, spark_home: str, conf_dir: str, driver_mem: str) -> str:
    """Digest of what the archive's contents and validity depend on: the
    JDK binary, the jar set, the conf directory (first on the classpath),
    and whether the heap reaches 32 GiB, where the JVM turns compressed
    oops off and no longer matches an archive dumped with them on."""
    digest = hashlib.sha256()
    st = os.stat(java)
    digest.update(f"{java}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        digest.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    digest.update(f"{conf_dir}\0{_mem_bytes(driver_mem) >= 32 << 30}\n".encode())
    return digest.hexdigest()[:16]


def _cds_plan(driver_mem: str) -> _Cds | None:
    """The archive a driver JVM started now would use, or None.

    None when ``SPARK_CONF_DIR`` is set to a directory other than ours,
    when the default conf directory holds a file that is not a
    ``*.template`` (Spark may read it, so it stays on the classpath), or
    when no ``java`` is found. Changes nothing."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = os.path.join(_cache_dir(), "conf")
    current = os.environ.get("SPARK_CONF_DIR")
    if current is None:
        default = os.path.join(spark_home, "conf")
        if any(not f.endswith(".template") for f in _listdir(default)):
            return None
    elif os.path.abspath(current) != conf_dir:
        return None
    # the JDK refuses to dump or map with a non-empty conf directory, and
    # the launcher splits extraJavaOptions on whitespace
    if _listdir(conf_dir) or any(c.isspace() or c in "\"'\\" for c in conf_dir):
        return None
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    java = os.path.realpath(java)
    key = _archive_key(java, spark_home, conf_dir, driver_mem)
    return _Cds(java, conf_dir, key, os.path.join(_cache_dir(), f"cds-{key}.jsa"))


def cds_status() -> str:
    """One line: the archive key and whether the next session maps the
    archive or dumps it."""
    cds = _cds_plan(_driver_mem())
    if cds is None:
        return "cds archive: none (Spark's conf directory is in use, or no java)"
    state = "present" if os.path.exists(cds.archive) else "absent, the next session dumps it"
    return f"cds archive {cds.key}: {state} ({cds.archive})"


def _archive_maps(java: str, archive: str, classpath: str) -> bool:
    """Whether a JVM with ``classpath`` maps ``archive`` and starts. A
    truncated archive crashes it (status 134), a damaged header makes it
    exit 1; it has to be the session's own classpath, since the archive
    records the jars in the order the launcher listed them."""
    # A crashing JVM writes hs_err_pid*.log into its working directory.
    # Not a TemporaryDirectory: this runs during interpreter exit, when
    # weakref finalizers may remove that directory under the running JVM.
    cwd = tempfile.mkdtemp()
    try:
        return subprocess.run(
            [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
             "-XX:-CreateCoredumpOnCrash", "-cp", classpath, "-version"],
            cwd=cwd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=120,
        ).returncode == 0
    except subprocess.TimeoutExpired:
        return False
    finally:
        shutil.rmtree(cwd, ignore_errors=True)


def _promote(returncode: int, tmp: str, cds: _Cds, classpath: str) -> None:
    """Rename a dumped archive into place if its JVM exited cleanly and a
    JVM maps it; delete it otherwise. Then delete archives with other keys
    and temporary files whose writer has gone (each is about 180 MB)."""
    try:
        if (returncode != 0 or not os.path.exists(tmp)
                or not _archive_maps(cds.java, tmp, classpath)):
            return
        os.replace(tmp, cds.archive)
        cache = os.path.dirname(cds.archive)
        for name in os.listdir(cache):
            path = os.path.join(cache, name)
            if not name.startswith("cds-") or path == cds.archive:
                continue
            if name.endswith(".tmp"):
                writer = name.rsplit(".", 2)[1]
                if writer.isdigit() and scratch._pid_alive(int(writer)):
                    continue
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)


def _promote_on_exit(spark: SparkSession, tmp: str, cds: _Cds) -> None:
    """Promote the archive the session's JVM dumps when it exits, however
    it is stopped: a watcher thread waits for the JVM; at interpreter exit
    the JVM is told to exit (its stdin closes, as when this process ends)
    and the watcher is given time to finish."""
    sc = spark.sparkContext
    proc = sc._gateway.proc
    if proc is None:  # a JVM this process did not start
        return
    classpath = sc._jvm.System.getProperty("java.class.path")
    watcher = threading.Thread(
        target=lambda: _promote(proc.wait(), tmp, cds, classpath),
        name="cds-promote", daemon=True,
    )
    watcher.start()

    def at_exit() -> None:
        if proc.poll() is None:
            proc.stdin.close()
        # writing the archive takes about 14 s
        watcher.join(timeout=180)

    atexit.register(at_exit)


_DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "daemon")

_SHIPPED: set[str] = set()  # application ids the package zip was added to


@functools.cache
def _package_zip() -> str:
    """Zip this package's modules, once per process, into
    ``scratch.process_dir()`` (zipping takes about 5 ms). Not under
    ``_cache_dir()``: a zip per process would pile up there."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out = os.path.join(scratch.process_dir(), f"pkg_{os.getpid():x}.zip")
    with zipfile.ZipFile(out, "w") as z:
        for dirpath, dirs, files in os.walk(pkg_dir):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    z.write(p, os.path.relpath(p, root))
    return out


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Under local[N], driver and executors share one process and workers
    inherit the driver's sys.path, so an import inside a UDF resolves
    by accident; on real executor processes (local-cluster, a cluster)
    nothing ships the package. So the package is zipped, as
    spark-submit --py-files would ship it, and added to every session.
    """
    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED.add(sc.applicationId)


# Confs every result depends on: timestamps are read and shown in UTC
# (parquet stores naive micros, DuckDB reads naive).
_PINNED = {
    "spark.sql.session.timeZone": "UTC",
}


def pin_conf(spark: SparkSession) -> None:
    """Set the confs every result depends on where ``spark``'s differ: the
    external driver may hand in a session that get_spark did not build."""
    for k, v in _PINNED.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def streaming_session(spark: SparkSession) -> SparkSession:
    """A child of ``spark`` for one query's streams; the query's scope
    stops what still runs in it. The child shares the SparkContext and
    the cache, carries ``spark``'s runtime SQL conf as it is now and has
    its own temp views (a memory sink registers one). It plans with 4
    shuffle partitions and leaves the parent's alone: each stateful
    partition carries a state store with a fixed set-up cost (a
    stream-stream join holds four a partition), and the results do not
    depend on the count."""
    child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    _monkey_patch_RDD(spark)  # the constructor pointed RDD.toDF at the child
    child.conf.set("spark.sql.shuffle.partitions", "4")
    scratch.on_exit(_stop_streams, child)
    return child


def _stop_streams(child: SparkSession) -> None:
    for q in child.streams.active:
        q.stop()
    # every session's stream listener joins the SparkContext's bus for good
    child._jsc.sc().removeSparkListener(child._jsparkSession.streams().listenerBus())


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

    ``extra_conf`` lets a caller layer startup-only confs (perfbench sets
    the warehouse directory and the heap options) — remember the FIRST
    session in a process wins its config.
    An ``extra_conf`` that sets ``spark.driver.extraJavaOptions`` replaces
    the class-data-sharing flags, and that JVM runs without the archive.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or cores
    # SPARK_GRAFT_MASTER overrides the master URL: scripts/handoff_gate.sh
    # runs the daemon tests and the parity sweep under
    # local-cluster[2,4,2048], real executor PROCESSES and a real
    # serialization boundary, which in-process local[N] threads can't
    # exercise. Default stays local[cores,2].
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
        .config(map=_PINNED)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Size file splits to the machine, not to the 128 MB cloud-store
        # default: the sf0.1 tables are single ~2-11 MB parquet files,
        # which the default openCost (4 MiB) slices into only 1-3 input
        # tasks — a 32-core box runs 90% idle through every scan stage.
        # On a real cluster the same knobs scale with the data (100 TB /
        # 16 MiB splits ≈ 6.5M tasks is too many — there you'd RAISE
        # maxPartitionBytes); the point is sizing splits so every core
        # has work, which is exactly what these values do at local scale.
        .config("spark.sql.files.maxPartitionBytes", "16m")
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
        # Spark keeps one worker pool per (python, worker module, daemon
        # module, env vars). The SQL runners (Python and pandas UDFs,
        # mapInPandas, UDTFs) add SPARK_SIMPLIFIED_TRACEBACK=1 to the env
        # vars, as spark.sql.execution.pyspark.udf.simplifiedTraceback
        # .enabled is on by default, and PythonRDD does not; with it set
        # here both paths share one pool, so the first SQL Python job
        # after an RDD job boots no second set of workers.
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
        # Spark's JVM-wide cache of generated classes holds 100 by
        # default. One round of perfbench interactive_mix compiles about
        # 400 distinct classes, so in a session that repeats its queries
        # the LRU evicts each class before its next use: on one client,
        # four rounds compiled 409, 373, 377 and 379 classes with the
        # default and 387, 16, 0 and 4 with this cap, and a warm round
        # took 11.7-13.1 s instead of 15.5-16.0 s. One pass over every
        # registry query at sf0.001 compiles 4258 distinct classes, and a
        # second pass 78 more (code that differs between builds of one
        # query); the cap holds both with room for the registry to grow.
        # Kept classes cost memory: over that pass the JVM's peak RSS
        # rose from 3329 to 3892 MB.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # local mode = one JVM holding driver + every executor thread +
        # the persisted staging tables (shingles, windows, knn vectors),
        # so the heap defaults to half the host's RAM (_default_driver_mem);
        # SPARK_GRAFT_DRIVER_MEM overrides it
        .config("spark.driver.memory", _driver_mem())
    )
    extra_conf = extra_conf or {}
    cds = None
    if SparkContext._gateway is None and "spark.driver.extraJavaOptions" not in extra_conf:
        cds = _cds_plan(extra_conf.get("spark.driver.memory", _driver_mem()))
    dump = None
    if cds:
        # Class-data sharing (module docstring). Mapping the archive took
        # perfbench mapreduce_text's setup_s from 7.3 to 4.0 s (medians of
        # ten seeds, 4 cores) and, traced, its tables.load from 2.9 to
        # 1.4 s. Once per install, the JVM that dumps it starts about 3 s
        # slower and takes about 14 s longer to exit. -Xlog:cds=off keeps
        # the JVM's [cds] warnings off stdout.
        os.makedirs(cds.conf_dir, exist_ok=True)
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir
        if os.path.exists(cds.archive):
            flag = f"-XX:SharedArchiveFile={cds.archive}"
        else:
            dump = f"{cds.archive}.{os.getpid()}.tmp"
            flag = f"-XX:ArchiveClassesAtExit={dump}"
        builder = builder.config("spark.driver.extraJavaOptions", f"{flag} -Xlog:cds=off")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if dump:
        _promote_on_exit(spark, dump, cds)
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
