"""The Python worker daemon (``toy_map_reduce_spark/daemon/graft_daemon.py``):
its zipimporter cache check, and that the session's workers run under it
while importing the engine from the shipped package zip.

Run under ``SPARK_GRAFT_MASTER=local-cluster[n,cores,mem]``, the session's
tasks run in n executor processes: these tests then check that the tasks
really ran there, and that those processes' Python workers start as they
do in local mode."""

from __future__ import annotations

import importlib.util
import os
import re
import time
import zipfile
import zipimport

from toy_map_reduce_spark.session import _DAEMON_DIR


def _graft_daemon():
    path = os.path.join(_DAEMON_DIR, "graft_daemon.py")
    spec = importlib.util.spec_from_file_location("graft_daemon", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread_and_a_rewrite_is(tmp_path):
    daemon = _graft_daemon()
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    try:
        daemon.invalidate_caches(importer)
        files = importer._files
        daemon.invalidate_caches(importer)
        assert importer._files is files
        assert importer.find_spec("mod_b") is None

        _write_zip(archive, {"mod_a": "X = 1\n", "mod_b": "X = 2\n"})
        daemon.invalidate_caches(importer)
        spec = importer.find_spec("mod_b")
        assert spec is not None
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        assert module.X == 2
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


def test_workers_run_under_the_daemon_and_import_the_shipped_zip(spark):
    def probe(_):
        import sys

        import toy_map_reduce_spark

        yield sys.modules["__main__"].__file__, toy_map_reduce_spark.__file__

    for main_file, pkg_file in spark.sparkContext.parallelize(range(16), 16).mapPartitions(probe).collect():
        assert main_file.endswith("graft_daemon.py")
        assert re.search(r"/pkg_[0-9a-f]+\.zip/toy_map_reduce_spark/__init__\.py$", pkg_file), pkg_file


def test_executors_match_the_requested_master(spark):
    """local[N] runs every task in the driver, the one block manager;
    local-cluster[n,...] adds one per executor process. A session that
    fell back to local mode (a lost master override) would run any
    local-cluster parity sweep in one process and check nothing of the
    serialization boundary it exists for."""
    m = re.fullmatch(r"local-cluster\[(\d+),.*\]", os.environ.get("SPARK_GRAFT_MASTER", ""))
    want = int(m.group(1)) + 1 if m else 1
    sc = spark.sparkContext
    sc.parallelize(range(16), 16).count()  # executors register before they take tasks
    status = sc._jsc.sc().getExecutorMemoryStatus()
    deadline = time.monotonic() + 60
    while status.size() < want and time.monotonic() < deadline:
        time.sleep(0.5)
        status = sc._jsc.sc().getExecutorMemoryStatus()
    assert status.size() == want, (sc.master, status.size())
