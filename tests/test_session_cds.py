"""The driver JVM's class-data-sharing archive (``session.get_spark``).

What its key covers, that a first process leaves a checked archive that a
second process maps, that a writer killed mid-dump leaves none, and that a
real file in the conf directory turns the archive off. Every session runs
in a subprocess with its own ``XDG_CACHE_HOME``, so no test touches the
archive the rest of the suite uses.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from toy_map_reduce_spark.session import _Cds, _archive_key, _promote

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Starts a session and prints its JVM's input arguments, the archives the
# JVM has mapped, SPARK_CONF_DIR, the package zip it shipped and a query
# result as one JSON line; the `after` snippet then decides how the
# process ends.
SESSION = """
import json, os, sys, time
from toy_map_reduce_spark import session
from toy_map_reduce_spark.session import get_spark
spark = get_spark("cds-test", cores=2)
sc = spark.sparkContext
proc = sc._gateway.proc
args = list(sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
            .getInputArguments())
with open(f"/proc/{proc.pid}/maps") as fh:
    mapped = sorted({ln.split()[-1] for ln in fh if ln.rstrip().endswith(".jsa")})
print(json.dumps({"args": args, "mapped": mapped,
                  "conf_dir": os.environ.get("SPARK_CONF_DIR"),
                  "java": sc._jvm.System.getProperty("java.home") + "/bin/java",
                  "classpath": sc._jvm.System.getProperty("java.class.path"),
                  "pkg": session._package_zip(),
                  "sum": spark.range(10).selectExpr("sum(id)").first()[0]}), flush=True)
"""

# as perfbench/run.py's stop_spark does
STOP = """
gateway = sc._gateway
spark.stop()
gateway.shutdown()
proc.stdin.close()
proc.wait(timeout=120)
"""

# let the JVM start writing the archive, then kill it
KILL = """
tmp = next(a.split("=", 1)[1] for a in args if a.startswith("-XX:ArchiveClassesAtExit="))
proc.stdin.close()
while not os.path.exists(tmp):
    assert proc.poll() is None, "the JVM exited before writing the archive"
    time.sleep(0.01)
proc.kill()
print(json.dumps({"rc": proc.wait()}), flush=True)
"""


def _env(cache, **extra) -> dict[str, str]:
    env = dict(os.environ)
    # this process's own session may have pointed it at the user's cache
    env.pop("SPARK_CONF_DIR", None)
    env.update(XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="1g", **extra)
    return env


def _session(env: dict[str, str], after: str = "") -> tuple[dict, list[dict], str]:
    """Run SESSION + ``after`` in a subprocess; (its first JSON line, the
    JSON lines after it, stdout)."""
    out = subprocess.run(
        [sys.executable, "-c", SESSION + after], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [json.loads(ln) for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert lines[0]["sum"] == 45
    return lines[0], lines[1:], out.stdout


def _cache_files(cache, pattern: str) -> list[str]:
    return glob.glob(os.path.join(str(cache), "spark-graft", pattern))


def test_key_changes_when_a_jar_changes(tmp_path):
    jars = tmp_path / "spark" / "jars"
    jars.mkdir(parents=True)
    for name in ("a.jar", "b.jar"):
        (jars / name).write_bytes(b"PK\x05\x06" + bytes(18))
    java = os.path.realpath(sys.executable)  # any file stands in for the binary

    def key(mem: str = "1g") -> str:
        return _archive_key(java, str(tmp_path / "spark"), str(tmp_path / "conf"), mem)

    before = key()
    assert key() == before
    st = os.stat(jars / "b.jar")
    os.utime(jars / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert key() != before
    # compressed oops go off at a 32 GiB heap, and the archive with them
    assert key("31g") == key("1g") != key("32g") == key(str(32 << 10))


@pytest.mark.parametrize("ending", ["stop", "exit"])
def test_first_process_leaves_an_archive_the_second_maps(tmp_path, ending):
    env = _env(tmp_path)
    first, _, first_out = _session(env, STOP if ending == "stop" else "")
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in first["args"])
    assert first["conf_dir"] == str(tmp_path / "spark-graft" / "conf")

    archives = _cache_files(tmp_path, "cds-*.jsa")
    assert len(archives) == 1, os.listdir(tmp_path / "spark-graft")
    assert _cache_files(tmp_path, "*.tmp") == []

    second, _, second_out = _session(env)
    assert f"-XX:SharedArchiveFile={archives[0]}" in second["args"]
    assert archives[0] in second["mapped"]
    for out in (first_out, second_out):
        assert not [ln for ln in out.splitlines() if "[cds" in ln]

    # A truncated archive would crash every JVM that maps it: a dump cut
    # short is never promoted, even when its JVM exited with status 0.
    cds = _Cds(second["java"], second["conf_dir"], "cut", str(tmp_path / "cut" / "cds-cut.jsa"))
    os.makedirs(os.path.dirname(cds.archive))
    cut = cds.archive + ".1.tmp"
    with open(archives[0], "rb") as src, open(cut, "wb") as dst:
        dst.write(src.read(os.path.getsize(archives[0]) // 2))
    _promote(0, cut, cds, second["classpath"])
    assert os.listdir(os.path.dirname(cds.archive)) == []


def test_writer_killed_mid_dump_leaves_no_archive(tmp_path):
    _, after, out = _session(_env(tmp_path), KILL)
    assert after == [{"rc": -9}]
    assert _cache_files(tmp_path, "cds-*.jsa") == []
    assert _cache_files(tmp_path, "*.tmp") == []
    assert not [ln for ln in out.splitlines() if "[cds" in ln]


def test_real_conf_file_leaves_conf_dir_alone(tmp_path):
    spark_home = _find_spark_home()
    home = tmp_path / "spark"
    home.mkdir()
    for entry in os.listdir(spark_home):
        if entry != "conf":
            (home / entry).symlink_to(os.path.join(spark_home, entry))
    (home / "conf").mkdir()
    (home / "conf" / "spark-env.sh.template").write_text("")
    (home / "conf" / "spark-defaults.conf").write_text("# read by spark-submit\n")

    first, _, _ = _session(_env(tmp_path / "cache", SPARK_HOME=str(home)))
    assert first["conf_dir"] is None
    assert not [a for a in first["args"] if "Archive" in a]
    # the cache holds nothing: no conf directory, no archive, no package
    # zip; the zip's own directory went at exit
    assert _cache_files(tmp_path / "cache", "*") == []
    assert re.fullmatch(r"pkg_[0-9a-f]+\.zip", os.path.basename(first["pkg"]))
    assert not os.path.exists(os.path.dirname(first["pkg"]))
