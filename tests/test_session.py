"""get_session builds the session and does nothing else: it starts no
Spark job, and a job that runs no Python (the daily raster job) forks no
Python worker. The driver JVM starts from the class-data-sharing archive,
or records it at exit. Only a fresh driver process shows what session
start does, so each check runs in a subprocess; the archive checks give it
a temporary XDG_CACHE_HOME, so no test shares the user's archive."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest
from conftest import SF_DIR

from pyofs_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = textwrap.dedent(
    """
    import json, os, sys, tempfile

    from pyofs_spark.jobs.daily import run_daily_job
    from pyofs_spark.session import get_session

    def descendants(pid):
        children = {}
        for p in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{p}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(p))
        out, todo = [], [pid]
        while todo:
            out.extend(kids := children.get(todo.pop(), []))
            todo.extend(kids)
        return out

    def cmdline(pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                return fh.read().replace(b"\\0", b" ").decode()
        except OSError:
            return ""

    spark = get_session(master="local[2]", app_name="session-start")
    jobs = list(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    with tempfile.TemporaryDirectory() as out:
        summary = run_daily_job(spark, sys.argv[1], out, ("sst",), ("2024-01-02",))
    workers = [c for c in map(cmdline, descendants(os.getpid())) if "pyspark.daemon" in c]
    print(json.dumps({"jobs": jobs, "ran": summary["ran"], "workers": workers}))
    spark.stop()
    """
)


def test_session_start_runs_no_job_and_forks_no_python_worker():
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER, SF_DIR],
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": ROOT},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["jobs"] == []
    assert result["ran"] == ["sst__2024-01-02"]
    assert result["workers"] == []


ARCHIVE_DRIVER = textwrap.dedent(
    """
    import json, os, signal, sys

    from pyspark import SparkContext
    from pyofs_spark.session import get_session

    spark = get_session(master="local[1]", app_name="cds")
    proc = SparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/maps") as fh:
        maps = sorted({ln.split()[-1] for ln in fh.read().splitlines() if ln.endswith(".jsa")})
    total = spark.range(1000).selectExpr("sum(id)").first()[0]
    print(json.dumps({"pid": proc.pid, "maps": maps, "sum": total,
                      "conf_dir": os.environ.get("SPARK_CONF_DIR")}), flush=True)
    if sys.argv[1] == "kill":
        os.kill(proc.pid, signal.SIGKILL)
        proc.wait()
    """
)


def _start(cache, mode="run", **env) -> dict:
    base = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    proc = subprocess.run(
        [sys.executable, "-c", ARCHIVE_DRIVER, mode],
        cwd=ROOT,
        env={**base, "PYTHONPATH": ROOT, "XDG_CACHE_HOME": str(cache), "SPARK_DRIVER_MEM": "1g", **env},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["sum"] == 499500
    return result


def _archive(cache) -> str:
    key = session._archive_key(session._find_spark_home())
    return os.path.join(cache, "pyofs_spark", "cds", f"{key}.jsa")


def _files(cache) -> list[str]:
    cds = os.path.join(cache, "pyofs_spark", "cds")
    return sorted(n for n in os.listdir(cds) if n != "conf") if os.path.isdir(cds) else []


def _java_alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"java" in fh.read()
    except OSError:
        return False


_CONF = os.path.join(session._find_spark_home(), "conf")
needs_template_conf = pytest.mark.skipif(
    any(not n.endswith(".template") for n in (os.listdir(_CONF) if os.path.isdir(_CONF) else [])),
    reason="Spark's own conf dir holds real files, so no archive can be recorded",
)


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    cache = tmp_path_factory.mktemp("xdg")
    return cache, _start(cache)


@needs_template_conf
def test_first_start_records_the_archive_and_waits_for_the_jvm(recorded):
    cache, first = recorded
    assert _files(cache) == [os.path.basename(_archive(cache))]
    assert session._intact(_archive(cache))
    assert _archive(cache) not in first["maps"]
    assert not _java_alive(first["pid"])
    assert first["conf_dir"] is None


@needs_template_conf
def test_second_start_maps_the_archive(recorded):
    cache, _ = recorded
    second = _start(cache)
    assert _archive(cache) in second["maps"]
    assert not _java_alive(second["pid"])


@needs_template_conf
@pytest.mark.parametrize("damage", ["garbage", "truncated"])
def test_a_damaged_archive_still_gives_a_working_session(recorded, tmp_path, damage):
    good = _archive(recorded[0])
    path = _archive(tmp_path)
    os.makedirs(os.path.dirname(path))
    with open(good, "rb") as src, open(path, "wb") as dst:
        dst.write(os.urandom(1 << 16) if damage == "garbage" else src.read(os.path.getsize(good) // 2))
    result = _start(tmp_path)
    assert path not in result["maps"]
    # the damaged file was not used; this start recorded a new archive
    assert session._intact(path)


def test_spark_conf_dir_with_a_real_file_turns_the_archive_off(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# no settings\n")
    result = _start(tmp_path, SPARK_CONF_DIR=str(conf))
    assert result["conf_dir"] == str(conf)
    assert not any(p.startswith(str(tmp_path)) for p in result["maps"])
    assert _files(tmp_path) == []


@needs_template_conf
def test_a_recording_jvm_killed_before_exit_leaves_no_archive(tmp_path):
    result = _start(tmp_path, "kill")
    assert _archive(tmp_path) not in result["maps"]
    assert _files(tmp_path) == []
