"""get_session builds the session and does nothing else: it starts no
Spark job, and a job that runs no Python (the daily raster job) forks no
Python worker. Only a fresh driver process shows what session start
does, so the check runs in a subprocess."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from conftest import SF_DIR

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
