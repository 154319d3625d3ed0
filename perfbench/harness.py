"""Measurement plumbing shared by the benchmark workloads.

Everything here observes the engine from outside: environment set-up for a
private local Spark session, process-tree peak RSS and hypervisor steal
ticks read from /proc, an in-memory span tracer that tags every Spark job
with the span that launched it, and a parser for the uncompressed Spark
event log that turns those tags into per-layer engine counters.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import subprocess
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cores() -> int:
    """Spark task slots: one CPU is left to the JVM's JIT and GC threads
    and the Python driver, which otherwise contend with the tasks and make
    pass times depend on how far JIT compilation has got."""
    return max(1, nproc() - 1)


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and make the package importable by the Python workers."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM (the launcher too): no hsperfdata files, temp files in WORK
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))


def session_conf(event_log_dir: str | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched heap: the JVM's share of peak_rss_mb is then
        # the same on every run instead of following G1's heap growth
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": "-Xms3g -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.local.dir": os.path.join(WORK, "spark-local"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(app_name: str, event_log_dir: str | None = None):
    from pyofs_spark.session import get_session

    n = cores()
    spark = get_session(
        app_name=app_name,
        master=f"local[{n}]",
        shuffle_partitions=max(8, n),
        extra_conf=session_conf(event_log_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# /proc readings
# ---------------------------------------------------------------------------


def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]) if len(parts) > 8 else 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        with contextlib.suppress(OSError):
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
    return out


def tree_peak_rss_bytes() -> int:
    """Sum over this process and its descendants (driver JVM, Python
    workers) of each process's high-water RSS (VmHWM)."""
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def environment_record(spark) -> dict:
    """Versions and host facts of a run; call while the session is up."""
    import platform

    import pyspark

    sha = ""
    if os.path.exists(os.path.join(ROOT, ".git")):
        with contextlib.suppress(OSError, subprocess.SubprocessError):
            sha = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=30,
            ).stdout.strip()
    system = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": nproc(),
        "git_sha": sha or "unknown",
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class NullTracer:
    """The tracer of untraced passes: its spans record nothing."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    """In-memory spans (name, start, end, parent, run id, scope). Each span
    also becomes the Spark job group `<scope><name>#<id>` for the jobs
    launched inside it, so the event log attributes engine work to the
    layer call that caused it. A scoped tracer shares the span list and run
    id but sees, and names job groups after, only its own scope's spans."""

    def __init__(self, sc, scope: str = "", shared: "Tracer | None" = None):
        self.sc = sc
        self.scope = scope
        self.run_id = shared.run_id if shared else uuid.uuid4().hex[:12]
        self.spans: list[dict] = shared.spans if shared else []
        self._t0 = shared._t0 if shared else time.perf_counter()
        self._stack: list[dict] = []

    def scoped(self, scope: str) -> "Tracer":
        return Tracer(self.sc, scope, shared=self)

    def _group(self, sp: dict) -> None:
        self.sc.setJobGroup(f"{self.scope}{sp['name']}#{sp['id']}", sp["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "scope": self.scope,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._stack:
                self._group(self._stack[-1])
            else:
                self.sc.setJobGroup("untraced", "untraced")

    def current(self) -> str | None:
        return self._stack[-1]["name"] if self._stack else None

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["scope"] == self.scope]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def self_time_of(self, span: dict) -> float:
        """A span's duration minus the time its direct children cover."""
        children = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == span["id"])
        return span["end"] - span["start"] - children

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh, indent=1)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


class GroupStats:
    __slots__ = (
        "jobs", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write",
        "shuffle_read", "spill", "join_rows", "udf_rows",
    )

    def __init__(self):
        for s in self.__slots__:
            setattr(self, s, 0)

    def add(self, other: "GroupStats") -> None:
        for s in self.__slots__:
            setattr(self, s, getattr(self, s) + getattr(other, s))


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Per job-group engine counters from an uncompressed event log.
    Job groups are `<span name>#<span id>`; the result is keyed by span
    name. Join output rows and pandas-UDF input rows come from the SQL
    plan metrics, mapped to plan nodes through the execution's plan info."""
    stage_group: dict[int, str] = {}
    acc_node: dict[int, str] = {}
    stats: dict[str, GroupStats] = {}

    def collect_plan(info: dict) -> None:
        name, desc = info.get("nodeName", ""), info.get("simpleString", "")
        kind = None
        if "EvalPython" in name:
            kind = "udf"
        elif "Join" in name and ("Inner" in desc or "Cross" in desc):
            kind = "join"  # candidate pairs; semi/anti/outer joins only filter
        for m in info.get("metrics", []):
            if kind and m.get("name") == "number of output rows":
                acc_node[m["accumulatorId"]] = kind
        for ch in info.get("children", []):
            collect_plan(ch)

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untraced"
                grp = grp.split("#")[0]
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = grp
                stats.setdefault(grp, GroupStats()).jobs += 1
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev.get("Stage ID"), "untraced")
                st = stats.setdefault(grp, GroupStats())
                st.tasks += 1
                tm = ev.get("Task Metrics") or {}
                st.run_ms += tm.get("Executor Run Time", 0)
                st.cpu_ns += tm.get("Executor CPU Time", 0)
                st.gc_ms += tm.get("JVM GC Time", 0)
                st.spill += tm.get("Disk Bytes Spilled", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    node = acc_node.get(acc.get("ID"))
                    if node is None:
                        continue
                    upd = int(acc.get("Update") or 0)
                    if node == "join":
                        st.join_rows += upd
                    else:
                        st.udf_rows += upd
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                collect_plan(ev.get("sparkPlanInfo") or {})
    return stats


def find_event_log(event_dir: str, app_id: str) -> str:
    for name in os.listdir(event_dir):
        if name.startswith(app_id):
            return os.path.join(event_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {event_dir}")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
