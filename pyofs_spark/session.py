"""SparkSession factory tuned for the engine.

Settings chosen for 100 TB scale-out semantics while testing on local[N]:
- AQE on (runtime coalescing, skew-join splitting)
- Arrow on (all custom kernels are pandas/Arrow UDFs, never per-row Python)
- shuffle partitions sized to the local core count; on a real cluster this
  is overridden to ~2-3x total cores via spark-submit conf.

`get_session` builds the session and does nothing else: it runs no query
and starts no Python worker. Spark forks the Python worker pool on the
first plan that runs Python (a pandas/Arrow UDF, `mapInArrow`), and
`spark.python.worker.reuse` (on by default) keeps that pool for the rest
of the session. A job that never runs Python, such as the daily raster
job or the tile-assignment stage, never pays for the pool: forking one
worker per core at session start and importing numpy, pandas and pyarrow
in each cost about 450 MB of resident memory and up to 6 s of set-up per
process (measured on a 4-core host with `perfbench` `daily_etl` and
`tile_assign`).

The driver JVM starts from a dynamic class-data-sharing (CDS) archive:
the classes the JVM loaded in an earlier run, already parsed and
verified, mapped from one file. Loading and verifying Spark's classes is
most of session start, and the archive takes about a third off it
(perfbench `setup_s` on a 4-core host, in paired runs). The first run on a machine has
no archive; its JVM records one at exit (`-XX:ArchiveClassesAtExit` into a
temp file), which costs that run about 5 s at start and 14-15 s at exit
to write 140-170 MB. The process that launched the JVM waits for it at
exit and publishes the file as `<key>.jsa` only after a clean exit, so an
interrupted or killed JVM leaves no archive. Every later run passes
`-XX:SharedArchiveFile`.

- Key: a hash of the java binary, its `lib/modules` and the Spark jars'
  names and sizes; a new JDK or Spark records a new archive, and
  publishing it deletes the others.
- Location: `$XDG_CACHE_HOME/pyofs_spark/cds/`, else
  `~/.cache/pyofs_spark/cds/`. The key depends on neither the checkout
  nor the job, so every checkout and run on the machine shares the one
  archive, and a fresh checkout or a wiped Spark local dir does not pay
  for recording again.
- Flags go in `spark.driver.defaultJavaOptions`, which Spark puts before
  `spark.driver.extraJavaOptions`, with CDS logging off, so no JVM line
  reaches stdout.
- JDK 17 refuses to archive a classpath holding a non-empty directory,
  and Spark's launcher puts `$SPARK_HOME/conf` first. When
  `SPARK_CONF_DIR` is unset and that directory holds only `*.template`
  files, the launch points `SPARK_CONF_DIR` at an empty directory in the
  cache and then restores the environment.
- Fallbacks: the session starts without an archive when `SPARK_CONF_DIR`
  is set or Spark's conf directory holds real files, when the cache
  cannot be created or written, and when the driver JVM is already
  running (nothing is touched then). A published archive ends in a
  trailer holding its length; a file without an intact trailer (garbage,
  or cut short: JDK 17 maps a truncated archive and dies of SIGBUS) is
  never passed to the JVM, and the run records a new one.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import itertools
import os
import shutil
import struct
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# how long the process that launched a driver JVM waits for it at exit; a
# JVM recording the archive spends 14-15 s writing it
JVM_EXIT_TIMEOUT_S = 180
_RECORDINGS = itertools.count()
# appended to a published archive: a marker and the archive's length. JDK 17
# ignores trailing bytes, but maps a truncated archive and dies of SIGBUS, so
# a file without an intact trailer is never passed to the JVM.
_TRAILER = struct.Struct("<8sQ")
_MARK = b"pyofscds"


def get_session(
    app_name: str = "pyofs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N shuffle partitions keeps every core busy without
        # tiny-task overhead; clusters override via --conf.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # HotSpot does not JIT a method over 8000 bytes of bytecode
        # (-XX:+DontCompileHugeMethods); under Spark's default limit (65535)
        # such a method stays in whole-stage codegen and runs interpreted.
        # At 8000, a stage whose largest generated method exceeds the limit
        # falls back from whole-stage codegen AT RUN TIME: explain() still
        # prints `*(n)`/`[codegen id : n]`, and only the WholeStageCodegenExec
        # INFO line "Found too long generated codes" and the bytecode stats
        # of debug.codegenStringSeq show it. The flagship tile stage is
        # written to fit when its key column is non-nullable; with a
        # nullable key it still falls back (PLANS.md; tests/test_operators.py
        # checks the non-nullable shapes).
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return b.getOrCreate()  # the driver JVM is already running
    launch = _archive_launch()
    if launch is None:
        return b.getOrCreate()
    flags, conf_dir, archive, tmp = launch
    user_flags = (extra_conf or {}).get("spark.driver.defaultJavaOptions")
    b = b.config("spark.driver.defaultJavaOptions", f"{flags} {user_flags or ''}".strip())
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = b.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
    atexit.register(_end_jvm, SparkContext._gateway.proc, tmp, archive)
    return spark


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "pyofs_spark", "cds")


def _archive_key(spark_home: str) -> str:
    """The archive's name: a hash of the java binary Spark's launcher runs
    (`$JAVA_HOME/bin/java`, else the one on PATH), the size and mtime of its
    `lib/modules`, and the names and sizes of the Spark jars."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.realpath(os.path.join(home, "bin", "java") if home else shutil.which("java") or "")
    modules = os.stat(os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules"))
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    h = hashlib.sha256(f"{java}\0{modules.st_size}\0{modules.st_mtime_ns}\0{jars}".encode())
    for e in sorted(os.scandir(jars), key=lambda e: e.name):
        h.update(f"\0{e.name}\0{e.stat().st_size}".encode())
    return h.hexdigest()[:20]


def _archive_launch() -> tuple[str, str, str, str | None] | None:
    """(JVM flags, empty conf dir, archive path, temp path) for a driver JVM
    that maps the archive (temp path None) or records it into the temp path;
    None when it must start without one."""
    if "SPARK_CONF_DIR" in os.environ:
        return None
    try:
        spark_home = _find_spark_home()
        conf = os.path.join(spark_home, "conf")
        if any(not n.endswith(".template") for n in (os.listdir(conf) if os.path.isdir(conf) else [])):
            return None
        key = _archive_key(spark_home)
        cache = _cache_dir()
        conf_dir = os.path.join(cache, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        archive = os.path.join(cache, f"{key}.jsa")
        if _intact(archive):
            return f"-XX:SharedArchiveFile={archive} -Xlog:cds=off", conf_dir, archive, None
        if not os.access(cache, os.W_OK):
            return None
    except OSError:
        return None
    tmp = os.path.join(cache, f"{key}.{os.getpid()}-{next(_RECORDINGS)}.tmp")
    return f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds=off", conf_dir, archive, tmp


def _end_jvm(proc: subprocess.Popen, tmp: str | None, archive: str) -> None:
    """At exit: end the driver JVM this process launched and wait for it.
    A recorded archive is published only after a clean exit."""
    with contextlib.suppress(OSError):
        proc.stdin.close()  # the gateway exits normally on EOF
    try:
        rc = proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        rc = proc.wait()
    if tmp is None:
        return
    with contextlib.suppress(OSError):
        size = os.path.getsize(tmp)
        if rc != 0 or not size:
            os.remove(tmp)
            return
        os.chmod(tmp, 0o644)  # the JVM writes it read-only
        with open(tmp, "ab") as fh:
            fh.write(_TRAILER.pack(_MARK, size))
        os.replace(tmp, archive)
        _prune(archive)


def _intact(archive: str) -> bool:
    """Whether `archive` ends in the trailer that publishing appends."""
    try:
        with open(archive, "rb") as fh:
            size = fh.seek(-_TRAILER.size, os.SEEK_END)
            return size > 0 and _TRAILER.unpack(fh.read()) == (_MARK, size)
    except OSError:
        return False


def _prune(archive: str) -> None:
    """Delete archives with other keys and temp files of dead processes."""
    for e in os.scandir(os.path.dirname(archive)):
        if e.name.endswith(".tmp"):
            try:
                os.kill(int(e.name.split(".")[1].split("-")[0]), 0)
                continue
            except ProcessLookupError:
                pass
            except (OSError, ValueError, IndexError):
                continue
        elif not e.name.endswith(".jsa") or e.path == archive:
            continue
        with contextlib.suppress(OSError):
            os.remove(e.path)


def materialize(df):
    """Cut a DataFrame's lineage and pin its result for multi-reference /
    iterative plans.

    Default: `localCheckpoint(eager=False)` — cheapest on the single-node
    bench, but NOT fault-tolerant (an executor loss makes the truncated
    lineage unrecoverable). On a real cluster set
    PYOFS_DURABLE_MATERIALIZE=1 to use a RELIABLE checkpoint instead:
    written to the checkpoint dir (set PYOFS_CHECKPOINT_DIR to an HDFS /
    object-store path in production), recoverable on executor loss, and —
    critically for the iterative call sites (the ring kNN passes, RK
    advection, adaptive regrid) — still a true lineage CUT, so plans
    don't grow across iterations the way a bare persist() would allow
    (round-4 review finding: persist neither truncates lineage nor is
    ever unpersisted here). Enable
    spark.cleaner.referenceTracking.cleanCheckpoints=true to reap
    checkpoint files when their DataFrames are garbage collected. One
    switch so every call site — CTE materialization, iterative loops,
    blocked matmul packing — follows the same policy."""
    if os.environ.get("PYOFS_DURABLE_MATERIALIZE"):
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            import tempfile

            sc.setCheckpointDir(
                os.environ.get(
                    "PYOFS_CHECKPOINT_DIR",
                    tempfile.mkdtemp(prefix="pyofs_ckpt_"),
                )
            )
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)
