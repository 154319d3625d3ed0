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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    return b.getOrCreate()


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
