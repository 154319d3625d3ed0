"""Toy-size self-test of the benchmark harness.

    python3 perfbench/selftest.py

Checks, in one Spark session and in about a minute:
  1. BENCHMARK.json declares exactly the metrics and workloads the harness
     implements;
  2. every workload runs at toy size with all its output checks passing,
     and a traced pass emits every per-layer metric with its unit;
  3. a deliberately corrupted output (the first two station ids swapped in
     the tile assignment, a dropped daily raster cell) is caught as a
     failure.
Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import harness  # noqa: E402
import metrics  # noqa: E402
import run as bench  # noqa: E402

TOY = 0.02


def check_declaration() -> list[str]:
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        decl = json.load(fh)
    bad = []
    pairs = [
        ("end_to_end", metrics.END_TO_END),
        ("per_layer", metrics.PER_LAYER),
    ]
    for key, table in pairs:
        declared = [(m["name"], m["unit"]) for m in decl[key]]
        if declared != table:
            bad.append(f"BENCHMARK.json {key} differs from metrics.py")
    if [w["name"] for w in decl["workloads"]] != list(workloads.BENCHMARKED):
        bad.append("BENCHMARK.json workloads differ from workloads.BENCHMARKED")
    return bad


def caught(run: bench.Run) -> bool:
    """The run failed through its output checks, not by raising."""
    return run.failed > 0 and not any("Traceback" in f for f in run.failures)


def toy_run(cls, spark, trace: bool) -> tuple[bench.Run, dict]:
    w = cls(spark, seed=3, scale=TOY)
    run = bench.Run(w)
    w.prepare()
    run.one_pass(harness.NullTracer(), timed=True)
    layer = {}
    if trace:
        tr = harness.Tracer(spark.sparkContext)
        with w.traced(tr):
            with tr.span("pass"):
                run.one_pass(tr, timed=True)
        layer = w.layer_metrics(tr, {}, 1, run.passes[-1][1])
        layer.update(w.probe(tr))
    run.check()
    return run, layer


def main() -> int:
    import workloads

    harness.prepare_environment()
    bad = check_declaration()
    spark = harness.start_session("perfbench-selftest")
    try:
        seen = set()
        for name, cls in workloads.WORKLOADS.items():
            run, layer = toy_run(cls, spark, trace=True)
            if run.failed:
                bad.append(f"{name}: toy run failed: {run.failures[:3]}")
            values = run.e2e(1.0, 1)
            line = bench.result_line(values, metrics.END_TO_END, run)
            if set(line["metrics"]) != {n for n, _ in metrics.END_TO_END}:
                bad.append(f"{name}: result line lacks end-to-end metrics")
            if any(not v["unit"] for v in line["metrics"].values()):
                bad.append(f"{name}: metric without unit")
            seen |= set(layer)
            print(f"# {name}: ok={not run.failed} layer metrics {sorted(layer)}")
        known = {n for n, _ in metrics.PER_LAYER}
        engine = {n for n in known if n.startswith(("spark.", "trace.", "session."))}
        missing = known - engine - seen
        if missing:
            bad.append(f"per-layer metrics no workload emits: {sorted(missing)}")

        # corrupted outputs must be caught
        orig = workloads.tile_assignment

        def swapped(*args, **kwargs):
            from pyspark.sql import functions as F

            a, b = workloads.STATION_IDS[:2]
            out = orig(*args, **kwargs)
            swap = F.transform(
                "knn_stations",
                lambda s: F.when(s == a, F.lit(b)).when(s == b, F.lit(a)).otherwise(s),
            )
            return out.withColumn("knn_stations", swap)

        workloads.tile_assignment = swapped
        try:
            run, _ = toy_run(workloads.TileAssign, spark, trace=False)
        finally:
            workloads.tile_assignment = orig
        if not caught(run):
            bad.append("swapped station ids were not caught by the checks")

        from pyofs_spark.sources import geotiff

        orig_write = geotiff.write_geotiff

        def dropped_cell(path, data, *args, **kwargs):
            flat = data.copy().ravel()
            flat[(flat != flat.min()).argmax()] = flat.min()  # one cell → nodata
            return orig_write(path, flat.reshape(data.shape), *args, **kwargs)

        geotiff.write_geotiff = dropped_cell
        try:
            run, _ = toy_run(workloads.DailyEtl, spark, trace=False)
        finally:
            geotiff.write_geotiff = orig_write
        if not caught(run):
            bad.append("a corrupted GeoTIFF was not caught by the checks")
    finally:
        spark.stop()
        harness.shutdown_jvm()
    for b in bad:
        print("SELFTEST FAILURE:", b)
    print("selftest", "FAILED" if bad else "passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
