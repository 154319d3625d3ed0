"""pyofs_spark engine benchmark.

    python3 perfbench/run.py --workload tile_assign --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

Runs from the root of a checkout: builds the workload's inputs from the
seed, starts a local[nproc - 1] Spark session, runs a fixed number of
untimed warm passes, then timed passes until --seconds have elapsed, checks
every output and prints a summary followed by one JSON result line. With
--trace 1 the session runs with the Spark event log on, untraced passes
alternate with passes that wrap every layer call in a span, and the result
line carries the per-layer metrics. See README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))  # the checkout root, for pyofs_spark

import harness  # noqa: E402
import metrics  # noqa: E402

STEAL_CONTAMINATED = 0.02  # steal share of host CPU above which a run is flagged
PROBE_SCALE = 0.02  # input size of the off-path layer probes in a traced run
WARM_CAP_S = 60.0  # warm passes stop early after this long, on a very slow host


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """One workload's passes inside an open session."""

    def __init__(self, workload):
        self.w = workload
        self.passes: list[tuple[float, dict]] = []
        self.warm_s: list[float] = []
        self.failures: list[str] = []
        self.checksums: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0

    def one_pass(self, tr, timed: bool) -> None:
        self.w.reset()
        self.attempted += 1
        t = time.perf_counter()
        try:
            res = self.w.run_pass(tr)
        except Exception:  # a failed pass is counted, and the run goes on
            self.failed += 1
            self.failures.append(traceback.format_exc(limit=3))
            return
        dt = time.perf_counter() - t
        if timed:
            self.passes.append((dt, res))
        else:
            self.warm_s.append(dt)
        self.checksums.append(res["checksum"])

    def warm(self) -> None:
        start = time.perf_counter()
        while len(self.warm_s) < self.w.warm_passes and time.perf_counter() - start < WARM_CAP_S:
            self.one_pass(harness.NullTracer(), timed=False)
            if self.failed and not self.warm_s:
                break

    def timed(self, tr, seconds: float) -> None:
        start = time.perf_counter()
        while time.perf_counter() - start < seconds or not self.passes:
            self.one_pass(tr, timed=True)
            if self.failed and not self.passes and time.perf_counter() - start > seconds:
                break

    def check(self) -> None:
        """Compare every pass's checksum with the reference and the first
        pass, then run the row-level output checks (one more operation)."""
        t = time.perf_counter()
        for cs in self.checksums:
            bad = self.w.check_pass(cs, self.checksums[0])
            if bad:
                self.failed += 1
                self.failures.extend(bad)
        self.attempted += 1
        try:
            bad = self.w.check_outputs()
        except Exception:
            bad = [traceback.format_exc(limit=3)]
        if bad:
            self.failed += 1
            self.failures.extend(bad)
        self.check_s = time.perf_counter() - t

    def e2e(self, setup_s: float, peak_rss: int) -> dict:
        return {
            "setup_s": setup_s,
            "run_s": harness.median([dt for dt, _ in self.passes]),
            "rows_per_s": harness.median([res["rows_in"] / dt for dt, res in self.passes]),
            "peak_rss_mb": peak_rss / 2**20,
        }

    def summary_only(self) -> dict:
        out = {"failed_frac": self.failed / max(self.attempted, 1)}
        if self.w.writes and self.passes:
            res = self.passes[-1][1]
            out["out_bytes_per_row"] = res["out_bytes"] / res["out_rows"]
        return out


def _with_units(values: dict, table) -> dict:
    return {name: {"value": values[name], "unit": unit} for name, unit in table if name in values}


def report(workload: str, record: dict, run: Run) -> None:
    units = dict(metrics.END_TO_END + metrics.SUMMARY_ONLY + metrics.PER_LAYER)
    print(f"# workload {workload}: {len(run.passes)} timed passes, input row = {run.w.input_row}, "
          f"attempted {run.attempted}, failed {run.failed}")
    for name, value in record["metrics"].items():
        print(f"#   {name:28s} {value:14.6g} {units.get(name, '')}")
    env = record["env"]
    print(f"#   env nproc={env['nproc']} git={env['git_sha'][:12]} pyspark={env['pyspark']} "
          f"java='{env['java']}' steal_frac={record['steal_frac']:.4f}"
          + (" CONTAMINATED" if record["contaminated"] else ""))
    for f in run.failures[:20]:
        print("# FAILURE " + f.replace("\n", "\n#   "))
    os.makedirs(os.path.join(harness.WORK, "runs"), exist_ok=True)
    path = os.path.join(harness.WORK, "runs", f"{workload}_seed{record['seed']}_trace{record['trace']}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)


def _record(workload, seed, trace: bool, values: dict, run: Run, env: dict, steal_frac: float) -> dict:
    return {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "metrics": values,
        "env": env,
        "steal_frac": steal_frac,
        "contaminated": steal_frac >= STEAL_CONTAMINATED,
        "warm_s": run.warm_s,
        "pass_s": [dt for dt, _ in run.passes],
        "check_s": run.check_s,
        "failures": run.failures,
    }


def measure(workload: str, seed: int, seconds: float, trace: bool):
    import workloads

    cls = workloads.WORKLOADS[workload]
    steal0, wall0 = harness.steal_ticks(), time.perf_counter()
    ev_dir = os.path.join(harness.WORK, "eventlog") if trace else None
    t = time.perf_counter()
    spark = harness.start_session(f"perfbench-{workload}", event_log_dir=ev_dir)
    session_s = time.perf_counter() - t
    w = cls(spark, seed)
    run = Run(w)
    w.prepare()
    spark.sparkContext.setJobGroup("warm", "warm")
    run.warm()
    setup_s = time.perf_counter() - T0
    env = harness.environment_record(spark)
    if trace:
        layer = traced_passes(w, run, seconds, ev_dir)
        layer["session.get_session_s"] = session_s
        values = {name: layer.get(name, 0.0) for name, _ in metrics.PER_LAYER}
    else:
        run.timed(harness.NullTracer(), seconds)
        values = run.e2e(setup_s, harness.tree_peak_rss_bytes())
        run.check()
        values.update(run.summary_only())
        spark.stop()
    harness.shutdown_jvm()
    wall = time.perf_counter() - wall0
    steal = (harness.steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    return _record(workload, seed, trace, values, run, env, steal / ((os.cpu_count() or 1) * wall)), run


def probe_off_path(w, tr, run: Run) -> list:
    """One traced toy-size pass (and the probes) of every other workload,
    so that a traced run measures every layer, also those off this
    workload's path. Each runs in its own tracer scope, which keeps its
    spans and job groups apart from this workload's."""
    import workloads

    toys = []
    for cls in workloads.WORKLOADS.values():
        if cls is type(w):
            continue
        toy = cls(w.spark, w.seed, scale=PROBE_SCALE)
        ttr = tr.scoped(f"probe.{toy.name}:")
        toy_run = Run(toy)
        toy.prepare()
        with toy.traced(ttr), ttr.span("pass"):
            toy_run.one_pass(ttr, timed=True)
        probes = toy.probe(ttr) if toy_run.passes else {}
        run.attempted += toy_run.attempted
        run.failed += toy_run.failed
        run.failures += toy_run.failures
        toys.append((toy, ttr, toy_run, probes))
    return toys


def traced_passes(w, run: Run, seconds: float, ev_dir: str) -> dict:
    """Untraced and traced passes alternate in one session with the event
    log on; then the layer probes, the off-path probes and the checks run,
    the session stops and the event log is parsed per job group. Engine
    counters and layer metrics are per traced pass; trace.overhead_frac
    compares the two kinds of pass, so it measures the spans, job groups
    and wrappers. A layer off the workload's path reports its toy-size
    probe."""
    sc = w.spark.sparkContext
    app_id = sc.applicationId
    tr = harness.Tracer(sc)
    traced = Run(w)

    def untraced_pass():
        sc.setJobGroup("untraced", "untraced")
        run.one_pass(harness.NullTracer(), timed=True)

    def traced_pass():
        with w.traced(tr), tr.span("pass"):
            traced.one_pass(tr, timed=True)

    start, pair = time.perf_counter(), 0
    while time.perf_counter() - start < seconds or not traced.passes:
        # alternate which kind goes first, so JIT warm-up favours neither
        for one in (untraced_pass, traced_pass)[:: 1 if pair % 2 == 0 else -1]:
            one()
        pair += 1
        if traced.failed and not traced.passes:
            break
    probes = w.probe(tr)
    toys = probe_off_path(w, tr, run)
    run.failed += traced.failed
    run.attempted += traced.attempted
    run.failures += traced.failures
    run.checksums += traced.checksums
    sc.setJobGroup("check", "check")
    run.check()
    w.spark.stop()
    tr.dump(os.path.join(harness.WORK, "trace", f"spans_{w.name}_seed{w.seed}.json"))
    ev = harness.parse_event_log(harness.find_event_log(ev_dir, app_id))
    n = max(len(traced.passes), 1)
    engine = harness.GroupStats()
    for grp, st in ev.items():
        if grp not in ("warm", "check", "untraced") and not grp.startswith(("ablation.", "probe.")):
            engine.add(st)
    untraced_s = harness.median([dt for dt, _ in run.passes])
    traced_s = harness.median([dt for dt, _ in traced.passes])
    layer = {
        "spark.jobs": engine.jobs / n,
        "spark.tasks": engine.tasks / n,
        "spark.executor_run_s": engine.run_ms / 1e3 / n,
        "spark.cpu_s": engine.cpu_ns / 1e9 / n,
        "spark.gc_s": engine.gc_ms / 1e3 / n,
        "spark.shuffle_write_mb": engine.shuffle_write / 1e6 / n,
        "spark.shuffle_read_mb": engine.shuffle_read / 1e6 / n,
        "spark.spill_mb": engine.spill / 1e6 / n,
        "spark.cpu_util": engine.cpu_ns / 1e9 / (tr.total("pass") * harness.nproc()),
        "trace.overhead_frac": traced_s / untraced_s - 1 if untraced_s else 0.0,
    }
    layer.update(probes)
    if traced.passes:
        layer.update(w.layer_metrics(tr, ev, n, traced.passes[-1][1]))
    for toy, ttr, toy_run, toy_probes in toys:
        if toy_run.passes:
            scoped = {g[len(ttr.scope):]: st for g, st in ev.items() if g.startswith(ttr.scope)}
            for name, value in {**toy.layer_metrics(ttr, scoped, 1, toy_run.passes[-1][1]), **toy_probes}.items():
                layer.setdefault(name, value)
    return layer


def result_line(values: dict, table, run: Run) -> dict:
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": _with_units(values, table),
    }


def run_all(seed: int, seconds: float) -> dict:
    """Every benchmarked workload in one driver process and one session."""
    import workloads

    steal0, wall0 = harness.steal_ticks(), time.perf_counter()
    total = Run(None)
    out = {}
    t = time.perf_counter()
    spark = harness.start_session("perfbench-all")
    session_s = time.perf_counter() - t
    runs = {}
    for name in workloads.BENCHMARKED:
        cls = workloads.WORKLOADS[name]
        t = time.perf_counter()
        w = cls(spark, seed)
        run = Run(w)
        w.prepare()
        run.warm()
        setup_s = session_s + time.perf_counter() - t
        run.timed(harness.NullTracer(), seconds)
        peak = harness.tree_peak_rss_bytes()
        run.check()
        runs[name] = (run, setup_s, peak)
    env = harness.environment_record(spark)
    spark.stop()
    harness.shutdown_jvm()
    wall = time.perf_counter() - wall0
    steal_frac = (harness.steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / ((os.cpu_count() or 1) * wall)
    for name, (run, setup_s, peak) in runs.items():
        values = run.e2e(setup_s, peak)
        values.update(run.summary_only())
        report(name, _record(name, seed, False, values, run, env, steal_frac), run)
        for m, unit in metrics.END_TO_END + metrics.SUMMARY_ONLY:
            if m in values:
                out[f"{name}.{m}"] = {"value": values[m], "unit": unit}
        total.attempted += run.attempted
        total.failed += run.failed
    return {"correct": total.failed == 0, "attempted": total.attempted, "failed": total.failed, "metrics": out}


def main(argv=None) -> int:
    args = parse_args(argv)
    harness.prepare_environment()
    if args.workload == "all":
        print(json.dumps(run_all(args.seed, args.seconds)))
        return 0
    record, run = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    report(args.workload, record, run)
    table = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    print(json.dumps(result_line(record["metrics"], table, run)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
