"""Paired A/B runs of the perfbench benchmark: parent checkout vs change checkout.

    python3 scripts/ab_pairs.py --parent ../parent --change . \\
        --workload tile_assign --workload daily_etl --seeds 1-10 \\
        --holdout 7919 --traced 3 --out BENCH_pr5.json

Each checkout is a full tree of one commit (`git worktree add DIR SHA` or
`git clone`), so both sides run their own `perfbench/run.py` against their
own `pyofs_spark`. A checkout with modified tracked files is refused: the
recorded sha would not name the code that ran. For every workload and seed
the two sides run back to back, and the side that goes first alternates
with the pair index (parent first on even pairs), so a drift of the shared
host's speed lands on both sides equally. Runs are sequential: two JVMs at once would contend for the
cores being measured. Every run lasts BENCHMARK.json's `run_seconds`, the
run length the benchmark fixes.

Each run's steal share and CONTAMINATED flag come from the run record that
perfbench writes (`.perfbench_work/runs/`). The output JSON holds every run
plus, per workload and end-to-end metric (names, directions and bounds from
BENCHMARK.json): each side's median and quartiles, the change's wins over
the pairs (ties count for neither side), the relative change of the
medians, whether the change is worse than the parent by more than the
metric's bound, whether the medians differ by more than the parent's
interquartile range, and whether the metric is unresolved: the parent's
IQR/median exceeds the bound, so "no worse than the bound" cannot be told
from noise, unless every change run beats every parent run. The held-out
seed is summarised on its own. Per workload and side, `runs` counts the
runs that failed, timed out or reported incorrect results; they have no
metrics (or wrong ones), so the medians alone would hide them. With
--traced, one traced run per side (`--trace 1`) records the per-layer
metrics. The file is rewritten after every run, so an interrupted
protocol keeps what it measured.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN_TIMEOUT_S = 900  # per perfbench run; a hung run is recorded as rc "timeout"


def parse_seeds(text: str) -> list[int]:
    """'1-10' or '1,2,5' → list of seeds."""
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def git(checkout: str, *args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=checkout, capture_output=True, text=True, check=True
    ).stdout.strip()


def git_sha(checkout: str) -> str:
    """HEAD of a checkout whose tracked files are all committed, so the sha
    names what is measured; an edited tracked file exits with an error."""
    modified = git(checkout, "status", "--porcelain", "--untracked-files=no")
    if modified:
        sys.exit(f"{checkout} has uncommitted changes to tracked files; commit them "
                 f"so the recorded sha is the code measured:\n{modified}")
    return git(checkout, "rev-parse", "HEAD")


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One perfbench run in `checkout`; its result line plus its run record."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                              timeout=RUN_TIMEOUT_S)
        rc, stdout, stderr = proc.returncode, proc.stdout, proc.stderr
    except subprocess.TimeoutExpired as e:
        rc, stdout, stderr = "timeout", e.stdout or "", e.stderr or ""
        stdout = stdout.decode() if isinstance(stdout, bytes) else stdout
        stderr = stderr.decode() if isinstance(stderr, bytes) else stderr
    out = {"rc": rc, "wall_s": round(time.perf_counter() - t, 1)}
    lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
    if rc != 0 or not lines:
        out["error"] = (stdout + stderr)[-2000:]
        return out
    result = json.loads(lines[-1])
    record_path = os.path.join(checkout, ".perfbench_work", "runs",
                               f"{workload}_seed{seed}_trace{trace}.json")
    with open(record_path) as fh:
        record = json.load(fh)
    out.update(
        env=record["env"],
        steal_frac=round(record["steal_frac"], 4),
        contaminated=record["contaminated"],
        correct=result["correct"],
        attempted=result["attempted"],
        failed=result["failed"],
        metrics={name: m["value"] for name, m in result["metrics"].items()},
    )
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_counts(runs: list[dict]) -> dict:
    """How many of `runs` there are, and how many timed out, failed (no
    result) or reported incorrect results."""
    timed_out = sum(r["rc"] == "timeout" for r in runs)
    return {
        "total": len(runs),
        "failed": sum("metrics" not in r for r in runs) - timed_out,
        "timed_out": timed_out,
        "incorrect": sum("metrics" in r and not r["correct"] for r in runs),
    }


def summarise(runs: list[dict], end_to_end: list[dict], holdout: set[int]) -> dict:
    """Per workload: the run counts of each side and, per metric, the
    paired verdict over the development seeds and the held-out seed's
    medians."""
    out: dict = {}
    for wl in sorted({r["workload"] for r in runs}):
        untraced = [r for r in runs if r["workload"] == wl and r["trace"] == 0]
        ok = [r for r in untraced if "metrics" in r]
        out[wl] = {
            "runs": {s: run_counts([r for r in untraced if r["side"] == s])
                     for s in ("parent", "change")}
        }
        for m in end_to_end:
            name, lower = m["name"], m["better"] == "lower"
            side = {s: {} for s in ("parent", "change")}
            for r in ok:
                if name in r["metrics"]:
                    side[r["side"]].setdefault((r["seed"], r["pair"]), r["metrics"][name])
            keys = [k for k in side["parent"] if k in side["change"]]
            dev = [k for k in keys if k[0] not in holdout]
            if not dev:
                continue
            p = [side["parent"][k] for k in dev]
            c = [side["change"][k] for k in dev]
            wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
            all_beat = max(c) < min(p) if lower else min(c) > max(p)
            pq, cq = quartiles(p), quartiles(c)
            rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
            spread = (pq[2] - pq[0]) / abs(pq[1]) if pq[1] else 0.0
            entry = {
                "unit": m["unit"],
                "better": m["better"],
                "bound": m["bound"],
                "pairs": len(dev),
                "change_wins": wins,
                "parent_median": pq[1],
                "parent_q1_q3": [pq[0], pq[2]],
                "parent_iqr": pq[2] - pq[0],
                "change_median": cq[1],
                "change_q1_q3": [cq[0], cq[2]],
                "change_iqr": cq[2] - cq[0],
                "median_rel_change": round(rel, 4),
                "worse_beyond_bound": (rel > m["bound"]) if lower else (-rel > m["bound"]),
                "medians_differ_by_more_than_parent_iqr": abs(cq[1] - pq[1]) > pq[2] - pq[0],
                "parent_iqr_over_median": round(spread, 4),
                "unresolved": spread > m["bound"] and not all_beat,
            }
            for seed in sorted(holdout):
                hp = [side["parent"][k] for k in keys if k[0] == seed]
                hc = [side["change"][k] for k in keys if k[0] == seed]
                if hp and hc:
                    mp, mc = statistics.median(hp), statistics.median(hc)
                    entry[f"seed_{seed}"] = {
                        "parent_runs": hp,
                        "change_runs": hc,
                        "median_rel_change": round((mc - mp) / mp, 4) if mp else 0.0,
                    }
            out[wl][name] = entry
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10", help="development seeds, e.g. 1-10")
    ap.add_argument("--holdout", type=int, action="append", default=[],
                    help="held-out seed, one pair each (repeatable)")
    ap.add_argument("--traced", type=int, help="seed of one traced run per side")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    dirs = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    doc = {
        "description": (
            f"Alternating parent/change pairs of `python3 perfbench/run.py --workload W "
            f"--seed S --seconds {seconds:g} --trace 0`, parent first on even pairs; "
            f"steal_frac/contaminated per run as perfbench reports them (contaminated = "
            f"steal >= 2% of host CPU); medians and IQRs cover every run."
        ),
        "commits": {s: git_sha(d) for s, d in dirs.items()},
        "seconds": seconds,
        "summary": {},
        "traced": {},
        "runs": [],
    }

    def save() -> None:
        doc["summary"] = summarise(doc["runs"], bench["end_to_end"], set(args.holdout))
        with open(args.out, "w") as fh:
            json.dump(doc, fh, indent=1)

    plan = [(wl, seed) for wl in args.workload for seed in parse_seeds(args.seeds)]
    plan += [(wl, seed) for wl in args.workload for seed in args.holdout]
    for pair, (wl, seed) in enumerate(plan):
        order = ("parent", "change") if pair % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(dirs[side], wl, seed, seconds, 0)
            r.update(workload=wl, seed=seed, pair=pair, side=side, first=order[0], trace=0)
            doc["runs"].append(r)
            print(f"{wl} seed={seed} pair={pair} {side}: rc={r['rc']} "
                  f"run_s={r.get('metrics', {}).get('run_s')} steal={r.get('steal_frac')}",
                  flush=True)
            save()
    if args.traced is not None:
        for wl in args.workload:
            for side in ("parent", "change"):
                r = run_once(dirs[side], wl, args.traced, seconds, 1)
                doc["traced"].setdefault(wl, {})[side] = r
                print(f"traced {wl} {side}: rc={r['rc']}", flush=True)
                save()
    save()
    return 0


if __name__ == "__main__":
    sys.exit(main())
