"""scripts/ab_pairs.py verdicts: failed, timed-out and incorrect runs are
counted per side, and a metric whose parent spread exceeds its bound is
unresolved unless every change run beats every parent run."""

from __future__ import annotations

import importlib.util
import json
import os

_PATH = os.path.join(os.path.dirname(__file__), os.pardir, "scripts", "ab_pairs.py")
_spec = importlib.util.spec_from_file_location("ab_pairs", _PATH)
ab_pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab_pairs)

BOUND = {"name": "run_s", "unit": "s", "better": "lower", "bound": 0.25}


def _run(side, pair, run_s, correct=True, seed=None):
    return {"rc": 0, "workload": "w", "seed": pair + 1 if seed is None else seed,
            "pair": pair, "side": side, "trace": 0, "correct": correct,
            "metrics": {"run_s": run_s}}


def _summary(parent, change, extra=()):
    runs = [_run("parent", i, v) for i, v in enumerate(parent)]
    runs += [_run("change", i, v) for i, v in enumerate(change)]
    return ab_pairs.summarise([*runs, *extra], [BOUND], set())["w"]


def test_bad_runs_are_counted_per_side():
    extra = [
        {"rc": 1, "error": "boom", "workload": "w", "seed": 9, "pair": 8, "side": "change", "trace": 0},
        {"rc": "timeout", "error": "", "workload": "w", "seed": 9, "pair": 8, "side": "parent", "trace": 0},
        _run("change", 9, 1.0, correct=False),
    ]
    s = _summary([1.0] * 4, [1.0] * 4, extra)
    assert s["runs"]["parent"] == {"total": 5, "failed": 0, "timed_out": 1, "incorrect": 0}
    assert s["runs"]["change"] == {"total": 6, "failed": 1, "timed_out": 0, "incorrect": 1}


def test_unresolved_needs_wide_parent_spread_and_overlap():
    wide = [1.0, 1.5, 2.0, 2.5]  # parent IQR/median 0.5 > bound 0.25
    assert _summary(wide, [1.2, 1.6, 2.1, 2.4])["run_s"]["unresolved"]
    # every change run beats every parent run: resolved despite the spread
    assert not _summary(wide, [0.5, 0.6, 0.7, 0.8])["run_s"]["unresolved"]
    # a tight parent spread is resolved even when the runs overlap
    assert not _summary([1.0, 1.01, 1.02, 1.03], [1.0, 1.02, 1.01, 1.04])["run_s"]["unresolved"]


def test_claim_needs_nine_tenths_of_the_pairs():
    parent = [1.0 + 0.01 * i for i in range(10)]
    nine = [v - 0.5 for v in parent[:9]] + [parent[9]]  # the last pair ties
    s = _summary(parent, nine)
    assert s["run_s"]["change_wins"] == 9
    assert ab_pairs.claims({"w": s}, ["run_s/w"]) == {"run_s/w": {"claim_met": True}}
    eight = [v - 0.5 for v in parent[:8]] + [parent[8] + 0.1, parent[9]]
    assert not ab_pairs.claim_met(_summary(parent, eight)["run_s"])


def test_claim_needs_medians_apart_by_more_than_the_parent_iqr():
    parent = [1.0 + 0.1 * i for i in range(10)]  # IQR 0.45
    assert ab_pairs.claim_met(_summary(parent, [v - 0.5 for v in parent])["run_s"])
    # every pair won, but by less than the parent's own spread
    assert not ab_pairs.claim_met(_summary(parent, [v - 0.3 for v in parent])["run_s"])


def test_claim_follows_the_metrics_direction():
    higher = {**BOUND, "better": "higher"}
    runs = [_run("parent", i, 1.0 + 0.01 * i) for i in range(10)]
    runs += [_run("change", i, 0.5 + 0.01 * i) for i in range(10)]
    lower_is_worse = ab_pairs.summarise(runs, [higher], set())
    assert ab_pairs.claims(lower_is_worse, ["run_s/w", "run_s/other"]) == {
        "run_s/w": {"claim_met": False},
        "run_s/other": {"claim_met": False},
    }


def test_priming_runs_are_in_no_pair_and_no_median(tmp_path, monkeypatch):
    dirs = {}
    for side in ("parent", "change"):
        dirs[side] = tmp_path / side
        dirs[side].mkdir()
        (dirs[side] / "BENCHMARK.json").write_text(
            json.dumps({"run_seconds": 1, "end_to_end": [BOUND]}))
    calls = []

    def run_once(checkout, workload, seed, seconds, trace):
        calls.append(checkout)
        first = calls.count(checkout) == 1  # a side's first run builds its caches
        return {"rc": 0, "correct": True, "metrics": {"run_s": 100.0 if first else 1.0}}

    monkeypatch.setattr(ab_pairs, "run_once", run_once)
    monkeypatch.setattr(ab_pairs, "git_sha", lambda checkout: "sha")
    out = tmp_path / "ab.json"
    ab_pairs.main(["--parent", str(dirs["parent"]), "--change", str(dirs["change"]),
                   "--workload", "w", "--seeds", "1-4", "--out", str(out)])
    doc = json.loads(out.read_text())
    assert [(r["side"], r["metrics"]["run_s"]) for r in doc["priming"]] == [
        ("parent", 100.0), ("change", 100.0)]
    assert len(doc["runs"]) == 8
    assert {r["metrics"]["run_s"] for r in doc["runs"]} == {1.0}
    entry = doc["summary"]["w"]["run_s"]
    assert entry["pairs"] == 4
    assert entry["parent_median"] == entry["change_median"] == 1.0
