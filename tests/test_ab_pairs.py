"""scripts/ab_pairs.py verdicts: failed, timed-out and incorrect runs are
counted per side, and a metric whose parent spread exceeds its bound is
unresolved unless every change run beats every parent run."""

from __future__ import annotations

import importlib.util
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
