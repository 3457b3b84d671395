"""``tools/measure.py`` protocol arithmetic and registry, without Spark:
efficiency and marginal throughput, the one pass rule, the cross-level
identity check, the A/B summary, and which entry writes each BENCH file."""

import glob
import json
import os

import pytest

from tools import measure as M

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SECONDARY = {"secondary_pair", "secondary_efficiency", "secondary_efficiency_marginal",
             "secondary_scaling_efficiency", "secondary_scaling_efficiency_marginal"}


def test_efficiency_arithmetic():
    # 4x the workers, 3.6x the throughput -> 0.9
    assert M.efficiency(100.0, 360.0, 1, 4) == 0.9
    assert M.efficiency(145507, 587394, 2, 8) == 1.009  # BENCH/scaling.json 2 -> 8
    assert M.efficiency(None, 360.0, 1, 4) is None
    assert M.efficiency(100.0, None, 1, 4) is None


def test_marginal_and_timing_inversion():
    assert M.marginal(1000, 500, 3.0, 2.0) == 500
    assert M.marginal(1000, 500, 2.0, 2.0) is None  # full == half
    assert M.marginal(1000, 500, 1.9, 2.0) is None  # full < half


def test_single_pass_rule():
    assert M.passes(0.8, None)
    assert M.passes(0.6, 0.8)            # valid marginal rescues raw >= 0.6
    assert not M.passes(0.59, 0.95)      # ... but never below 0.6 raw
    assert not M.passes(0.7, None)       # an invalid marginal rescues nothing
    assert not M.passes(0.7, 0.79)
    assert not M.passes(None, 0.9)


def _levels(**overrides):
    lo = {"cpus": 1, "pages": 1000, "rows": 7, "docs_per_sec": 100,
          "marginal_docs_per_sec": 120}
    hi = {**lo, "cpus": 4, "docs_per_sec": 360, "marginal_docs_per_sec": 420, **overrides}
    return {1: lo, 4: hi}


def test_invariant_mismatch_between_levels_raises():
    M.check_identical(_levels(), ("rows",))
    with pytest.raises(AssertionError, match="rows"):
        M.check_identical(_levels(rows=8), ("rows",))
    with pytest.raises(AssertionError):
        M.scaling_summary(M.WORKLOADS["pip"], _levels(rows=8), 1, 4, {})


def test_scaling_summary_keys_and_verdict():
    out = M.scaling_summary(M.WORKLOADS["pip"], _levels(), 1, 4, {"iters": {}})
    assert out["scaling_efficiency"] == 0.9
    assert out["scaling_efficiency_marginal"] == 0.875
    assert out["primary_pair"] == [1, 4] and out["pass"] is True
    assert out["workload"] == "PIP join, 1000 pages x 100 polygons x 1024 vertices"
    committed = json.load(open(os.path.join(REPO, "BENCH", "scaling.json")))
    assert set(committed) - SECONDARY == set(out)


def test_ab_summary_on_fixed_timings():
    work = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    against = [2.0, 1.0, 4.0, 3.0, 6.0, 5.0, 8.0, 7.0, 10.0, 10.0]
    out = M.ab_summary(work, against)
    assert out["work"] == {"median": 5.5, "q1": 3.25, "q3": 7.75, "iqr": 4.5}
    assert out["against"] == {"median": 5.5, "q1": 3.25, "q3": 7.75, "iqr": 4.5}
    # work wins pairs 0, 2, 4, 6 and 8; pair 9 is a tie
    assert out["pairs_won"] == {"work": 5, "against": 4}


def test_each_bench_output_maps_to_one_registry_entry():
    # *_run1 files are archives of earlier runs; bench_r8_* are bench.py lines
    names = sorted(os.path.basename(p)[:-5]
                   for p in glob.glob(os.path.join(REPO, "BENCH", "*.json"))
                   if not p.endswith("_run1.json")
                   and not os.path.basename(p).startswith("bench_"))
    assert names == ["scaling", "scaling_ann", "scaling_graph", "scaling_media",
                     "scaling_temporal", "scaling_text", "skew", "stress", "stress_r7",
                     "stress_r7b"]
    for name in names:
        writers = ([w for w in M.WORKLOADS.values() if w.out == name]
                   + [g for g in M.STRESS if g == name])
        assert len(writers) == 1, (name, writers)
    # stress groups: one entry per nested key (skew's one entry is flat)
    for group in ("stress", "stress_r7", "stress_r7b"):
        committed = json.load(open(os.path.join(REPO, "BENCH", f"{group}.json")))
        assert set(committed) == {"cpus", *M.STRESS[group]}
