"""The mechanical baseline gate (bench.py --compare, VERDICT r3 item
8): the anchors are data (bench.R10_ANCHOR) and the per-query ratio
table + 2×-gate verdict are computed, not argued. No Spark needed."""

import json
import os

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_r10_anchor_set_is_the_default_gate():
    """VERDICT r10 item 7: the standing default anchors are the r10
    idle warm suite (BENCH_WARM_r10.json — the first to land UNDER its
    own anchors at 0.978×)."""
    doc10 = bench.load_bench(os.path.join(REPO, "BENCH_WARM_r10.json"))
    assert bench.DEFAULT_ANCHORS == "r10"
    assert set(doc10["queries"]) == set(bench.R10_ANCHOR)
    for k, v in bench.R10_ANCHOR.items():
        assert abs(doc10["queries"][k] - v) < 1e-9, k
    # self-comparison: ratio exactly 1.0 through the DEFAULT gate,
    # everything anchored
    res = bench.compare(doc10)
    assert res["anchors"] == "r10" and res["gate_pass"]
    assert abs(res["ratio"] - 1.0) < 1e-6
    assert res["unanchored_total"] == 0


def test_compare_accepts_raw_bench_line(tmp_path):
    # bench.py's own one-line output shape (no driver wrapper)
    p = tmp_path / "b.json"
    p.write_text(json.dumps({
        "metric": "x", "value": 9.9, "unit": "sec", "sf": 0.1,
        "queries": {"q1_pricing_summary": 9.9}}))
    res10 = bench.compare(bench.load_bench(str(p)))  # default r10 anchors
    assert not res10["gate_pass"]
    assert res10["rows"][0][3] == round(
        9.9 / bench.R10_ANCHOR["q1_pricing_summary"], 2)


def test_oracle_check_compare_catches_null_divergence():
    """The scale-harness comparator flags one-sided NULLs instead of
    fillna-ing them into a pass (review r4)."""
    import pandas as pd
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from oracle_check import compare

    a = pd.DataFrame({"x": [1.0, None]})
    b = pd.DataFrame({"x": [1.0, 5.0]})
    assert compare(a, b) and "null" in compare(a, b)
    assert compare(b.copy(), b.copy()) is None
    s = pd.DataFrame({"t": ["a", None]})
    t = pd.DataFrame({"t": ["a", "b"]})
    assert compare(s, t) and "null" in compare(s, t)
