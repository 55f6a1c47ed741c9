"""bench.py's final stdout line: the pinned FINAL_REPORT_QUERIES must
fit its character budget on their own, or the run fails by name."""

from __future__ import annotations

import json

import pytest

import bench


def _doc(timings: dict[str, float]) -> dict:
    return {
        "value": round(sum(timings.values()), 3),
        "sf": 0.1,
        "queries": timings,
        "canary_total_sec": 30.0,
        "eager_total_sec": 100.0,
        "extended_total_sec": 200.0,
        "n_queries_all": len(timings),
    }


def test_pinned_queries_over_budget_raise():
    timings = {f"query_with_a_long_name_{i:03d}": 123.456 for i in range(60)}
    with pytest.raises(bench.FinalLineBudgetError, match="1880-char budget"):
        bench.final_line(_doc(timings), runs=3, pinned=list(timings))


def test_pinned_first_then_slowest_extras_within_budget():
    pinned = ["p1", "p2"]
    timings = {"p1": 0.1, "p2": 0.2, "slow": 9.0, "mid": 5.0, "fast": 0.3}
    line = bench.final_line(_doc(timings), runs=3, pinned=pinned, budget=300)
    assert len(line) <= 300
    final = json.loads(line)
    assert list(final["queries"]) == ["p1", "p2", "slow"]
    assert final["queries_omitted"] == 2
    assert final["n_queries"] == 5
