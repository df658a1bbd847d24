"""The scaling runner's summary step, on fake RESULT dicts (no Spark)."""

from __future__ import annotations

import pytest

from tools.scaling_bench import check_roster, summarize


def _run(docs_per_sec: float, executors: int = 0) -> dict:
    return {"docs_per_sec": docs_per_sec, "executors_at_run": executors}


def test_summary_covers_both_ladders():
    runs = {
        "threads": {
            1: [_run(1000.0), _run(900.0), _run(1100.0)],
            2: [_run(1800.0), _run(2000.0), _run(1900.0)],
            4: [_run(3600.0), _run(3000.0), _run(3300.0)],
        },
        "executors": {
            1: [_run(1000.0, 1), _run(1200.0, 1), _run(800.0, 1)],
            2: [_run(1500.0, 2), _run(1600.0, 2), _run(1700.0, 2)],
            4: [_run(2000.0, 4), _run(1500.0, 4), _run(1700.0, 4)],
        },
    }
    s = summarize(runs)
    assert s["threads"]["docs_per_sec"] == {1: 1000.0, 2: 1900.0, 4: 3300.0}
    assert s["threads"]["efficiency"] == {"1->4": 0.825}
    assert s["threads"]["reaches_target"] is True
    assert s["executors"]["docs_per_sec"] == {1: 1000.0, 2: 1600.0, 4: 1700.0}
    assert s["executors"]["efficiency"] == {"1->4": 0.425}
    assert s["executors"]["reaches_target"] is False


def test_short_roster_raises():
    check_roster(4, _run(1.0, 4))
    with pytest.raises(RuntimeError, match="4-executor run ran on 3 executors"):
        check_roster(4, _run(1.0, 3))
