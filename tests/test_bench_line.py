"""The bench's one-line JSON contract: membership of the printed
``queries`` dict must be STABLE round over round (verdict r10 item 7
— the slowest-first fill made line membership churn with timing
noise, generating phantom "dropped" rows in every PERF comparison).
No Spark session needed: compact_line is pure."""

from __future__ import annotations

import json

from bench import BENCH_SKIP, LINE_PINNED, compact_line
from feray_spark.queries import load_all


def _fake_result(timings):
    return {
        "metric": "total_wall_clock_all_queries",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "n_queries": len(timings),
        "runs_per_query": 5,
        "duck_total": 47.0,
        "spark_total_comparable": 71.0,
        "floor_sec": 0.5,
        "n_floor_bound": 100,
        "over_2x_non_floor": {
            n: {"spark": 1.0, "duck": 0.1, "ratio": 10.0}
            for n in list(timings)[:20]
        },
        "swept_at": "2026-08-18T00:00:00+00:00",
        "duckdb_version": "1.0.0",
        "defaultParallelism": 32,
        "SPARK_GRAFT_CPUS": "32",
    }


def test_line_always_carries_the_pinned_set():
    """Whatever the timing noise does to the slowest-first ordering,
    every LINE_PINNED query present in the sweep must appear in the
    printed line — membership may only ever GROW."""
    benched = [n for n in load_all() if n not in BENCH_SKIP]
    # pinned names must all be real, benched queries
    assert LINE_PINNED <= set(benched), sorted(LINE_PINNED - set(benched))
    # adversarial timings: every pinned query reads FAST (would have
    # been cut by the old slowest-first fill), fillers read slow
    timings = {
        n: (0.31 if n in LINE_PINNED else 2.47) for n in benched
    }
    parsed = json.loads(compact_line(_fake_result(timings)))
    assert LINE_PINNED <= set(parsed["queries"]), sorted(
        LINE_PINNED - set(parsed["queries"])
    )
    # and the line still parses + carries the driver-contract fields
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in parsed


def test_line_stays_under_budget():
    benched = [n for n in load_all() if n not in BENCH_SKIP]
    timings = {n: 123.4567 for n in benched}  # worst-case digit width
    line = compact_line(_fake_result(timings))
    assert len(line) <= 1850, len(line)
    json.loads(line)


def test_pinned_survive_budget_pressure_by_trimming_over2x():
    """Regression (r11): a long over2x block once budget-dropped the
    two FASTEST pinned names. Under pressure the over2x preview must
    shrink instead — pinned membership is the contract."""
    benched = [n for n in load_all() if n not in BENCH_SKIP]
    timings = {n: 123.4567 for n in benched}
    parsed = json.loads(compact_line(_fake_result(timings), budget=1400))
    assert LINE_PINNED <= set(parsed["queries"]), sorted(
        LINE_PINNED - set(parsed["queries"])
    )
    assert len(parsed.get("over2x", {})) < 10
