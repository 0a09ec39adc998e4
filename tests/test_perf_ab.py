"""tools/perf_ab.py summary: quartiles per side, pairs won, the spread
test, and bad runs named — no Spark."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.perf_ab import parse_seeds, summarize  # noqa: E402


def _run(side, seed, cpu, setup=10.0, correct=True):
    return {"side": side, "seed": seed, "correct": correct,
            "metrics": {"cpu_s": cpu, "setup_s": setup}}


def test_parse_seeds():
    assert parse_seeds("80-83") == [80, 81, 82, 83]
    assert parse_seeds("3,5-6") == [3, 5, 6]


def test_summary_counts_wins_quartiles_and_bad_runs():
    runs = []
    for seed, (a, b) in enumerate([(80, 60), (78, 61), (82, 59), (79, 63), (70, 75)]):
        runs += [_run("a", seed, a), _run("b", seed, b)]
    runs.append(_run("a", 9, 100.0))            # no partner: counted, not paired
    runs += [_run("b", 9, 1.0, correct=False)]  # a bad run never counts
    s = summarize(runs, {"cpu_s": "lower", "setup_s": "lower"})
    cpu = s["metrics"]["cpu_s"]
    assert cpu["pairs"] == 5 and cpu["b_wins"] == 4
    assert cpu["a"]["n"] == 6 and cpu["b"]["n"] == 5
    assert cpu["a"]["median"] == 79.5 and cpu["b"]["median"] == 61
    assert cpu["a"]["q1"] <= cpu["a"]["median"] <= cpu["a"]["q3"]
    assert cpu["gain"] == 79.5 - 61
    assert cpu["gain_exceeds_spread"] is True
    # ties are not wins; equal medians cannot exceed any spread
    setup = s["metrics"]["setup_s"]
    assert setup["b_wins"] == 0 and setup["gain"] == 0
    assert setup["gain_exceeds_spread"] is False
    assert s["incorrect"] == [("b", 9)]


def test_summary_higher_is_better_flips_the_sign():
    runs = [_run("a", 0, 10.0), _run("b", 0, 12.0)]
    s = summarize(runs, {"cpu_s": "higher"})["metrics"]["cpu_s"]
    assert s["b_wins"] == 1 and s["gain"] == 2.0
