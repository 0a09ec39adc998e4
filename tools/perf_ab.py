#!/usr/bin/env python
"""Interleaved A/B of the repository benchmark between two checkouts.

    python tools/perf_ab.py --a ../parent --b . --workload kg_ctx --seeds 80-89

For each seed, ``perfbench/run.py --trace 0`` runs once in each checkout,
one after the other; which side goes first alternates from seed to seed, so
a drift in machine speed lands on both sides alike. Each run is a fresh
process. The summary gives, per end-to-end metric of ``BENCHMARK.json``,
each side's median and quartiles, how many seed pairs B won, and whether
B's median gain exceeds A's quartile spread. Runs that are not
``correct: true`` (or did not produce a result) are listed by side and
seed. Every run's result is printed to stderr as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec: str) -> list[int]:
    """``"80-89"`` → 80..89; ``"3,5,7"`` → [3, 5, 7]."""
    out: list[int] = []
    for part in spec.split(","):
        lo, sep, hi = part.partition("-")
        out += list(range(int(lo), int(hi) + 1)) if sep else [int(lo)]
    return out


def end_to_end(checkout: str) -> dict[str, str]:
    """Metric name → "lower"/"higher" from the checkout's BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}


def run_one(checkout: str, workload: str, seed: int) -> dict:
    """One benchmark run; its result line's correctness and metric values."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"correct": False, "metrics": {},
                "error": f"exit {p.returncode}: {p.stderr.strip()[-300:]}"}
    return {
        "correct": bool(result["correct"]) and p.returncode == 0,
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
    }


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], better: dict[str, str]) -> dict:
    """``runs``: dicts with ``side`` ("a"/"b"), ``seed``, ``correct`` and
    ``metrics`` (name → value). Per metric in ``better``: each side's
    q1/median/q3 over its correct runs; ``pairs`` (seeds where both sides
    ran correctly) and ``b_wins`` among them; ``gain`` (B's median
    improvement over A's, positive is better) and whether it exceeds A's
    quartile spread. ``incorrect`` lists (side, seed) of every bad run."""
    ok = {(r["side"], r["seed"]): r["metrics"] for r in runs if r["correct"]}
    seeds = sorted({s for _, s in ok if ("a", s) in ok and ("b", s) in ok})
    out: dict = {"metrics": {}, "incorrect": sorted(
        (r["side"], r["seed"]) for r in runs if not r["correct"])}
    for name, direction in better.items():
        sign = 1.0 if direction == "lower" else -1.0
        row: dict = {}
        for side in ("a", "b"):
            xs = sorted(m[name] for (sd, _), m in ok.items() if sd == side and name in m)
            if xs:
                q1, med, q3 = _quartiles(xs)
                row[side] = {"n": len(xs), "q1": q1, "median": med, "q3": q3}
        wins = sum(sign * (ok[("a", s)][name] - ok[("b", s)][name]) > 0 for s in seeds)
        row.update(pairs=len(seeds), b_wins=wins)
        if "a" in row and "b" in row:
            gain = sign * (row["a"]["median"] - row["b"]["median"])
            spread = row["a"]["q3"] - row["a"]["q1"]
            row.update(gain=gain, gain_frac=gain / row["a"]["median"],
                       a_spread=spread, gain_exceeds_spread=gain > spread)
        out["metrics"][name] = row
    return out


def report(summary: dict) -> str:
    lines = []
    for name, row in summary["metrics"].items():
        lines.append(f"{name}:")
        for side in ("a", "b"):
            if side in row:
                s = row[side]
                lines.append(f"  {side}: median {s['median']:.2f}  "
                             f"q1 {s['q1']:.2f}  q3 {s['q3']:.2f}  (n={s['n']})")
        lines.append(f"  b won {row['b_wins']}/{row['pairs']} pairs")
        if "gain" in row:
            lines.append(f"  gain {row['gain']:+.2f} ({100 * row['gain_frac']:+.1f}%), "
                         f"a quartile spread {row['a_spread']:.2f}, "
                         f"exceeds spread: {row['gain_exceeds_spread']}")
    bad = summary["incorrect"]
    lines.append("incorrect runs: " + (", ".join(f"{s}@{n}" for s, n in bad) if bad else "none"))
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="baseline checkout")
    ap.add_argument("--b", required=True, help="changed checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help='e.g. "80-89" or "3,5,7"')
    args = ap.parse_args(argv)

    sides = {"a": os.path.abspath(args.a), "b": os.path.abspath(args.b)}
    runs = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        for side in ("a", "b") if i % 2 == 0 else ("b", "a"):
            r = {"side": side, "seed": seed, "workload": args.workload,
                 **run_one(sides[side], args.workload, seed)}
            runs.append(r)
            print(json.dumps(r), file=sys.stderr, flush=True)
    summary = summarize(runs, end_to_end(sides["a"]))
    print(report(summary))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
