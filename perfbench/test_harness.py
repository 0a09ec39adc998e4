"""Tests of the benchmark harness itself; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import run  # noqa: E402
from trace_layers import Span, driver_gap, self_times, subtree, union_length  # noqa: E402
from verify import digest_rows  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_well_formed():
    names = list(run.END_TO_END) + list(run.per_layer_catalog())
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    units = list(run.END_TO_END.values()) + list(run.per_layer_catalog().values())
    for u in units:
        assert UNIT.match(u), u
    assert len(run.per_layer_catalog()) <= 128


def test_benchmark_json_matches_the_harness():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.per_layer_catalog()
    assert all(w["name"] in run.WORKLOADS for w in b["workloads"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"]) <= 0.25


def test_self_time_subtracts_covered_part_of_children():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 3.0, parent=0),
        Span("b", 2.0, 5.0, parent=0),    # overlaps a: covered 1..5
        Span("c", 8.0, 12.0, parent=0),   # only 8..10 lies inside root
        Span("a.x", 1.5, 2.5, parent=1),  # grandchild: subtracts from a only
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 4.0 - 2.0
    assert st[1] == 2.0 - 1.0
    assert st[2] == 3.0
    assert st[3] == 4.0
    assert st[4] == 1.0


def test_union_length_and_driver_gap():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    jobs = [
        {"start": 1.0, "end": 2.0}, {"start": 1.5, "end": 4.0},
        {"start": 9.0, "end": 20.0}, {"start": None, "end": None},
    ]
    assert driver_gap(jobs, 0.0, 10.0) == 10.0 - 3.0 - 1.0


def test_subtree_collects_nested_spans_only():
    spans = [
        Span("q1", 0, 5), Span("op", 1, 2, parent=0), Span("op.in", 1, 1.5, parent=1),
        Span("q2", 5, 6), Span("op", 5, 5.5, parent=3),
    ]
    assert subtree(spans, 0) == [0, 1, 2]
    assert subtree(spans, 3) == [3, 4]


def test_digest_ignores_row_and_column_order():
    cols = ["subj", "pred", "obj"]
    rows = [("u1", "has_brand", "milka"), ("u2", "is_type", "сок"), ("u1", "p", None)]
    d = digest_rows(cols, rows)
    assert digest_rows(cols, list(reversed(rows))) == d
    perm = [2, 0, 1]
    assert digest_rows([cols[i] for i in perm], [tuple(r[i] for i in perm) for r in rows]) == d
    assert digest_rows(cols, rows[:2]) != d
    assert digest_rows(cols, rows + [rows[0]]) != d  # duplicates count


def test_digest_folds_float_noise_and_negative_zero():
    assert digest_rows(["x"], [(0.0,)]) == digest_rows(["x"], [(-0.0,)])
    assert digest_rows(["x"], [(0.1 + 0.2,)]) == digest_rows(["x"], [(0.3,)])
    assert digest_rows(["x"], [(0.3,)]) != digest_rows(["x"], [(0.31,)])


def test_source_digest_follows_program_files_only(tmp_path, monkeypatch):
    (tmp_path / "x5_ner_spark").mkdir()
    (tmp_path / "x5_ner_spark" / "a.py").write_text("x = 1\n")
    (tmp_path / "bench.py").write_text("y = 1\n")
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    d = run.source_digest()
    (tmp_path / "notes.md").write_text("not program\n")
    (tmp_path / "x5_ner_spark" / "data.txt").write_text("not python\n")
    assert run.source_digest() == d
    (tmp_path / "x5_ner_spark" / "a.py").write_text("x = 2\n")
    assert run.source_digest() != d


def test_overhead_uses_only_untraced_runs_of_the_same_program(tmp_path, monkeypatch):
    history = tmp_path / "history.jsonl"
    monkeypatch.setattr(run, "HISTORY", str(history))
    monkeypatch.setattr(run, "source_digest", lambda: "cur")
    props = {"docs": 10, "mean_chars": 5.0, "distinct_text_frac": 1.0, "input_bytes": 1}
    extra = run.trace_extras("kg_ctx", 12.0, {}, props, {})
    assert extra["trace.overhead_basis_runs"] == 0.0  # no history: no basis
    rows = [
        {"workload": "kg_ctx", "source": "cur", "seed": 1, "wall_norm_s": 10.0},
        {"workload": "kg_ctx", "source": "cur", "seed": 2, "wall_norm_s": 8.0},
        {"workload": "kg_ctx", "source": "cur", "seed": 3, "wall_norm_s": 12.0},
        {"workload": "kg_ctx", "source": "parent", "seed": 1, "wall_norm_s": 50.0},
        {"workload": "corpus_ops", "source": "cur", "seed": 1, "wall_norm_s": 1.0},
    ]
    history.write_text("".join(json.dumps(r) + "\n" for r in rows))
    extra = run.trace_extras("kg_ctx", 12.0, {}, props, {})
    assert extra["trace.overhead_basis_runs"] == 3.0
    assert abs(extra["trace.overhead_frac"] - 0.2) < 1e-12


def test_speed_sampler_reports_chunk_time_and_leaves_no_process():
    before = set(procstat.tree_pids())
    s = procstat.SpeedSampler(interval=0.05)
    assert len(set(procstat.tree_pids()) - before) == len(os.sched_getaffinity(0))
    chunk, own_cpu = s.stop()
    assert 0 < chunk < own_cpu
    assert set(procstat.tree_pids()) == before


def test_fails_without_program_sources(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_ctx", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
