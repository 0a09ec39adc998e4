"""Spans around the program's layers, and Spark status-store readings.

A :class:`Tracer` swaps public functions of the pipeline modules for
wrappers that open a span around the call. Each span instance runs its
Spark jobs under its own job group, so the status store later attributes
every job, stage and task to exactly one span. Nothing in the program is
edited: :meth:`Tracer.restore` puts the original functions back.

The lazy layers (``extract.run``, ``fused.fused_triples``,
``candidates.run``, ``linking.run``) return a plan, not a result; their
wrappers persist and count the result inside the span and hand the persisted
frame back, so the work is charged to the layer that defines it instead of
to whichever later action first runs it.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    counts: dict[str, float] = field(default_factory=dict)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = [(max(a, s.start), min(b, s.end)) for a, b in kids.get(i, [])]
        covered = [(a, b) for a, b in covered if b > a]
        out.append((s.end - s.start) - union_length(covered))
    return out


def subtree(spans: list[Span], root: int) -> list[int]:
    """Indices of span ``root`` and of every span nested under it (spans are
    recorded in opening order, so a parent precedes its children)."""
    inside = [root]
    for i in range(root + 1, len(spans)):
        if spans[i].parent in inside:
            inside.append(i)
    return inside


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc, prefix: str) -> None:
        self.sc = sc
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self.persisted: list = []

    # ------------------------------------------------------------- spans
    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"{self.prefix}:{idx}:{name}"
        self.spans.append(Span(name, time.time(), parent=parent, group=group))
        self._stack.append(idx)
        self._set_group(group)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack.pop()
        self._set_group(self.spans[self._stack[-1]].group if self._stack else None)

    @contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield self.spans[idx]
        finally:
            self.close(idx)

    # ---------------------------------------------------------- wrapping
    def swap(self, module, attr: str, fn) -> None:
        self._saved.append((module, attr, getattr(module, attr)))
        setattr(module, attr, fn)

    def restore(self) -> None:
        while self._saved:
            module, attr, orig = self._saved.pop()
            setattr(module, attr, orig)

    def wrap(self, module, attr: str, name, materialize: bool = False,
             after=None) -> None:
        """Replace ``module.attr`` with a spanned call. ``name`` is a span
        name or a function of the call's arguments returning one. With
        ``materialize``, the returned frame is persisted and counted inside
        the span, and the count is stored as the span's ``rows``.
        ``after(result, span)`` runs inside the span, after the count."""
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as sp:
                out = orig(*args, **kwargs)
                if materialize:
                    out = out.persist()
                    self.persisted.append(out)
                    sp.counts["rows"] = float(out.count())
                if after is not None:
                    after(out, sp)
                return out

        wrapped.__wrapped__ = orig
        self.swap(module, attr, wrapped)

    def release(self) -> None:
        """Unpersist every frame the wrappers persisted."""
        while self.persisted:
            self.persisted.pop().unpersist()


# ---------------------------------------------------------------- status store

def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def spark_jobs(sc, group_prefix: str, with_stages: bool = True) -> list[dict]:
    """Jobs whose job group starts with ``group_prefix``, with their stages'
    task and I/O totals, read from the live status store (works with the UI
    disabled). Call after the listener bus has drained."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _seq(store.jobsList(jvm.java.util.ArrayList())):
        group = _opt(j.jobGroup())
        if group is None or not group.startswith(group_prefix):
            continue
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        jobs.append({
            "id": int(j.jobId()),
            "group": group,
            "start": sub.getTime() / 1000.0 if sub is not None else None,
            "end": done.getTime() / 1000.0 if done is not None else None,
            "stage_ids": [int(x) for x in _seq(j.stageIds())],
        })
    wanted = {sid for job in jobs for sid in job["stage_ids"]} if with_stages else set()
    stages: dict[int, dict] = {}
    if wanted:
        quant = sc._gateway.new_array(jvm.double, 0)
        all_stages = store.stageList(jvm.java.util.ArrayList(), False, False, quant,
                                     jvm.java.util.ArrayList())
        for s in _seq(all_stages):
            sid = int(s.stageId())
            if sid not in wanted or str(s.status().toString()) == "SKIPPED":
                continue
            durs = sorted(
                float(_opt(t.duration()) or 0)
                for t in _seq(store.taskList(sid, s.attemptId(), 100000))
            )
            st = stages.setdefault(sid, {
                "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                "executor_cpu_s": 0.0, "task_skew": 0.0,
            })
            st["tasks"] += int(s.numCompleteTasks())
            st["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
            st["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
            st["executor_cpu_s"] += int(s.executorCpuTime()) / 1e9
            if durs:
                med = statistics.median(durs)
                st["task_skew"] = max(st["task_skew"], durs[-1] / med if med > 0 else 1.0)
    for job in jobs:
        job["stages"] = [stages[s] for s in job["stage_ids"] if s in stages]
    return jobs


def spark_totals(jobs: list[dict]) -> dict[str, float]:
    stages = [st for j in jobs for st in j["stages"]]
    return {
        "jobs": float(len(jobs)),
        "tasks": float(sum(s["tasks"] for s in stages)),
        "shuffle_write_bytes": float(sum(s["shuffle_write_bytes"] for s in stages)),
        "spill_bytes": float(sum(s["spill_bytes"] for s in stages)),
        "task_skew_max": max((s["task_skew"] for s in stages), default=0.0),
        "executor_cpu_s": sum(s["executor_cpu_s"] for s in stages),
    }


def driver_gap(jobs: list[dict], start: float, end: float) -> float:
    """Wall time in [start, end] during which no Spark job was running."""
    busy = [
        (max(j["start"], start), min(j["end"], end))
        for j in jobs if j["start"] is not None and j["end"] is not None
    ]
    return (end - start) - union_length([(a, b) for a, b in busy if b > a])


PYTHON_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_data_sent_bytes",
}


def python_metrics(spark, job_ids: set[int]) -> dict[str, float]:
    """Spark's Python-worker SQL metrics summed over the SQL executions that
    ran any of ``job_ids``. Values are read from the live accumulators, so
    they are exact; Spark keeps these timings in milliseconds (summed over
    tasks) and they are reported in seconds."""
    jvm = spark.sparkContext._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    acc_ctx = jvm.org.apache.spark.util.AccumulatorContext
    out = {v: 0.0 for v in PYTHON_METRICS.values()}
    for ex in _seq(store.executionsList()):
        ex_jobs = {int(k) for k in _seq(ex.jobs().keys().toSeq())}
        if not ex_jobs & job_ids:
            continue
        for m in _seq(ex.metrics()):
            key = PYTHON_METRICS.get(m.name())
            if key is None:
                continue
            acc = acc_ctx.get(m.accumulatorId())
            if not acc.isDefined():
                continue
            v = float(acc.get().value())
            out[key] += v / 1e3 if key.endswith("_s") else v
    return out
