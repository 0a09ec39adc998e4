#!/usr/bin/env python3
"""spark-kg benchmark: production-entry KG builds and the corpus operators.

Run from the repository root:

    python3 perfbench/run.py --workload kg_ctx --seed 3 --seconds 1 --trace 0

Prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end set; with ``--trace 1`` a separately traced run
reports the per-layer set. The line before it is a run record (stamps,
input properties, per-span detail). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ast
import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
HISTORY = os.path.join(WORK_ROOT, "history.jsonl")

# Inputs are keyed by seed modulo INPUT_SETS: every seed maps onto one of
# the input sets whose output digests are recorded in digests.json.
INPUT_SETS = 10
N_BUCKETS = 8
SAMPLE_URLS = 8

# one headline query per operator module (two for dedup, whose all-pairs
# Jaccard kernel and LSH path are separate code); a pass must fit the run
# budget described in README.md
OPS_QUERIES = [
    "near_dup_clusters_lsh", "jaccard_pairs", "gopher_filters", "simhash",
    "sessionize", "prf_eval", "components",
]

WORKLOADS = {
    # production entry, contextual-transformer emission, no dedup
    "kg_ctx": {"kind": "kg", "pages": 2000, "sentences": 4, "ctx": True, "dedup": False},
    # production entry, stub emission, near-dup filter on; runnable by hand,
    # not in BENCHMARK.json (its ~90 s run exceeds the budget in README.md)
    "kg_dedup_stub": {"kind": "kg", "pages": 100, "sentences": 4, "ctx": False, "dedup": True},
    # headline corpus-operator queries, seed-shuffled, parquet sinks
    "corpus_ops": {"kind": "ops", "docs": 500, "queries": OPS_QUERIES},
}

# CPU time, not wall time, is the end-to-end cost: on a shared 4-core VM,
# hypervisor steal moved a run's wall time by 20-35% (IQR over seeds) while
# its CPU time moved about 10% (see README.md). Wall time, throughput and
# peak RSS are per-layer metrics and are in every run record.
END_TO_END = {"cpu_s": "s", "setup_s": "s"}
# The CPU time of procstat.SpeedSampler's chunk at which a figure is
# reported as measured; at another chunk time it is scaled by NOMINAL / chunk
# (see README.md, "Machine speed").
NOMINAL_CHUNK_S = 0.004
# files whose content identifies the program under test; untraced runs of
# the same program are the basis of trace.overhead_frac
PROGRAM_FILES = ("x5_ner_spark", "__spark_entry__.py", "bench.py", "kg_submit.py")

KG_SPANS = [
    "runner.main", "runner.run_pipeline", "runner.recount", "extract.run",
    "dedup.near_dup_clusters_lsh", "fused.fused_triples", "candidates.run",
    "linking.run", "canonicalize.connected_components", "graph.triples_write",
    "graph.nodes_write", "graph.edges_write",
]
SPARK_TOTALS = [
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.task_skew_max", "ratio"), ("spark.executor_cpu_s", "s"),
]


def per_layer_catalog() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    cat = {f"{s}_s": "s" for s in KG_SPANS}
    cat.update({
        "extract.rows": "count",
        "dedup.drop_frac": "frac", "dedup.jobs": "count",
        "fused.python_total_s": "s", "fused.python_boot_s": "s",
        "fused.python_data_sent_bytes": "bytes", "fused.triples_out": "count",
        "candidates.pairs": "count", "linking.rows": "count",
        "canonicalize.jobs": "count",
        "graph.bytes_written": "bytes", "graph.bytes_per_input_byte": "ratio",
    })
    cat.update(dict(SPARK_TOTALS))
    cat["driver.gap_s"] = "s"
    cat.update({"run.wall_s": "s", "run.docs_per_s": "1/s", "run.peak_rss_mb": "MiB",
                "run.cpu_raw_s": "s", "run.speed_factor": "ratio"})
    for q in OPS_QUERIES:
        cat[f"ops.{q}_s"] = "s"
        cat[f"ops.{q}.shuffle_write_bytes"] = "bytes"
    cat.update({
        "input.docs": "count", "input.mean_chars": "chars",
        "input.distinct_text_frac": "frac",
        "trace.overhead_frac": "frac", "trace.overhead_basis_runs": "count",
    })
    return cat


# ---------------------------------------------------------------- environment

def prepare_env(work: str) -> None:
    """Confine every file the run writes to its own work directory and pin
    the session to all local cores (local[nproc])."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "sock"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM in the tree (launcher and driver): temp files in the work dir,
    # and no hsperfdata file, which HotSpot always writes to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf(work: str) -> dict[str, str]:
    """Session settings of the run. The Unix-domain sockets of the
    Python-worker transport go in the work dir under a path relative to the
    checkout root (the working directory of the JVM and of every Python
    worker): under the absolute temp dir of a deep checkout a socket path
    passes the 107-byte AF_UNIX limit and the session cannot start."""
    return {"spark.python.unix.domain.socket.dir": os.path.relpath(os.path.join(work, "sock"))}


def stop_everything(pids_before: list[int]) -> None:
    """Stop Spark, end the JVM, and wait for every descendant to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    me = os.getpid()
    deadline = time.time() + 30
    for pid in pids_before:
        if pid == me:
            continue
        while _alive(pid):
            if time.time() > deadline:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ------------------------------------------------------------------- tracing

def install_tracer(spark, prefix: str):
    """Wrap the program's layers for a traced run (see trace_layers.py)."""
    from trace_layers import Tracer, python_metrics, spark_jobs
    from x5_ner_spark.operators import dedup
    from x5_ner_spark.pipeline import (
        candidates, canonicalize, extract, fused, graph, linking, runner,
    )

    sc = spark.sparkContext
    tr = Tracer(sc, prefix)

    def fused_after(out, sp):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = {j["id"] for j in spark_jobs(sc, sp.group, with_stages=False)}
        sp.counts.update(python_metrics(spark, ids))

    def dedup_after(out, sp):
        sp.counts["dropped"] = float(out.filter("dropped").count())

    tr.wrap(extract, "run", "extract.run", materialize=True)
    tr.wrap(fused, "fused_triples", "fused.fused_triples", materialize=True,
            after=fused_after)
    tr.wrap(candidates, "run", "candidates.run", materialize=True)
    tr.wrap(linking, "run", "linking.run", materialize=True)
    tr.wrap(dedup, "near_dup_clusters_lsh", "dedup.near_dup_clusters_lsh",
            materialize=True, after=dedup_after)
    tr.wrap(canonicalize, "connected_components", "canonicalize.connected_components")
    tr.wrap(graph, "write_stage",
            lambda *a, **k: f"graph.{k['stage'] if 'stage' in k else a[2]}_write")

    orig_rp, orig_main = runner.run_pipeline, runner.main
    recount: list[int] = []

    def run_pipeline(*a, **k):
        with tr.span("runner.run_pipeline"):
            out = orig_rp(*a, **k)
            tr.release()
        # main's closing {k: v.count()} runs from here until main returns
        recount.append(tr.open("runner.recount"))
        return out

    def main(*a, **k):
        with tr.span("runner.main"):
            try:
                return orig_main(*a, **k)
            finally:
                while recount:
                    tr.close(recount.pop())

    tr.swap(runner, "run_pipeline", run_pipeline)
    tr.swap(runner, "main", main)
    return tr


# (span, count recorded in it) -> per-layer metric
SPAN_COUNTS = {
    ("extract.run", "rows"): "extract.rows",
    ("fused.fused_triples", "rows"): "fused.triples_out",
    ("fused.fused_triples", "python_total_s"): "fused.python_total_s",
    ("fused.fused_triples", "python_boot_s"): "fused.python_boot_s",
    ("fused.fused_triples", "python_data_sent_bytes"): "fused.python_data_sent_bytes",
    ("candidates.run", "rows"): "candidates.pairs",
    ("linking.run", "rows"): "linking.rows",
    ("dedup.near_dup_clusters_lsh", "dropped"): "dedup.dropped",
}


def layer_metrics(spark, tr, window: tuple[float, float]) -> tuple[dict, list]:
    """Self time per layer, per-span Spark totals, driver gap."""
    from trace_layers import driver_gap, self_times, spark_jobs, spark_totals, subtree

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = spark_jobs(sc, tr.prefix + ":")
    by_group: dict[str, list] = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    m: dict[str, float] = {}
    detail = []
    for idx, (sp, self_s) in enumerate(zip(tr.spans, self_times(tr.spans))):
        tot = spark_totals(by_group.get(sp.group, []))
        detail.append({"span": sp.name, "wall_s": sp.end - sp.start,
                       "self_s": self_s, **tot, **sp.counts})
        m[f"{sp.name}_s"] = m.get(f"{sp.name}_s", 0.0) + self_s
        if sp.name.startswith(("dedup.", "canonicalize.")):
            key = sp.name.split(".")[0] + ".jobs"
            m[key] = m.get(key, 0.0) + tot["jobs"]
        if sp.name.startswith("ops."):
            # a query is reported whole: its wall and the shuffle of every
            # job under it, including the operator spans nested inside
            inner = [j for k in subtree(tr.spans, idx)
                     for j in by_group.get(tr.spans[k].group, [])]
            m[f"{sp.name}_s"] = sp.end - sp.start
            m[f"{sp.name}.shuffle_write_bytes"] = spark_totals(inner)["shuffle_write_bytes"]
        for k, v in sp.counts.items():
            name = SPAN_COUNTS.get((sp.name, k))
            if name is not None:
                m[name] = m.get(name, 0.0) + v
    for k, v in spark_totals(jobs).items():
        m[f"spark.{k}"] = v
    m["driver.gap_s"] = driver_gap(jobs, *window)
    return m, detail


# ----------------------------------------------------------------- workloads

def kg_inputs(wl: dict, key: int, work: str) -> dict:
    from inputs import write_pages

    props = write_pages(os.path.join(work, "pages"), wl["pages"], seed=key,
                        sentences=wl["sentences"], files=2 * len(os.sched_getaffinity(0)))
    props["pages_path"] = os.path.join(work, "pages")
    return props


def kg_unit(spark, wl: dict, name: str, seed: int, work: str, props: dict) -> dict:
    """One call of the production entry (runner.main, what kg_submit runs)
    into a fresh out dir under a fresh run id."""
    from x5_ner_spark.pipeline import runner

    out = os.path.join(work, "out")
    run_id = f"{name}-{seed}-{uuid.uuid4().hex[:12]}"
    argv = ["kg_submit.py", "--pages", props["pages_path"], "--out", out,
            "--buckets", str(N_BUCKETS)]
    if wl["dedup"]:
        argv.append("--dedup")
    if wl["ctx"]:
        argv += ["--emission-npz", props["ctx_ckpt"]]
    os.environ["X5_SPARK_RUN_ID"] = run_id
    saved, sys.argv = sys.argv, argv
    buf = io.StringIO()
    try:
        t0 = time.time()
        with contextlib.redirect_stdout(buf):
            runner.main()
        t1 = time.time()
    finally:
        sys.argv = saved
    printed = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
    return {"t0": t0, "t1": t1, "out": out, "run_id": run_id, "ckpt": props.get("ctx_ckpt"),
            "counts": ast.literal_eval(printed[-1]) if printed else {}}


def kg_check(wl: dict, key: int, res: dict) -> tuple[dict, dict]:
    """Per-stage problems and the output digests of one KG unit."""
    import verify
    from x5_ner_spark.core.html_text import extract_text
    from x5_ner_spark.core.mention_pipeline import final_mention_spans_batch, triples_from_spans
    from x5_ner_spark.pipeline.fixtures import BRANDS, page_row

    out = res["out"]
    problems = verify.check_manifests(out, res["run_id"], N_BUCKETS)
    digests = {}
    for stage in verify.STAGES:
        d, n = verify.digest_path(os.path.join(out, stage))
        digests[stage] = d
        printed = res["counts"].get(stage)
        if printed is not None and printed != n:
            problems[stage].append(f"entry printed {printed} rows, {n} committed")
    # a fixed sample of pages re-derived through the pure-Python core
    provider = None
    if res["ckpt"]:
        from x5_ner_spark.core.emission import provider_for

        provider = provider_for(res["ckpt"])  # fused's default long_doc='truncate'
    lex = frozenset(BRANDS)
    cols, rows = verify.read_table(os.path.join(out, "triples"))
    ci = {c: i for i, c in enumerate(cols)}
    step = max(wl["pages"] // SAMPLE_URLS, 1)
    for i in range(0, wl["pages"], step):
        page = page_row(i, key, wl["sentences"])
        got = sorted((r[ci["subj"]], r[ci["pred"]], r[ci["obj"]])
                     for r in rows if r[ci["url"]] == page["url"])
        if wl["dedup"] and not got:
            continue  # the page may have been filtered as a near-duplicate
        text = extract_text(page["html"])
        spans = final_mention_spans_batch([text], lex, sorted(lex), provider=provider)[0]
        want = sorted(triples_from_spans(page["url"], text, spans))
        if got != want:
            problems["triples"].append(f"re-derived triples differ for {page['url']}")
    return problems, digests


def ops_inputs(wl: dict, key: int, work: str) -> dict:
    from inputs import write_corpus

    props = write_corpus(os.path.join(work, "corpus"), seed=key, docs=wl["docs"])
    props["sf_dir"] = os.path.join(work, "corpus")
    return props


def ops_warm(spark, props: dict) -> None:
    """Read every corpus table once (as bench.py does), so the first query
    to touch a table does not pay its first-read cost."""
    for f in sorted(os.listdir(props["sf_dir"])):
        spark.read.parquet(os.path.join(props["sf_dir"], f)).write.mode(
            "overwrite").format("noop").save()


def ops_unit(spark, wl: dict, seed: int, work: str, props: dict, tr) -> dict:
    """One pass over the queries, in an order shuffled by the seed, each
    into its own parquet sink."""
    import __spark_entry__ as entry

    qs = entry.queries()
    order = list(wl["queries"])
    random.Random(seed).shuffle(order)
    out = os.path.join(work, "out")
    times, errors = {}, {}
    t0 = time.time()
    for q in order:
        span = tr.span(f"ops.{q}") if tr is not None else contextlib.nullcontext()
        tq = time.time()
        try:
            with span:
                qs[q](spark, props["sf_dir"]).write.parquet(os.path.join(out, q))
        except Exception:
            errors[q] = traceback.format_exc(limit=3)
        finally:
            if tr is not None:
                tr.release()
        times[q] = time.time() - tq
    return {"t0": t0, "t1": time.time(), "out": out, "times": times, "errors": errors}


def ops_check(res: dict) -> tuple[dict, dict]:
    import verify

    problems, digests = {}, {}
    for q, secs in res["times"].items():
        if q in res["errors"]:
            problems[q] = [res["errors"][q]]
            continue
        digests[q], _ = verify.digest_path(os.path.join(res["out"], q))
        problems[q] = []
    return problems, digests


# ---------------------------------------------------------------------- main

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the benchmark interface; every run "
                         "measures exactly one cold unit, longer than this")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's output digests as the reference "
                         "for its input set instead of checking against it")
    return ap.parse_args(argv)


def source_digest() -> str:
    """Digest of the program's source files (the checkout is not a git
    repository, so this stands in for its revision)."""
    h = hashlib.sha256()
    for top in PROGRAM_FILES:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".py")
        )
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def measure(args, wl: dict, work: str) -> tuple[dict, dict]:
    """Set up, run one cold unit of the workload, check the outputs.
    Returns (run record, result line)."""
    import procstat
    import verify

    key = args.seed % INPUT_SETS
    load_start = procstat.load_average()

    # inputs are the harness's work, not the program's: kept out of setup_s
    t_inputs = time.time()
    props = kg_inputs(wl, key, work) if wl["kind"] == "kg" else ops_inputs(wl, key, work)
    if wl["kind"] == "kg" and wl["ctx"]:
        import bench

        props["ctx_ckpt"] = bench._ctx_ckpt()
    t_inputs = time.time() - t_inputs

    # ------------------------------------ set-up: process start -> warmed session
    from x5_ner_spark.session import get_spark

    spark = get_spark(app_name="x5-kg-pipeline" if wl["kind"] == "kg" else "x5-bench",
                      extra_conf=session_conf(work))
    if wl["kind"] == "ops":
        ops_warm(spark, props)
    setup_raw = time.time() - procstat.process_start() - t_inputs

    # ------------------------------------------------------ measure one unit
    tr = install_tracer(spark, f"pb{uuid.uuid4().hex[:6]}") if args.trace else None
    win = procstat.Window()
    speed = procstat.SpeedSampler()
    try:
        if wl["kind"] == "kg":
            res = kg_unit(spark, wl, args.workload, args.seed, work, props)
        else:
            res = ops_unit(spark, wl, args.seed, work, props, tr)
    except Exception:
        traceback.print_exc()
        res = {"t0": win.t0, "t1": time.time(), "error": True}
    unit_chunk, sampler_cpu = speed.stop()
    cpu = win.close()
    cpu_raw = cpu["cpu_s"] - sampler_cpu
    peak_rss = procstat.peak_rss_mb(procstat.tree_pids())
    layers, detail = {}, []
    if tr is not None:
        layers, detail = layer_metrics(spark, tr, (res["t0"], res["t1"]))
        tr.restore()

    # ------------------------------------------------------------- verify
    book = verify.load_digests().get(args.workload, {}).get(str(key))
    if res.get("error"):
        units = verify.STAGES if wl["kind"] == "kg" else wl["queries"]
        problems = {u: ["the unit raised"] for u in units}
    else:
        if wl["kind"] == "kg":
            problems, digests = kg_check(wl, key, res)
        else:
            problems, digests = ops_check(res)
        for unit, d in digests.items():
            if args.record:
                continue
            if book is None or book.get(unit) != d:
                want = None if book is None else book.get(unit)
                problems.setdefault(unit, []).append(f"digest {d} != recorded {want}")
    attempted = len(problems)
    failed = sum(1 for v in problems.values() if v)
    if args.record and not failed:
        verify.save_digest(args.workload, key, digests)

    # ------------------------------------------------------------ report
    wall = res["t1"] - res["t0"]
    speed_factor = unit_chunk / NOMINAL_CHUNK_S
    docs = props["docs"]
    run = {
        "wall_s": wall, "docs_per_s": docs / wall, "peak_rss_mb": peak_rss,
        "cpu_raw_s": cpu_raw, "speed_factor": speed_factor,
        "setup_raw_s": setup_raw, "inputs_s": t_inputs,
        "speed_chunk_ms": [m * 1e3 for m in speed.medians],
    }
    # one speed factor for both: the unit's window is long enough for a
    # steady reading, set-up's is not (see README.md, "Machine speed")
    e2e = {"cpu_s": cpu_raw / speed_factor, "setup_s": setup_raw / speed_factor}
    if args.trace:
        layers.update(trace_extras(args.workload, wall / speed_factor, layers, props, res))
        layers.update({f"run.{k}": run[k] for k in
                       ("wall_s", "docs_per_s", "peak_rss_mb", "cpu_raw_s", "speed_factor")})
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in per_layer_catalog().items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        if not failed:
            with open(HISTORY, "a") as f:
                f.write(json.dumps({"workload": args.workload, "source": source_digest(),
                                    "seed": args.seed, "wall_norm_s": wall / speed_factor})
                        + "\n")
    record = {
        "record": "perfbench", "workload": args.workload, "seed": args.seed,
        "input_set": key, "trace": args.trace, **e2e, **run,
        "nproc": len(os.sched_getaffinity(0)),
        "load_start": load_start, "load_end": procstat.load_average(),
        "outside_cpu_s": cpu["outside_cpu_s"], "steal_s": cpu["steal_s"],
        "input": {k: v for k, v in props.items()
                  if not k.endswith(("_path", "_dir", "_ckpt"))},
        "query_s": res.get("times", {}),
        "overhead_frac": layers["trace.overhead_frac"]
        if layers.get("trace.overhead_basis_runs") else None,
        "problems": {k: v for k, v in problems.items() if v}, "spans": detail,
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return record, result


def trace_extras(workload: str, wall_norm: float, layers: dict, props: dict, res: dict) -> dict:
    """Per-layer values derived after the traced unit: tracing overhead,
    input properties, bytes written, and the near-dup drop fraction.

    The overhead compares the traced wall time with the median of untraced
    runs of the same workload and the same program source in this checkout,
    both scaled to nominal machine speed. With no such run there is nothing
    to compare with: the value reads 0 with a basis of 0 runs, and the run
    record says ``"overhead_frac": null``."""
    from inputs import dir_bytes

    import verify

    basis = []
    if os.path.exists(HISTORY):
        src = source_digest()
        with open(HISTORY) as f:
            rows = [json.loads(ln) for ln in f if ln.strip()]
        basis = [r["wall_norm_s"] for r in rows
                 if r["workload"] == workload and r.get("source") == src]
    if basis:
        overhead = wall_norm / statistics.median(basis) - 1
    else:
        overhead = 0.0
        print(f"trace.overhead_frac: no untraced {workload} run of this program in "
              "this checkout to compare with; reported as 0 with 0 basis runs",
              file=sys.stderr)
    extra = {
        "trace.overhead_basis_runs": float(len(basis)),
        "trace.overhead_frac": overhead,
        "input.docs": float(props["docs"]),
        "input.mean_chars": props["mean_chars"],
        "input.distinct_text_frac": props["distinct_text_frac"],
        "dedup.drop_frac": layers.get("dedup.dropped", 0.0) / props["docs"],
    }
    if "out" in res and "graph.triples_write_s" in layers:
        written = sum(dir_bytes(os.path.join(res["out"], s)) for s in verify.STAGES)
        extra["graph.bytes_written"] = float(written)
        extra["graph.bytes_per_input_byte"] = written / props["input_bytes"]
    return extra


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "x5_ner_spark")):
        print(f"program sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import procstat

    wl = WORKLOADS[args.workload]
    os.chdir(ROOT)  # relative socket paths (session_conf) resolve from here
    work = os.path.join(WORK_ROOT, f"{args.workload}-{uuid.uuid4().hex[:8]}")
    prepare_env(work)
    try:
        record, result = measure(args, wl, work)
    finally:
        stop_everything(procstat.tree_pids())
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
