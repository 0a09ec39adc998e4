"""Output checks: order-independent digests, manifest checks, re-derivation.

Committed tables are read back with pyarrow, not Spark, so checking adds no
Spark jobs and does not share code with the program under test.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pyarrow.parquet as pq

STAGES = ("triples", "nodes", "edges")
DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def _cell(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        v = round(v, 6)
        return repr(v + 0.0)  # folds -0.0 into 0.0
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return repr(v)


def digest_rows(columns: list[str], rows) -> str:
    """sha256 over the sorted canonical rows, with columns in name order.
    Independent of row order and of column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        "\x1f".join(_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in canon:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()[:32]


def read_table(path: str):
    """(columns, rows) of a parquet file or a hive-partitioned directory."""
    t = pq.read_table(path)
    cols = t.column_names
    data = [t.column(c).to_pylist() for c in cols]
    return cols, list(zip(*data)) if data else []


def digest_path(path: str) -> tuple[str, int]:
    cols, rows = read_table(path)
    return digest_rows(cols, rows), len(rows)


def check_manifests(out_root: str, run_id: str, n_buckets: int) -> dict[str, list[str]]:
    """Per stage, the list of problems: every bucket 0..n_buckets-1 needs a
    manifest row stamped with this run's id, and the manifest's row total
    must equal the rows read back from the stage directory."""
    cols, mrows = read_table(os.path.join(out_root, "_manifests"))
    idx = {c: i for i, c in enumerate(cols)}
    problems: dict[str, list[str]] = {}
    for stage in STAGES:
        mine = [r for r in mrows if r[idx["stage"]] == stage]
        errs = []
        parts = sorted(r[idx["part_id"]] for r in mine)
        if parts != list(range(n_buckets)):
            errs.append(f"manifest buckets {parts} != 0..{n_buckets - 1}")
        ids = {r[idx["run_id"]] for r in mine}
        if ids != {run_id}:
            errs.append(f"manifest run ids {sorted(ids)} != [{run_id}]")
        want = sum(r[idx["n_rows"]] for r in mine)
        got = pq.read_table(os.path.join(out_root, stage)).num_rows
        if want != got:
            errs.append(f"manifest n_rows {want} != {got} rows read back")
        problems[stage] = errs
    return problems


def load_digests() -> dict:
    try:
        with open(DIGESTS_PATH) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def save_digest(workload: str, input_key: int, values: dict[str, str]) -> None:
    """Record the digests of one (workload, input set); used once, at the
    commit whose outputs are the reference."""
    book = load_digests()
    book.setdefault(workload, {})[str(input_key)] = values
    tmp = DIGESTS_PATH + ".tmp"
    with open(tmp, "w") as f:
        json.dump(book, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(tmp, DIGESTS_PATH)
