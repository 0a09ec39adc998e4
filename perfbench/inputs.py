"""Seeded benchmark inputs, written as parquet before the clock starts.

Pages come from the program's own fixture generator
(``x5_ner_spark.pipeline.fixtures.page_row``, the function behind
``pages_df``), keyed by the benchmark seed. The corpus tables for the
operator workload are synthesized here with the column set and value
distributions of the repository's test tables (``documents`` and
``events``, the two the benchmark's queries read), so the benchmark needs no
data outside its checkout.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def write_pages(path: str, n: int, seed: int, sentences: int, files: int) -> dict:
    """``n`` fixture pages split over ``files`` parquet files (one scan
    partition each). Returns the input properties the run records."""
    from x5_ner_spark.core.html_text import extract_text
    from x5_ner_spark.pipeline.fixtures import generate_pages

    rows = generate_pages(n, seed=seed, sentences=sentences)
    os.makedirs(path)
    bounds = [n * i // files for i in range(files + 1)]
    for i in range(files):
        chunk = rows[bounds[i] : bounds[i + 1]]
        table = pa.Table.from_pylist(chunk, schema=PAGES_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    texts = [extract_text(r["html"]) for r in rows]
    return {
        "docs": n,
        "mean_chars": sum(len(t) for t in texts) / max(n, 1),
        "distinct_text_frac": len(set(texts)) / max(n, 1),
        "input_bytes": dir_bytes(path),
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ------------------------------------------------------------ corpus tables

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de", "en"]


def write_corpus(path: str, seed: int, docs: int) -> dict:
    """The ``documents`` table and the ``events`` table (20 events per
    document, as in the test tables)."""
    rng = np.random.default_rng(seed)
    os.makedirs(path)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))

    # documents: bag-of-words text over a 30-word vocabulary; 5% are
    # near-duplicates of an earlier document with one appended token
    texts: list[str] = []
    lengths = rng.integers(8, 100, docs)
    for i in range(docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, lengths[i])))
    put("documents", {
        "doc_id": pa.array(np.arange(docs, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })

    n_ev = docs * 20
    users = max(docs * 3 // 10, 10)
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    start_us = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
    offsets_us = (np.cumsum(rng.exponential(26.0, n_ev)) * 1_000_000).astype("int64")
    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": pa.array(start_us + offsets_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n_ev)),
        "event_type": pa.array(kinds[rng.integers(0, len(kinds), n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    return {
        "docs": docs,
        "mean_chars": float(np.mean([len(t) for t in texts])),
        "distinct_text_frac": len(set(texts)) / docs,
        "input_bytes": dir_bytes(path),
    }
