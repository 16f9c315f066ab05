"""Synthetic inputs for the benchmark: the two tables its workloads read,
``documents`` (corpus_curation) and ``events`` (stream_ingest), with
the physical parquet schemas of the engine's sf fixtures (``PHYSICAL``)
and their value distributions.

Content is a pure function of the scale factor (a fixed content seed),
so every benchmark seed does the same amount of work; ``--seed`` only
permutes the row order of the documents (and picks the stream's
starting slice, see worker.py).  Generation is numpy + pyarrow, no Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
EPOCH_2024_US = 1704067200 * 10**6
DAY_US = 86400 * 10**6

# Column types in the footers of the sf0.01 and sf0.1 fixtures, as
# footer_types() prints them.  `events.ts` is TIMESTAMP(MICROS) there
# (the pandas metadata in those files says datetime64[ns], which is the
# in-memory type before the write, not the stored one), so the stream
# reads through catalog.with_event_time's native-timestamp branch.
PHYSICAL = {
    "events": {
        "event_id": "INT64", "ts": "INT64 Timestamp microseconds",
        "user_id": "INT64", "event_type": "BYTE_ARRAY String",
        "value": "DOUBLE", "props": "BYTE_ARRAY String",
    },
    "documents": {
        "doc_id": "INT64", "text": "BYTE_ARRAY String",
        "lang": "BYTE_ARRAY String", "source": "BYTE_ARRAY String",
        "n_chars": "INT64",
    },
}


def sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (sf fixture ratios)."""
    return {
        "events": max(100, int(1_000_000 * sf)),
        "users": max(10, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
    }


def footer_types(path: str) -> dict[str, str]:
    """Column -> physical type, plus logical type and time unit if any."""
    schema = pq.ParquetFile(path).schema
    out = {}
    for i in range(len(schema)):
        col = schema.column(i)
        lt = col.logical_type
        extra = json.loads(lt.to_json()) if lt.type != "NONE" else {}
        out[col.name] = " ".join(
            filter(None, [col.physical_type, extra.get("Type"), extra.get("timeUnit")]))
    return out


def events_table(k: int, users: int) -> pa.Table:
    """Events in event-time order over 30 days (event_id follows ts)."""
    rng = np.random.default_rng(CONTENT_SEED)
    ts = np.sort(rng.integers(0, 30 * DAY_US, k)) + EPOCH_2024_US
    return pa.table({
        "event_id": np.arange(k, dtype="int64"),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, users, k).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, k),
        "value": np.round(rng.uniform(0.01, 490.02, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })


def documents_table(k: int) -> pa.Table:
    """Bag-of-words documents; 5% copy an earlier document and append
    " dup", so the dedup operators have near- and exact-duplicates."""
    rng = np.random.default_rng(CONTENT_SEED)
    texts: list[str] = []
    for i in range(k):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": np.arange(k, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, k, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })


def materialize(out_dir: str, sf: float, seed: int) -> str:
    """Write the seed's ``documents.parquet`` (rows in a seeded order)
    under ``out_dir`` once; reuse it after.  Returns its directory."""
    path = os.path.join(out_dir, f"sf{sf}_seed{seed}")
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        return path
    os.makedirs(path, exist_ok=True)
    docs = documents_table(sizes(sf)["documents"])
    order = np.random.default_rng(seed).permutation(docs.num_rows)
    pq.write_table(docs.take(pa.array(order)), os.path.join(path, "documents.parquet"))
    open(done, "w").close()
    return path
