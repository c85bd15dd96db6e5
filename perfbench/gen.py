"""Seeded input generator for the benchmark workloads.

Every table is a function of ``(seed, size)`` alone: the same seed gives
byte-identical inputs. ``documents`` mirrors the schema and value domains
of the engine's analytic fixture, with near-duplicate copies; envelopes
take the engine's dynamic-tier ConnectRecord shape. Files are written
with pyarrow, one row group each — the layout the engine's readers and
the DuckDB oracles expect.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
FIRST = ["ada", "alan", "grace", "edsger", "barbara", "donald", "leslie", "john"]
LAST = ["lovelace", "turing", "hopper", "dijkstra", "liskov", "knuth", "lamport"]
TOPICS = ["orders", "payments", "users"]



def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, as the fixtures store them (whole cents)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _doc_texts(rng: np.random.Generator, n: int, dup_share: float) -> tuple[list[str], int]:
    """``n`` texts over VOCAB; a ``dup_share`` fraction are near-duplicates:
    an earlier original with one word appended, as the fixtures build them.
    Returns (texts, number of near-duplicates)."""
    texts: list[str] = []
    originals: list[int] = []
    n_dup = 0
    for i in range(n):
        if originals and rng.random() < dup_share:
            src = originals[int(rng.integers(0, len(originals)))]
            texts.append(texts[src] + " dup")
            n_dup += 1
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
            originals.append(i)
    return texts, n_dup


def documents_table(rng: np.random.Generator, n: int, dup_share: float) -> tuple[pa.Table, int]:
    texts, n_dup = _doc_texts(rng, n, dup_share)
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return table, n_dup


def curation_tables(out_dir: str, seed: int, n_docs: int, dup_share: float) -> dict:
    rng = np.random.default_rng([seed, 2])
    docs, n_dup = documents_table(rng, n_docs, dup_share)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    return {"documents": n_docs, "near_dup_docs": n_dup}


VALUE_FIELDS = [("first", "STRING"), ("last", "STRING"), ("email", "STRING"),
                ("k", "INT32"), ("amount", "FLOAT64")]
VALUE_SCHEMA = json.dumps({
    "type": "STRUCT", "optional": False,
    "fields": [{"name": n, "schema": {"type": t, "optional": True}} for n, t in VALUE_FIELDS],
})


def envelope_batches(
    out_dir: str, seed: int, n_batches: int, rows: int, tombstone_share: float
) -> dict:
    """ConnectRecord envelopes (dynamic tier: key/value/valueSchema as JSON
    strings, ordered headers), one parquet file per micro-batch, mtimes
    pinned in batch order. A ``tombstone_share`` fraction have a null
    value and schema."""
    rng = np.random.default_rng([seed, 4])
    n = n_batches * rows
    tomb = rng.random(n) < tombstone_share
    first = rng.choice(FIRST, n)
    last = rng.choice(LAST, n)
    k = rng.integers(0, 100, n)
    amount = _money(rng, 0.0, 1000.0, n)
    topic = rng.choice(TOPICS, n)
    part = rng.integers(0, 8, n)
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
    ts = t0 + np.sort(rng.integers(0, 86_400_000, n))
    trace = rng.integers(0, 1 << 30, n)
    records = []
    for i in range(n):
        value = None if tomb[i] else json.dumps({
            "first": str(first[i]), "last": str(last[i]),
            "email": f"{first[i]}.{last[i]}@example.com",
            "k": int(k[i]), "amount": float(amount[i]),
        })
        records.append({
            "topic": str(topic[i]),
            "kafkaPartition": int(part[i]),
            "keySchema": json.dumps({"type": "INT64", "optional": False}),
            "key": str(i),
            "valueSchema": None if tomb[i] else VALUE_SCHEMA,
            "value": value,
            "timestamp": int(ts[i]),
            "headers": [
                {"key": "trace", "value": str(trace[i]), "schema": None},
                {"key": "source", "value": "gen", "schema": None},
            ],
        })
    schema = pa.schema([
        ("topic", pa.string()), ("kafkaPartition", pa.int32()),
        ("keySchema", pa.string()), ("key", pa.string()),
        ("valueSchema", pa.string()), ("value", pa.string()),
        ("timestamp", pa.int64()),
        ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.string()), ("schema", pa.string())]))),
    ])
    for b in range(n_batches):
        path = os.path.join(out_dir, f"batch-{b:04d}.parquet")
        _write(pa.Table.from_pylist(records[b * rows:(b + 1) * rows], schema), path)
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    return {"envelopes": n, "tombstones": int(tomb.sum())}
