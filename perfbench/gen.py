"""Seeded input generators, one per workload.

Each generator takes the seed and an output directory, writes the
workload's parquet files there, and returns the input properties it
measured on the rows it wrote. The engine only ever sees those files.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Event-time origin (ms). A multiple of every window width used below,
# so tumbling windows start on it.
T0_MS = 1_700_000_000_000

# async-stream shape. Times in ms.
STREAM_FILES = 10          # one micro-batch per file
STREAM_ROWS_PER_FILE = 10_000
STREAM_KEYS = 100          # ~25 rows per (key, window, port) cell
STREAM_PORTS = 4
STREAM_FILE_SPAN_MS = 10_000   # arrival time covered by one file
STREAM_WINDOW_MS = 10_000
STREAM_PORT_LAG_MS = 5_000     # port p trails port 0 by p * lag
STREAM_JITTER_MS = 2_000
STREAM_DELAY_MS = 30_000       # watermark delay
STREAM_LATE_SHARE = 0.01
# Planted late rows trail their arrival by this much, far enough that
# the late-event watermark has passed their window end (see reference.py).
STREAM_LATE_BEHIND_MS = STREAM_DELAY_MS + STREAM_WINDOW_MS + 3 * STREAM_FILE_SPAN_MS
# The first files are exempt: before the watermark exists a late row
# would be admitted into an already evicted window.
STREAM_LATE_FIRST_FILE = 3
# event_id = file index * this + row, so a row's file is recoverable.
EVENT_ID_STRIDE = 1_000_000

# skew-batch shape.
SKEW_ROWS = 150_000
SKEW_FILES = 8
SKEW_KEYS = 20_000
SKEW_ZIPF_S = 1.2
SKEW_WINDOW_MS = 3_600_000
SKEW_HOURS = 24

# dedup-corpus shape.
DEDUP_DOCS = 600
DEDUP_FILES = 4
DEDUP_VOCAB = 4_000
DEDUP_ZIPF_S = 1.1
DEDUP_DUP_SHARE = 0.25     # share of docs that are edited copies
DEDUP_EDITS = 3            # token edits per copy
DEDUP_MAX_DEPTH = 1        # copies are of originals only
DEDUP_SPAN_SHARE = 0.3     # share of docs carrying a repeated span
DEDUP_SPAN_POOL = 40
DEDUP_SPAN_LEN = 12

_EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.int64()),          # epoch-ns, the engine's time model
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])

_DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _zipf_ranks(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """n draws of 0-based ranks from a Zipf(s) law truncated to n_keys."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(n_keys, size=n, p=w / w.sum())


def _events(event_id, ts_ms, port, n_ports, key_names, key_idx, rng) -> pa.Table:
    n = len(event_id)
    user = rng.integers(0, 2_500, n) * n_ports + port
    return pa.table({
        "event_id": event_id.astype(np.int64),
        "ts": ts_ms.astype(np.int64) * 1_000_000,
        "user_id": user.astype(np.int64),
        "event_type": pa.array(key_names[key_idx]),
        "value": np.round(rng.random(n) * 100.0, 3),
        "props": pa.array(["{}"] * n),
    }, schema=_EVENTS_SCHEMA)


def gen_async_stream(seed: int, out: str) -> dict:
    """4 ports whose event clocks trail each other, ~1% late rows, one
    file per micro-batch. File i holds the rows that arrive during
    [i, i+1) * STREAM_FILE_SPAN_MS."""
    rng = np.random.default_rng([seed, 1])
    ev_dir = os.path.join(out, "events.parquet")
    os.makedirs(ev_dir)
    keys = np.array([f"k{i:03d}" for i in range(STREAM_KEYS)])
    n_bytes = n_late = 0
    key_counts = np.zeros(STREAM_KEYS, dtype=np.int64)
    port_lag = [[] for _ in range(STREAM_PORTS)]
    for f in range(STREAM_FILES):
        n = STREAM_ROWS_PER_FILE
        arrival = T0_MS + f * STREAM_FILE_SPAN_MS + rng.integers(0, STREAM_FILE_SPAN_MS, n)
        port = rng.integers(0, STREAM_PORTS, n)
        ts = arrival - port * STREAM_PORT_LAG_MS - rng.integers(0, STREAM_JITTER_MS, n)
        if f >= STREAM_LATE_FIRST_FILE:
            late = rng.random(n) < STREAM_LATE_SHARE
            ts = np.where(
                late,
                arrival - STREAM_LATE_BEHIND_MS - rng.integers(0, STREAM_FILE_SPAN_MS, n),
                ts,
            )
            n_late += int(late.sum())
        for p in range(STREAM_PORTS):
            port_lag[p].append(float(np.median((arrival - ts)[port == p])))
        key_idx = rng.integers(0, STREAM_KEYS, n)
        key_counts += np.bincount(key_idx, minlength=STREAM_KEYS)
        table = _events(
            f * EVENT_ID_STRIDE + np.arange(n), ts, port, STREAM_PORTS,
            keys, key_idx, rng,
        )
        path = os.path.join(ev_dir, f"part-{f:05d}.parquet")
        n_bytes += _write(table, path)
        # The file stream source replays files in modification-time
        # order: pin it to the file index.
        mtime = T0_MS // 1000 + f
        os.utime(path, (mtime, mtime))
    rows = STREAM_FILES * STREAM_ROWS_PER_FILE
    return {
        "rows": rows,
        "bytes": n_bytes,
        "files": STREAM_FILES,
        "keys": STREAM_KEYS,
        "top_key_share": round(float(key_counts.max() / rows), 6),
        "late_share": round(n_late / rows, 6),
        "port_lag_ms": [round(float(np.median(v)), 1) for v in port_lag],
        "dup_share": 0.0,
    }


def gen_skew_batch(seed: int, out: str) -> dict:
    """Zipf keys over a day of events, three relations by user_id % 3."""
    rng = np.random.default_rng([seed, 2])
    ev_dir = os.path.join(out, "events.parquet")
    os.makedirs(ev_dir)
    keys = np.array([f"z{i:05d}" for i in range(SKEW_KEYS)])
    key_idx = _zipf_ranks(rng, SKEW_ROWS, SKEW_KEYS, SKEW_ZIPF_S)
    ts = T0_MS + rng.integers(0, SKEW_HOURS * SKEW_WINDOW_MS, SKEW_ROWS)
    port = rng.integers(0, 3, SKEW_ROWS)
    table = _events(np.arange(SKEW_ROWS), ts, port, 3, keys, key_idx, rng)
    n_bytes = 0
    per = -(-SKEW_ROWS // SKEW_FILES)
    for f in range(SKEW_FILES):
        n_bytes += _write(
            table.slice(f * per, per), os.path.join(ev_dir, f"part-{f:05d}.parquet")
        )
    counts = np.bincount(key_idx, minlength=SKEW_KEYS)
    return {
        "rows": SKEW_ROWS,
        "bytes": n_bytes,
        "files": SKEW_FILES,
        "keys": int((counts > 0).sum()),
        "top_key_share": round(float(counts.max() / SKEW_ROWS), 6),
        "late_share": 0.0,
        "port_lag_ms": [0.0, 0.0, 0.0],
        "dup_share": 0.0,
    }


def gen_dedup_corpus(seed: int, out: str) -> dict:
    """Zipf-vocabulary documents; a planted share are edited copies of
    earlier documents (near-duplicate clusters), and a share carry one
    span from a small pool of repeated spans."""
    rng = np.random.default_rng([seed, 3])
    doc_dir = os.path.join(out, "documents.parquet")
    os.makedirs(doc_dir)
    vocab = np.array([f"w{i}" for i in range(DEDUP_VOCAB)])

    def words(n: int) -> list[str]:
        return list(vocab[_zipf_ranks(rng, n, DEDUP_VOCAB, DEDUP_ZIPF_S)])

    spans = [words(DEDUP_SPAN_LEN) for _ in range(DEDUP_SPAN_POOL)]
    docs: list[list[str]] = []
    depth: list[int] = []
    n_dup = n_span = 0
    for _ in range(DEDUP_DOCS):
        parents = [i for i, d in enumerate(depth) if d < DEDUP_MAX_DEPTH]
        if parents and rng.random() < DEDUP_DUP_SHARE:
            parent = parents[rng.integers(0, len(parents))]
            toks = list(docs[parent])
            for _ in range(DEDUP_EDITS):
                toks[rng.integers(0, len(toks))] = words(1)[0]
            depth.append(depth[parent] + 1)
            n_dup += 1
        else:
            toks = words(int(rng.integers(40, 120)))
            if rng.random() < DEDUP_SPAN_SHARE:
                at = int(rng.integers(0, len(toks)))
                toks[at:at] = spans[rng.integers(0, DEDUP_SPAN_POOL)]
                n_span += 1
            depth.append(0)
        docs.append(toks)
    text = [" ".join(t) for t in docs]
    table = pa.table(
        {"doc_id": np.arange(DEDUP_DOCS, dtype=np.int64), "text": pa.array(text)},
        schema=_DOCS_SCHEMA,
    )
    n_bytes = 0
    per = -(-DEDUP_DOCS // DEDUP_FILES)
    for f in range(DEDUP_FILES):
        n_bytes += _write(
            table.slice(f * per, per), os.path.join(doc_dir, f"part-{f:05d}.parquet")
        )
    n_tokens = sum(len(t) for t in docs)
    tok_counts = np.unique(np.concatenate([np.array(t) for t in docs]), return_counts=True)[1]
    return {
        "rows": DEDUP_DOCS,
        "bytes": n_bytes,
        "files": DEDUP_FILES,
        "tokens": n_tokens,
        "keys": DEDUP_VOCAB,
        "top_key_share": round(float(tok_counts.max() / n_tokens), 6),
        "late_share": 0.0,
        "port_lag_ms": [],
        "dup_share": round(n_dup / DEDUP_DOCS, 6),
        "span_share": round(n_span / DEDUP_DOCS, 6),
    }


GENERATORS = {
    "async-stream": gen_async_stream,
    "skew-batch": gen_skew_batch,
    "dedup-corpus": gen_dedup_corpus,
}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out`` and return
    their measured properties."""
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out)
