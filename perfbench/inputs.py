"""Seeded input generators for the benchmark workloads.

Each table is drawn from its own numpy stream, seeded with (seed,
table), so one seed always yields the same tables. The tables follow
the shape of the repository's sf0.1 testdata (TESTDATA.md): the same
schemas, one parquet file per table with one row group, and the value
distributions listed on each generator. The program under test only
sees the written parquet, read back through its own loaders.

Timestamps are written as parquet INT64 micros with
isAdjustedToUTC=false, the encoding of that testdata: DuckDB reads it
as a plain TIMESTAMP and the package's loaders cast it to
TimestampType under a UTC session.
"""

from __future__ import annotations

import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENTS_START_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
# marks a data directory whose tables are all written and checked
DONE = "_DONE"


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), zlib.crc32(table.encode())])


def events(seed: int, n_events: int, n_users: int) -> pa.Table:
    """``events(event_id, ts, user_id, event_type, value, props)``.

    Five uniform event types, users uniform over ``n_users``, values
    exponential with mean 50 (two decimals), timestamps uniform over 30
    days and rising with ``event_id``. Every timestamp is distinct (not
    just per user), which is the oracle's tie-free precondition."""
    rng = _rng(seed, "events")
    ts = np.unique(EVENTS_START_US + rng.integers(0, EVENTS_SPAN_US, 2 * n_events))
    ts = np.sort(rng.choice(ts, n_events, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })


def check_events(table: pa.Table) -> None:
    """Raise unless the oracle's preconditions hold: every row carries
    exactly one of the five event types (so the type predicates are
    mutually exclusive) and no user has two events at one timestamp."""
    etype = table["event_type"]
    types = set(etype.unique().to_pylist())
    if etype.null_count or not types <= set(EVENT_TYPES):
        raise ValueError(f"events: unexpected event types {sorted(map(str, types))}")
    user = table["user_id"].to_numpy()
    ts = table["ts"].cast(pa.int64()).to_numpy()
    order = np.lexsort((ts, user))
    u, t = user[order], ts[order]
    if ((u[1:] == u[:-1]) & (t[1:] == t[:-1])).any():
        raise ValueError("events: a user has two events at the same timestamp")


def documents(seed: int, n_docs: int) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)``: bags of 10-100
    words (uniform) over the testdata's 30-word vocabulary; one doc in
    twenty is a near-duplicate, the words of another doc plus the token
    ``dup``; 40% ``en`` and 15% each of four other languages; twenty
    sources."""
    rng = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), n)]) for n in rng.integers(10, 101, n_docs)]
    dup = rng.random(n_docs) < 0.05
    src = rng.integers(0, n_docs, n_docs)
    for i in np.flatnonzero(dup & (src != np.arange(n_docs))):
        texts[i] = texts[src[i]] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int, n_vecs: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    """``embeddings(vec_id, embedding array<float>, label)``: unit-length
    vectors in uniformly random directions, and a label drawn uniformly
    and independently of the vector, so no label forms a cluster."""
    rng = _rng(seed, "embeddings")
    g = rng.standard_normal((n_vecs, dim))
    vecs = (g / np.linalg.norm(g, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, n_labels, n_vecs, dtype=np.int32)),
    })


def generate(tables: dict, data_dir: str) -> None:
    """Write ``tables`` into ``data_dir`` as ``<name>.parquet``, one row
    group each, and check the events as written. The write goes to a
    sibling directory, renamed into place with a ``DONE`` mark once
    every table is in it and checked."""
    tmp = data_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1), compression="snappy")
    if "events" in tables:
        check_events(pq.read_table(os.path.join(tmp, "events.parquet")))
    open(os.path.join(tmp, DONE), "w").close()
    shutil.rmtree(data_dir, ignore_errors=True)
    os.replace(tmp, data_dir)


if __name__ == "__main__":
    # python3 perfbench/inputs.py <workload> <seed> <data_dir> <ref_dir> <threads>
    # Generates the workload's input for the seed unless a complete one
    # is cached, then computes the missing reference results. run.py
    # runs this in a child process, so that DuckDB's threads and memory
    # are gone before the timed passes.
    import sys

    sys.path[:0] = [os.getcwd()]
    from perfbench.verify import compute_references
    from perfbench.workloads import WORKLOADS

    workload, seed, data_dir, ref_dir, threads = sys.argv[1:6]
    wl = WORKLOADS[workload]
    if not os.path.exists(os.path.join(data_dir, DONE)):
        generate(wl.make(int(seed)), data_dir)
    compute_references(data_dir, ref_dir, int(threads), wl.queries)
