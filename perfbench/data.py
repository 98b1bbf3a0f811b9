"""Seeded inputs for the benchmark.

The base tables mimic the engine's fixture schemas (``events``, ``orders``,
``documents``, ``embeddings``) and are generated once from a fixed seed, so
every run measures the same amount of work.  The workload seed then derives
what a run sees from the base: the report draws (``workloads.py``), a
Caesar-shifted corpus and a row order of ``events`` for
``dedup_stream``.
"""

from __future__ import annotations

import os
import random
import shutil
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generator changes, so a cached base is rebuilt.
BASE_VERSION = 1
BASE_SEED = 42
TABLES = ("events", "orders", "documents", "embeddings")

#: Rows per table.  Events and orders are the sf0.01 fixture sizes; the
#: corpus and embeddings match them too.  Larger inputs do not fit the run
#: budget: one cold pass of the dedup chain alone is ~30 s on
#: 4 cores at this size, almost all of it per-plan fixed cost.
SIZES = {"events": 10_000, "users": 150, "orders": 15_000, "customers": 1_500,
         "documents": 500, "embeddings": 500}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "es", "de", "fr", "zh")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _events(rng: np.random.Generator) -> pa.Table:
    n = SIZES["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, SIZES["users"], n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _orders(rng: np.random.Generator) -> pa.Table:
    n = SIZES["orders"]
    days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    dates = np.datetime64("1995-01-01", "us") + (
        rng.integers(0, days + 1, n) * 86_400_000_000
    ).astype("timedelta64[us]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, SIZES["customers"], n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n), 2)),
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    """Uniform words from a 31-word vocabulary, 10-100 words a doc, with
    planted near-duplicates (an earlier doc with one word replaced and
    ``dup`` appended) and a few exact copies, as in the fixture corpus."""
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words + ["dup"]))
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = rng.choice(LANGS, n, p=(0.4, 0.15, 0.15, 0.15, 0.15))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    """Unit vectors of dimension 64 around ten label centres."""
    n, dim = SIZES["embeddings"], 64
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(0.0, 1.0, (10, dim))
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def write_base(out_dir: str) -> None:
    """Generate the base tables into ``out_dir`` (atomically: a partial
    build never appears under the final name)."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return
    rng = np.random.default_rng(BASE_SEED)
    tmp = f"{out_dir}.build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, make in (("events", _events), ("orders", _orders),
                       ("documents", _documents), ("embeddings", _embeddings)):
        pq.write_table(make(rng), os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def caesar(text: str, shift: int) -> str:
    """Rotate a-z by ``shift``: token, shingle and char-gram frequencies stay
    isomorphic to the input, on bytes no earlier run has seen."""
    lower = string.ascii_lowercase
    return text.translate(str.maketrans(lower, lower[shift:] + lower[:shift]))


def corpus_shifts(seed: int) -> list[int]:
    """The 25 alphabet rotations in a seeded order: a run's corpora take
    them in turn, so no two corpora of one run share bytes."""
    return random.Random(seed).sample(range(1, 26), 25)


def derive_dataset(base_dir: str, out_dir: str, shift: int = 0,
                   shuffle_seed: int | None = None) -> str:
    """Copy the base tables into ``out_dir``, Caesar-shifting the corpus by
    ``shift`` and permuting ``events`` rows by ``shuffle_seed``."""
    os.makedirs(out_dir)
    for name in TABLES:
        src = os.path.join(base_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name == "documents" and shift:
            t = pq.read_table(src)
            texts = [caesar(s, shift) for s in t.column("text").to_pylist()]
            t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(texts))
            pq.write_table(t, dst)
        elif name == "events" and shuffle_seed is not None:
            t = pq.read_table(src)
            perm = np.random.default_rng(shuffle_seed).permutation(t.num_rows)
            pq.write_table(t.take(pa.array(perm)), dst)
        else:
            shutil.copyfile(src, dst)
    return out_dir
