"""Seeded input generator for the benchmark.

``generate(seed, out_dir, sizes)`` writes an sf-style directory — the same
layout as the sf test data (TESTDATA.md), so ``__spark_entry__.queries()`` and the
DuckDB oracle SQL can read it too:

- ``events.parquet``: the event stream the transcripts table is derived
  from (``datagen.derivation``); one user in ten merges into the giant
  conversation ``conv-00000000`` there.
- ``documents.parquet`` (several files): English-like documents, a share
  gated out by the quality filter, some carrying e-mails, IPs and long
  numbers for the PII scrub. Planted: ``PLANTED_SHARE`` (5 %) of the
  documents are exact copies and as many are near copies (one word
  appended).
- ``heldout.parquet``: the decontamination benchmark; one in ten of its
  documents quotes a corpus passage.
- ``embeddings.parquet``: clustered 64-dim vectors written as ONE parquet
  split.

Everything comes from ``numpy.random.default_rng(seed)``; the parquet files
are byte-identical for the same seed and sizes. The planted groups are
returned (and written to ``planted.json``) so the benchmark can check the
program's outputs against them.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
STOPWORDS = ["the", "a", "and", "of", "to", "is", "in", "for", "on", "with"]
EMB_DIM = 64
EMB_CLUSTERS = 8
PLANTED_SHARE = 0.05  # of the documents: exact copies, and as many near copies


@dataclass(frozen=True)
class Sizes:
    events: int = 0
    docs: int = 0
    vectors: int = 0


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    if files <= 1:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:03d}.parquet"),
            compression="snappy",
        )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    """An events table shaped like the sf test data's: ~64 events per
    user over 30 days, five event types, a k-valued props blob."""
    n_users = max(n // 64, 20)
    kval = rng.integers(0, 100, size=n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.sort(T0_US + rng.integers(0, SPAN_US, size=n)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, size=n)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in kval], pa.string()),
    })


def _vocab(rng: np.random.Generator, n: int = 400) -> list[str]:
    syl = ["ka", "lo", "mi", "ter", "sun", "ra", "vel", "do", "pen", "qua",
           "zi", "mor", "tal", "ben", "ix", "ost", "ur", "fa", "gle", "shin"]
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(syl[int(j)] for j in rng.integers(0, len(syl), k)))
    return sorted(words)


def _doc_texts(rng: np.random.Generator, vocab: list[str], n: int):
    """n English-like texts; about one in eight is short and stopword-poor,
    so the quality gate drops it. Returns (texts, long_mask)."""
    low = rng.random(n) < 0.12
    lens = np.where(low, rng.integers(6, 20, n), rng.integers(50, 130, n))
    total = int(lens.sum())
    words = np.array(vocab + STOPWORDS, dtype=object)
    tok = np.minimum(rng.zipf(1.3, size=total), len(vocab)) - 1
    p_stop = np.repeat(np.where(low, 0.02, 0.25), lens)
    stop = rng.random(total) < p_stop
    tok[stop] = len(vocab) + rng.integers(0, len(STOPWORDS), int(stop.sum()))
    toks = words[tok]
    pii = rng.random(n)
    ends = np.cumsum(lens)
    texts = []
    for i, (a, b) in enumerate(zip(ends - lens, ends)):
        t = list(toks[a:b])
        if pii[i] < 0.05:
            t.insert(len(t) // 2, f"{t[0]}@mail.example.com")
        elif pii[i] < 0.08:
            t.insert(len(t) // 2, f"10.{i % 250}.{i % 7}.{i % 13}")
        elif pii[i] < 0.12:
            t.insert(len(t) // 2, str(10_000_000 + i))
        texts.append(" ".join(t))
    return texts, ~low


def _documents(rng: np.random.Generator, n: int):
    vocab = _vocab(rng)
    n_copy = max(2, int(n * PLANTED_SHARE)) * 2  # exact + near copies
    n_base = n - n_copy
    texts, long_doc = _doc_texts(rng, vocab, n_base)
    # copies of long documents only, so a near copy (one word appended)
    # keeps Jaccard >= 0.95 and collides in the LSH bands
    src = rng.choice(np.flatnonzero(long_doc), size=n_copy, replace=False)
    for j, s in enumerate(src):
        tail = " " + vocab[int(rng.integers(0, len(vocab)))] if j % 2 else ""
        texts.append(texts[s] + tail)
    # doc ids are a seeded permutation so copies land on both day-2 sides
    perm = rng.permutation(n).astype(np.int64)
    pairs = [(int(perm[s]), int(perm[n_base + j])) for j, s in enumerate(src)]
    exact_pairs, near_pairs = pairs[0::2], pairs[1::2]
    order = np.argsort(perm)
    texts = [texts[i] for i in order]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 5, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    held = []
    for i in range(max(n // 100, 10)):
        if i % 10 == 0:
            toks = texts[int(rng.integers(0, n))].split(" ")
            held.append(" ".join(toks[:16]))
        else:
            held.append(f"heldout {i} evaluation suite probe item v{i % 97}")
    heldout = pa.table({
        "doc_id": pa.array(np.arange(len(held), dtype=np.int64) + 10_000_000),
        "text": pa.array(held, pa.string()),
    })
    return table, heldout, exact_pairs, near_pairs


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit cluster centres plus gaussian noise (within-cluster cosine
    about 0.6); ``label`` is the cluster."""
    centers = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, EMB_CLUSTERS, size=n)
    vecs = centers[label] + 0.1 * rng.normal(size=(n, EMB_DIM))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(seed: int, out_dir: str, sizes: Sizes) -> dict:
    """Write the inputs for ``sizes`` under ``out_dir``; returns the
    planted groups (also written to ``out_dir/planted.json``)."""
    os.makedirs(out_dir, exist_ok=True)
    planted: dict = {"seed": seed, "sizes": asdict(sizes), "planted_share": PLANTED_SHARE}
    if sizes.events:
        rng = np.random.default_rng([seed, 1])
        _write(_events(rng, sizes.events), os.path.join(out_dir, "events.parquet"))
    if sizes.docs:
        rng = np.random.default_rng([seed, 2])
        docs, held, exact, near = _documents(rng, sizes.docs)
        _write(docs, os.path.join(out_dir, "documents.parquet"), files=8)
        _write(held, os.path.join(out_dir, "heldout.parquet"))
        planted.update(docs=docs.num_rows, doc_exact=exact, doc_near=near)
    if sizes.vectors:
        rng = np.random.default_rng([seed, 3])
        # one row group, one file: the single-split corpus shape
        pq.write_table(_embeddings(rng, sizes.vectors),
                       os.path.join(out_dir, "embeddings.parquet"),
                       compression="snappy", row_group_size=sizes.vectors)
    with open(os.path.join(out_dir, "planted.json"), "w") as f:
        json.dump(planted, f, sort_keys=True)
    return planted
