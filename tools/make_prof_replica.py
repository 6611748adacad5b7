"""Synthesize a LARGER profiling dataset matching the driver fixtures'
observed marginals, for bench_extra.py hot-spot analysis ONLY.

The driver's own large-SF data is driver-generated and not available
between rounds; this replica lets per-query optimization work measure
at a scale where plan costs dominate fixed costs. It mimics the
distributions observed in /root/testdata/sf0.1 (TESTDATA.md):

- documents: 31-word vocabulary, word count ~ U[10,100], lang
  {en:40%, de/es/fr/zh:15%}, source src0..src19, ~0.3% planted exact
  duplicate pairs (sf0.1 has 8 pairs / 5000 docs).
- embeddings: 64-dim unit-normalized gaussian vectors, label ~ U[0,10).
- events: ts uniform over Jan 2024 sorted by event_id, user count
  scaling 10x per decade like the fixtures, type uniform over 5,
  value ~ Exp(mean 50) rounded to 2, props {"k": U[0,100)}.

Output is NEVER read by bench.py, queries() or tests — profiling only.

Caveat — memo hit rates: the 31-word vocabulary gives a tiny distinct-
shingle space (about 30k word trigrams at any scale), so the per-task
shingle-digest memo of the fused minhash kernel (_minhash_bands_docs in
entry_queries.py) hits almost every lookup here. Kernel speedups
measured on this replica (e.g. dedup_minhash in OPTIMIZATION_r07.md) are
therefore optimistic: on real corpora shingle cardinality grows with the
data and the memo hit rate falls.

Usage: python tools/make_prof_replica.py [out_dir] [scale]
  scale=10 (default) -> 50k docs / 8k embeddings / 1M events,
  matching the driver's observed per-decade scaling (embeddings 4x).
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
TYPES = ["click", "view", "purchase", "signup", "error"]


def gen_documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 101, size=n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lens]
    # plant exact duplicate pairs at the sf0.1 rate (8/5000 groups)
    n_dup = max(1, round(n * 8 / 5000))
    srcs = rng.integers(0, n, size=n_dup)
    dsts = rng.integers(0, n, size=n_dup)
    for s, d in zip(srcs, dsts):
        if s != d:
            texts[d] = texts[s]
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    sources = [f"src{i}" for i in rng.integers(0, 20, size=n)]
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array(sources),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def gen_embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    a = rng.standard_normal((n, 64)).astype(np.float32)
    a /= np.linalg.norm(a, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(a), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
        }
    )


def gen_events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    t1 = np.datetime64("2024-01-31T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t1, size=n))
    vals = np.round(rng.exponential(50.0, size=n), 2)
    ks = rng.integers(0, 100, size=n)
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
            "event_type": pa.array(rng.choice(TYPES, size=n).tolist()),
            "value": pa.array(vals, pa.float64()),
            "props": pa.array([json.dumps({"k": int(k)}) for k in ks]),
        }
    )


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/profsf1"
    scale = float(sys.argv[2]) if len(sys.argv) > 2 else 10.0
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(42)
    n_docs = int(5000 * scale)
    # the fixtures scale embeddings 4x per 10x sf (500 -> 2000)
    n_emb = int(2000 * 4 ** np.log10(scale))
    n_ev = int(100_000 * scale)
    n_users = int(1500 * scale)
    pq.write_table(gen_documents(rng, n_docs), f"{out}/documents.parquet")
    pq.write_table(gen_embeddings(rng, n_emb), f"{out}/embeddings.parquet")
    pq.write_table(gen_events(rng, n_ev, n_users), f"{out}/events.parquet")
    print(f"wrote {out}: docs={n_docs} emb={n_emb} events={n_ev}")


if __name__ == "__main__":
    main()
