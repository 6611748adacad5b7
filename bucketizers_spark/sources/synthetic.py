"""Deterministic synthetic token-stream fixture (FIXTURES.md F1).

The engine's primary input shape is fixed by BASELINE.json ``input_hint``:
``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``
plus the engine columns ``seq: long`` (deterministic arrival order — the
carrier of the reference's sequential semantics, SURVEY.md §7) and
``event_time: timestamp``.

Everything is seeded (seed=42 by default), never wall-clock, and zipf-skewed
on doc keys / leading tokens / sources so trie nodes overflow and hot keys
exist (the skew the north_rule requires the engine to defuse).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

TOKEN_STREAM_SCHEMA = (
    "seq long, event_time timestamp, doc_id string, "
    "tokens array<int>, n_tok int, source string"
)

_SOURCES = np.array(["web", "books", "code", "wiki"])
_CONCEPTS = np.array(["alpha", "beta", "gamma", "delta", "epsilon"])
_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)


def token_stream_pdf(
    n: int,
    *,
    seed: int = 42,
    vocab: int = 256,
    max_len: int = 64,
    zipf_a: float = 1.5,
    late_fraction: float = 0.0,
    watermark_seconds: int = 600,
) -> pd.DataFrame:
    """Generate the F1 fixture as a pandas DataFrame (create a Spark
    DataFrame with ``spark.createDataFrame(pdf, TOKEN_STREAM_SCHEMA)``)."""
    rng = np.random.default_rng(seed)
    seq = np.arange(n, dtype=np.int64)

    deltas = rng.integers(1, 31, size=n).cumsum()
    event_time = [_EPOCH + timedelta(seconds=int(d)) for d in deltas]
    if late_fraction > 0:
        late_mask = rng.random(n) < late_fraction
        shift = rng.integers(0, 2 * watermark_seconds, size=n)
        event_time = [
            t - timedelta(seconds=int(s)) if m else t
            for t, s, m in zip(event_time, shift, late_mask)
        ]

    src = _SOURCES[np.minimum(rng.zipf(zipf_a, size=n) - 1, len(_SOURCES) - 1)]
    concept = _CONCEPTS[rng.integers(0, len(_CONCEPTS), size=n)]
    k = np.minimum(rng.zipf(zipf_a, size=n), 10_000)  # hot doc keys
    doc_id = np.char.add(
        np.char.add(
            np.char.add(np.char.add("http://example.org/", src), "/"),
            concept,
        ),
        np.char.add("/", k.astype(str)),
    )

    lengths = rng.integers(1, max_len + 1, size=n)
    # zipf-skewed leading tokens over the vocab ⇒ hot trie prefixes
    tokens = [
        np.minimum(rng.zipf(zipf_a, size=int(ln)) - 1, vocab - 1).astype(np.int32)
        for ln in lengths
    ]
    return pd.DataFrame(
        {
            "seq": seq,
            "event_time": event_time,
            "doc_id": doc_id,
            "tokens": tokens,
            "n_tok": lengths.astype(np.int32),
            "source": src,
        }
    )
