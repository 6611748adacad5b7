"""Shared word-n-gram / segment hash kernels.

One definition serves the batch driver queries (entry_queries
q_decontaminate / q_segment_dedup / q_segment_dedup_cdc /
q_ngram_diversity) and the streaming jobs (streaming/decon_stream.py,
streaming/dedup_stream.segment_count_stream), so the gram derivation
cannot drift between the two paths. Each function is one vectorized
Arrow ``mapInPandas`` pass from (ids, text) to one row per gram or
segment; ``mapInPandas`` is stateless, so it runs unchanged on a
streaming DataFrame. Hashing happens in that map stage, so any
downstream wide op moves md5 hashes, never the gram text. Hashes are
md5 hex of the UTF-8 text, the same digest DuckDB's and Spark's
``md5`` give.
"""

from __future__ import annotations


def _hash_explode_frame(df, id_cols, text_col: str, fn, out_col: str):
    """(``*id_cols``, ``out_col``) rows from a per-text function returning
    a list of strings (grams or their hashes), as ONE vectorized Arrow
    pass (an interpreted JVM md5-per-gram higher-order function is
    CodegenFallback and dominated the segment/decon queries at sf1.0).
    Emits one row per list element INCLUDING duplicates; null texts and
    texts whose ``fn`` yields an empty list produce no output."""
    id_cols = list(id_cols)
    t = dict(df.select(*id_cols).dtypes) if id_cols else {}

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            idx, vals = [], []
            for i, txt in enumerate(pdf[text_col]):
                if txt is None:
                    continue
                hs = fn(txt)
                if hs:
                    idx.extend([i] * len(hs))
                    vals.extend(hs)
            out = pdf.iloc[idx][id_cols].reset_index(drop=True).copy()
            out[out_col] = vals
            yield out

    schema = "".join(f"{c} {t[c]}, " for c in id_cols) + f"{out_col} string"
    return df.select(*id_cols, text_col).mapInPandas(kernel, schema)


def _word_ngrams(txt: str, n: int) -> list[str]:
    """Space-joined word n-grams of ``txt`` (split on single spaces, so
    empty words count); none when it has fewer than ``n`` words."""
    w = txt.split(" ")
    return [" ".join(w[j : j + n]) for j in range(len(w) - n + 1)]


def word_ngrams_frame(df, id_cols, text_col: str, n: int, out_col="gram"):
    """(``*id_cols``, gram TEXT) rows: :func:`_word_ngrams` of each text,
    duplicates kept. For consumers that need the words themselves (PMI,
    top-k reporting); hash-only consumers should use
    :func:`word_ngram_hashes_frame`."""
    return _hash_explode_frame(
        df, id_cols, text_col, lambda txt: _word_ngrams(txt, n), out_col
    )


def word_ngram_hashes_frame(df, id_cols, text_col: str, n: int):
    """(``*id_cols``, gram_h) rows: md5 hex of each of the text's
    :func:`_word_ngrams`, duplicates kept."""
    import hashlib

    def fn(txt: str):
        return [
            hashlib.md5(g.encode("utf-8")).hexdigest()
            for g in _word_ngrams(txt, n)
        ]

    return _hash_explode_frame(df, id_cols, text_col, fn, "gram_h")


def segment_hashes_frame(df, id_cols, text_col: str, seg_len: int):
    """(``*id_cols``, seg_h) rows: md5 hex of the NON-overlapping
    ``seg_len``-word chunks of the text, the last chunk possibly short.
    Every non-null text has at least one segment (``''.split(' ')`` is
    ``['']``)."""
    import hashlib
    import math

    def fn(txt: str):
        w = txt.split(" ")
        nseg = math.ceil(len(w) / seg_len)
        return [
            hashlib.md5(
                " ".join(w[c * seg_len : (c + 1) * seg_len]).encode("utf-8")
            ).hexdigest()
            for c in range(nseg)
        ]

    return _hash_explode_frame(df, id_cols, text_col, fn, "seg_h")


def cdc_segment_hashes_frame(df, id_cols, text_col: str, window: int = 4):
    """(``*id_cols``, seg_h) rows over CONTENT-DEFINED segments of the
    text (Rabin-style chunking at the word level): a segment boundary
    falls after word i wherever the md5 hex of the trailing ``window``
    words starts with '0' — rate 1/16, ~16-word expected segments — or
    at end of document. Unlike fixed-length segments
    (:func:`segment_hashes_frame`), a single inserted or deleted word
    only perturbs the boundaries within one window of the edit, so
    shared content re-aligns and still deduplicates — the property CDC
    exists for (LBFS/rsync lineage). Every non-null text has at least
    one segment (the end-of-document boundary)."""
    import hashlib

    def fn(txt: str):
        w = txt.split(" ")
        n = len(w)
        out, prev = [], 0
        for i in range(1, n + 1):
            start = max(i - (window - 1), 1)
            is_b = i == n or hashlib.md5(
                " ".join(w[start - 1 : i]).encode("utf-8")
            ).hexdigest()[0] == "0"
            if is_b:
                out.append(
                    hashlib.md5(
                        " ".join(w[prev:i]).encode("utf-8")
                    ).hexdigest()
                )
                prev = i
        return out

    return _hash_explode_frame(df, id_cols, text_col, fn, "seg_h")
