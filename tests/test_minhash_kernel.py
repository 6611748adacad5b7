"""Pin the fused vectorized minhash band kernel (r7) bitwise against
the straightforward per-slice string-min fold it replaced, and the
zip/map shingle builder against the index-slice form.

The kernel's equivalence argument: hexdigest[4j:4j+4] is the
lowercase-hex encoding of digest bytes [2j:2j+2]; min over fixed-width
lowercase hex strings equals numeric min of the same 16-bit values; and
'%04x' re-emits exactly the winning slice. These tests lock that in on
adversarial inputs (unicode words, duplicate shingles, short/null
docs).
"""

from __future__ import annotations

import hashlib
import random
import string

from bucketizers_spark.entry_queries import (
    _BAND_SIZE,
    _N_MINHASH,
    _minhash_bands_docs,
)


def _slice_shingles(txt: str) -> list[str]:
    """The pre-r7 index-slice shingle form."""
    w = txt.split(" ")
    return list(
        dict.fromkeys(" ".join(w[i : i + 3]) for i in range(len(w) - 2))
    )


def _old_fold(sh: list[str]) -> list[tuple[int, str]]:
    """The pre-r7 pure-Python fold: one md5 hex per shingle, per-slice
    string min, band key = md5 of the concatenated winning slices."""
    hs = [hashlib.md5(s.encode("utf-8")).hexdigest() for s in sh]
    mh = [
        min(h[4 * j : 4 * j + 4] for h in hs) for j in range(_N_MINHASH)
    ]
    return [
        (
            b,
            hashlib.md5(
                "".join(mh[b * _BAND_SIZE : (b + 1) * _BAND_SIZE]).encode(
                    "utf-8"
                )
            ).hexdigest(),
        )
        for b in range(_N_MINHASH // _BAND_SIZE)
    ]


def _random_texts(rng: random.Random, n: int) -> list[str | None]:
    alphabet = string.ascii_lowercase + "éü¿中"
    texts: list[str | None] = []
    for _ in range(n):
        k = rng.randint(0, 40)
        words = [
            "".join(rng.choices(alphabet, k=rng.randint(0, 8)))
            for _ in range(k)
        ]
        if rng.random() < 0.2 and len(words) > 5:
            words[3:5] = words[0:2]  # repeated grams exercise the memo
        texts.append(" ".join(words))
    texts.append(None)  # null text dropped by both forms
    texts.append("one two")  # < 3 words dropped by both forms
    return texts


def test_fused_bands_match_old_fold(spark):
    rng = random.Random(41)
    texts = _random_texts(rng, 150)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["band"]): r["band_key"]
        for r in _minhash_bands_docs(df).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        if t is None or len(t.split(" ")) < 3:
            continue
        for b, key in _old_fold(_slice_shingles(t)):
            want[(i, b)] = key
    assert got == want


def test_shingle_zip_form_matches_slice_form():
    rng = random.Random(42)
    for _ in range(300):
        w = [
            "".join(rng.choices(string.ascii_lowercase, k=rng.randint(0, 5)))
            for _ in range(rng.randint(3, 60))
        ]
        zip_form = list(dict.fromkeys(map(" ".join, zip(w, w[1:], w[2:]))))
        slice_form = list(
            dict.fromkeys(
                " ".join(w[i : i + 3]) for i in range(len(w) - 2)
            )
        )
        assert zip_form == slice_form


def test_memo_budget_does_not_change_bands(spark, monkeypatch):
    """The per-task shingle-digest memo stops growing at its byte budget;
    a budget of 0 (no entry fits) or ~3 entries gives the same bands as
    the default, on texts that repeat shingles across documents."""
    from bucketizers_spark import entry_queries

    rng = random.Random(43)
    texts = _random_texts(rng, 60)
    texts += [texts[i] for i in range(0, 60, 3)]  # cross-doc repeats
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def bands():
        return sorted(
            (r["doc_id"], r["band"], r["band_key"])
            for r in _minhash_bands_docs(df).collect()
        )

    default = bands()
    assert default
    for budget in (0, 3 * (entry_queries._MEMO_ENTRY_BYTES + 64)):
        monkeypatch.setattr(entry_queries, "_MINHASH_MEMO_BYTES", budget)
        assert bands() == default
