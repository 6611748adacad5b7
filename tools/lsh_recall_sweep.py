"""Sweep sign-LSH (bits × bands) configs and measure candidate recall by
cosine bin against brute-force ground truth on the driver fixture.

Usage: python tools/lsh_recall_sweep.py [sf_dir]
Output: a markdown table (pasted into BENCH/PLANS.md) — recall per
similarity bin per config, plus bucket-size stats (the scale half of the
trade: sum(bucket^2) drives the band self-join).
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # this checkout's engine, wherever it lives

from bucketizers_spark.operators.lsh import hyperplanes  # noqa: E402

BINS = [(0.30, 0.45), (0.45, 0.80), (0.80, 0.90), (0.90, 0.95), (0.95, 1.0)]
CONFIGS = [(16, 4), (16, 8), (16, 16), (16, 32), (8, 8), (8, 16)]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    M = np.array([r[1] for r in rows], dtype=np.float64)
    dim = M.shape[1]
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    iu = np.triu_indices(len(ids), 1)
    cos = S[iu]

    # The fixture is near-random (max pair cos ~0.51): it measures the
    # LOW-similarity regime where sign-LSH is theoretically weak. Plant
    # deterministic near-dups (vector + scaled Gaussian noise) to also
    # measure the HIGH-similarity near-dup regime emb_near_dup targets.
    rng = np.random.default_rng(20260816)
    noise_scales = [0.18, 0.30, 0.45]  # → cos ~0.98 / ~0.96 / ~0.91
    planted = []
    for k, scale in enumerate(noise_scales):
        base = M[k::3][: len(M) // 6]
        dup = base + rng.normal(0, scale * np.abs(base).mean(), base.shape)
        planted.append(dup)
    M = np.vstack([M] + planted)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    iu = np.triu_indices(M.shape[0], 1)
    cos = S[iu]
    ids = np.arange(M.shape[0])

    print(f"n={len(ids)} (incl. planted near-dups) dim={dim} sf_dir={sf_dir}")
    header = "| bits×bands | buckets/band | max bucket | " + " | ".join(
        f"recall cos {lo:.2f}-{hi:.2f} (n)" for lo, hi in BINS
    ) + " |"
    print(header)
    print("|" + "---|" * (3 + len(BINS)))

    for bits, bands in CONFIGS:
        H = np.array(
            [h for band in hyperplanes(dim, bits, bands) for h in band]
        )
        B = (M @ H.T) >= 0  # (n, bands*bits)
        # pack each band's bits into an int bucket id
        weights = 1 << np.arange(bits)
        cand = np.zeros(len(cos), dtype=bool)
        max_bucket = 0
        for b in range(bands):
            bk = (B[:, b * bits : (b + 1) * bits] @ weights).astype(np.int64)
            _, counts = np.unique(bk, return_counts=True)
            max_bucket = max(max_bucket, int(counts.max()))
            cand |= bk[iu[0]] == bk[iu[1]]
        cells = []
        for lo, hi in BINS:
            mask = (cos >= lo) & (cos < hi)
            n = int(mask.sum())
            rec = float(cand[mask].mean()) if n else float("nan")
            cells.append(f"{rec:.3f} ({n})")
        print(
            f"| {bits}×{bands} | {2**bits} | {max_bucket} | "
            + " | ".join(cells) + " |"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
