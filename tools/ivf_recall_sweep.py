"""Sweep IVF (K centroids × nprobe) configs and measure top-10 recall
against brute-force ground truth on the driver fixture, for BOTH
centroid modes: the oracle-replayable lowest-id centroids the pinned
ann_ivf query uses, and the seeded sampled-k-means centroids from
operators/ivf.kmeans_centroids (same numpy math re-run here so the
sweep needs no JVM).

Usage: python tools/ivf_recall_sweep.py [sf_dir]
       python tools/ivf_recall_sweep.py --clustered [n] [n_clusters] [sigma]
Output: a markdown table (pasted into BENCH/PLANS.md) — recall@10 and
mean scan fraction (probed-cell population / n: the cost half of the
trade) per config. Queries are every 100th vector, matching ann_topk /
ann_ivf.

``--clustered`` swaps the driver fixture (near-random embeddings — the
WORST case for IVF, where recall can't beat the scan fraction by much)
for a planted-Gaussian-clusters fixture: ``n_clusters`` unit-norm
centers, points = center + N(0, sigma²) noise, renormalized — the
regime IVF actually targets, where trained centroids should recover the
planted structure and lowest-id centroids shouldn't. Deterministic
(fixed seed) so the table reproduces.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # this checkout's engine, wherever it lives

CONFIGS = [
    (k, p) for k in (8, 16, 32, 64) for p in (1, 2, 4, 8) if p <= k
]
TOPK = 10


def kmeans_np(M: np.ndarray, ids: np.ndarray, k: int, sample_n=4096, iters=10):
    """Mirror of operators/ivf.kmeans_centroids: md5-ordered sample,
    spread init, spherical Lloyd in float64."""
    import hashlib

    order = np.argsort(
        [hashlib.md5(str(int(i)).encode()).hexdigest() for i in ids],
        kind="stable",
    )
    S = M[order[:sample_n]]
    n = S.shape[0]
    k = min(k, n)
    Sn = S / np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-12)
    C = Sn[:: max(n // k, 1)][:k].copy()
    for _ in range(iters):
        a = np.argmax(Sn @ C.T, axis=1)
        for j in range(k):
            pts = Sn[a == j]
            if len(pts):
                c = pts.sum(axis=0)
                nrm = np.linalg.norm(c)
                if nrm > 1e-12:
                    C[j] = c / nrm
    return C


def recall_for(Mn, qidx, gt, C, nprobe):
    """Recall@10 + mean scan fraction for centroid matrix C."""
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    cells = np.argmax(Mn @ Cn.T, axis=1)
    sizes = np.bincount(cells, minlength=C.shape[0])
    n = Mn.shape[0]
    recs, scans = [], []
    for qi in qidx:
        probe = np.argsort(-(Mn[qi] @ Cn.T), kind="stable")[:nprobe]
        mask = np.isin(cells, probe)
        mask[qi] = False
        cand = np.nonzero(mask)[0]
        scans.append(sizes[probe].sum() / n)
        if len(cand) == 0:
            recs.append(0.0)
            continue
        sims = Mn[cand] @ Mn[qi]
        top = cand[np.argsort(-sims, kind="stable")[:TOPK]]
        recs.append(len(set(top) & set(gt[qi])) / TOPK)
    return float(np.mean(recs)), float(np.mean(scans))


def planted_clusters(
    n: int = 2000, n_clusters: int = 20, sigma: float = 0.25, dim: int = 64
):
    """Deterministic planted-Gaussian-clusters fixture: unit-norm random
    centers; each point is its (round-robin-assigned) center plus
    isotropic N(0, sigma²) noise. sigma≈0.25 on unit vectors gives
    within-cluster cosine ≈0.89 vs cross-cluster ≈0 — clearly clustered
    but not trivially separable at the noise tail."""
    rng = np.random.default_rng(20260817)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.arange(n) % n_clusters
    M = centers[labels] + sigma * rng.standard_normal((n, dim))
    return np.arange(n), M


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--clustered":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
        nc = int(sys.argv[3]) if len(sys.argv) > 3 else 20
        sigma = float(sys.argv[4]) if len(sys.argv) > 4 else 0.25
        ids, M = planted_clusters(n, nc, sigma)
        sf_dir = f"planted-gaussian(n={n}, clusters={nc}, sigma={sigma})"
    else:
        sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
        ).fetchall()
        ids = np.array([r[0] for r in rows])
        M = np.array([r[1] for r in rows], dtype=np.float64)
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    n = len(ids)
    qmask = ids % 100 == 0
    qidx = np.nonzero(qmask)[0]

    # brute-force ground truth top-10 per query (self excluded)
    S = Mn[qidx] @ Mn.T
    gt = {}
    for r, qi in enumerate(qidx):
        s = S[r].copy()
        s[qi] = -np.inf
        gt[qi] = set(np.argsort(-s, kind="stable")[:TOPK])

    print(f"n={n} dim={M.shape[1]} queries={len(qidx)} sf_dir={sf_dir}")
    print("| K | nprobe | recall@10 (lowest-id) | scan frac | recall@10 (kmeans) | scan frac |")
    print("|---|---|---|---|---|---|")
    km_cache = {}
    for k, p in CONFIGS:
        C_low = M[:k]  # lowest-id centroids (ids are 0..n-1 ordered)
        r1, s1 = recall_for(Mn, qidx, gt, C_low, p)
        if k not in km_cache:
            km_cache[k] = kmeans_np(M, ids, k)
        r2, s2 = recall_for(Mn, qidx, gt, km_cache[k], p)
        mark = " <-- pinned" if (k, p) == (16, 4) else ""
        print(
            f"| {k} | {p} | {r1:.3f} | {s1:.3f} | {r2:.3f} | {s2:.3f} |{mark}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
