"""Measure PQ/ADC top-10 recall against exact-L2 ground truth on the
driver fixture, for both codebook modes (lowest-id — the
oracle-replayable form the pinned ann_pq query uses — and per-subspace
Lloyd-trained) and for the raw-ADC vs shortlist+exact-rescore serving
modes. Same numpy math as the Spark/DuckDB expressions, so the sweep
needs no JVM; deterministic end-to-end.

Usage: python tools/pq_recall_sweep.py [sf_dir] [shortlists...]
       python tools/pq_recall_sweep.py --ivfadc [sf_dir] [shortlists...]
       python tools/pq_recall_sweep.py --ivfadc --clustered [shortlists...]
Output: a markdown table (pasted into BENCH/PLANS.md). Queries are
vec_id < 5, matching ann_pq / ann_pq_rescore / ann_ivfpq.

``--ivfadc`` additionally applies the ann_ivfpq IVF stage before ADC
(K=16 lowest-id centroids, cosine argmax cells, nprobe=4 — the pinned
engine config) and reports the mean scanned-corpus fraction next to
each recall, so the recall/scan trade of the full composite is
measured rather than asserted. ``--clustered`` swaps the driver
fixture for the planted-Gaussian fixture shared with
ivf_recall_sweep.py (the regime IVF pruning targets).
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np

M_SUB, K, D = 8, 16, 8  # matches entry_queries._PQ_M/_PQ_K/_PQ_D


def load(sf_dir: str):
    con = duckdb.connect()
    rows = con.execute(
        f"select vec_id, embedding from "
        f"read_parquet('{sf_dir}/embeddings.parquet') order by vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, mat


def lowest_id_codebook(mat: np.ndarray) -> list[np.ndarray]:
    return [mat[:K, m * D : (m + 1) * D].copy() for m in range(M_SUB)]


def trained_codebook(mat: np.ndarray, iters: int = 10) -> list[np.ndarray]:
    """Per-subspace Lloyd from the lowest-id init — deterministic
    (fixed iteration count, empty cells keep their centroid)."""
    out = []
    for m in range(M_SUB):
        x = mat[:, m * D : (m + 1) * D]
        c = x[:K].copy()
        for _ in range(iters):
            d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for j in range(K):
                mask = assign == j
                if mask.any():
                    c[j] = x[mask].mean(0)
        out.append(c)
    return out


def encode(mat: np.ndarray, cb: list[np.ndarray]) -> np.ndarray:
    codes = np.zeros((len(mat), M_SUB), dtype=int)
    for m in range(M_SUB):
        sub = mat[:, m * D : (m + 1) * D]
        d2 = ((sub[:, None, :] - cb[m][None, :, :]) ** 2).sum(-1)
        codes[:, m] = d2.argmin(1)
    return codes


def sweep(ids, mat, cb, shortlists) -> dict:
    codes = encode(mat, cb)
    res = {s: [] for s in ["adc"] + list(shortlists)}
    for qid in range(5):
        q = mat[qid]
        d_exact = ((mat - q) ** 2).sum(1)
        d_exact[qid] = np.inf
        truth = set(ids[np.lexsort((ids, d_exact))[:10]])
        adc = np.zeros(len(mat))
        for m in range(M_SUB):
            lut = ((q[m * D : (m + 1) * D][None, :] - cb[m]) ** 2).sum(1)
            adc += lut[codes[:, m]]
        adc[qid] = np.inf
        order = np.lexsort((ids, adc))
        res["adc"].append(len(truth & set(ids[order[:10]])) / 10)
        for s in shortlists:
            cand = ids[order[:s]]
            dc = {i: d_exact[i] for i in cand}
            final = set(sorted(dc, key=lambda i: (dc[i], i))[:10])
            res[s].append(len(truth & final) / 10)
    return {k: round(sum(v) / len(v), 3) for k, v in res.items()}


IVF_K, NPROBE = 16, 4  # matches entry_queries._IVF_K/_IVF_NPROBE


def sweep_ivfadc(ids, mat, cb, shortlists) -> dict:
    """ann_ivfpq replayed in numpy: cosine argmax cells over the K
    lowest-id centroids, nprobe nearest cells per query, ADC over probed
    cells only, shortlist + exact rescore. Recall vs the GLOBAL exact
    top-10 (pruning mistakes count against it); also returns the mean
    fraction of the corpus whose codes were ADC-scanned."""
    codes = encode(mat, cb)
    cents = mat[:IVF_K]
    norms = np.linalg.norm(mat, axis=1)
    cnorm = np.linalg.norm(cents, axis=1)
    cos = (mat @ cents.T) / (norms[:, None] * cnorm[None, :])
    cells = cos.argmax(1)  # ties: argmax takes the lowest index
    res = {s: [] for s in ["adc"] + list(shortlists)}
    scans = []
    for qid in range(5):
        q = mat[qid]
        d_exact = ((mat - q) ** 2).sum(1)
        d_exact[qid] = np.inf
        truth = set(ids[np.lexsort((ids, d_exact))[:10]])
        qcos = (cents @ q) / (cnorm * norms[qid])
        probed = np.argsort(-qcos, kind="stable")[:NPROBE]
        cand = np.where(np.isin(cells, probed))[0]
        cand = cand[cand != qid]
        scans.append(len(cand) / len(mat))
        adc = np.zeros(len(cand))
        for m in range(M_SUB):
            lut = ((q[m * D : (m + 1) * D][None, :] - cb[m]) ** 2).sum(1)
            adc += lut[codes[cand, m]]
        order = cand[np.lexsort((ids[cand], adc))]
        res["adc"].append(len(truth & set(ids[order[:10]])) / 10)
        for s in shortlists:
            sel = ids[order[:s]]
            dc = {i: d_exact[i] for i in sel}
            final = set(sorted(dc, key=lambda i: (dc[i], i))[:10])
            res[s].append(len(truth & final) / 10)
    out = {k: round(sum(v) / len(v), 3) for k, v in res.items()}
    out["scan_frac"] = round(sum(scans) / len(scans), 3)
    return out


def main() -> None:
    args = sys.argv[1:]
    ivfadc = "--ivfadc" in args
    clustered = "--clustered" in args
    args = [a for a in args if not a.startswith("--")]
    if clustered:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from ivf_recall_sweep import planted_clusters

        ids, mat = planted_clusters()
        sf_dir = "planted-gaussian(n=2000, clusters=20, sigma=0.25)"
        shortlists = [int(a) for a in args] or [50, 100, 200]
    else:
        sf_dir = args[0] if args else "/root/testdata/sf0.01"
        shortlists = [int(a) for a in args[1:]] or [50, 100, 200]
        ids, mat = load(sf_dir)
    print(f"n={len(mat)} dim={mat.shape[1]} M={M_SUB} K={K} ({sf_dir})")
    hdr = "| codebook | raw ADC | " + " | ".join(
        f"rescore@{s}" for s in shortlists
    )
    if ivfadc:
        hdr += " | scan frac"
        print(f"IVFADC mode: IVF K={IVF_K} nprobe={NPROBE} before ADC")
    print(hdr + " |")
    print("|---|---|" + "---|" * (len(shortlists) + (1 if ivfadc else 0)))
    for name, cb in (
        ("lowest-id (ann_pq pinned)", lowest_id_codebook(mat)),
        ("lloyd-trained", trained_codebook(mat)),
    ):
        r = (sweep_ivfadc if ivfadc else sweep)(ids, mat, cb, shortlists)
        cells = " | ".join(str(r[s]) for s in shortlists)
        tail = f" | {r['scan_frac']}" if ivfadc else ""
        print(f"| {name} | {r['adc']} | {cells}{tail} |")


if __name__ == "__main__":
    main()
