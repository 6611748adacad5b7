"""Batch semdedup hot-cell guard (VERDICT r6 #1): the r7 blocked pair
kernel must (a) survive a planted hot cell far larger than its block
size without materializing O(m²) pair matrices, and (b) produce flags
bit-identical to the unchunked keep-lowest-id rule.

The reference here is a per-row O(n) -memory walk using the exact same
per-pair arithmetic (dimension-at-a-time left-to-right fold, HALF_UP
rounding) — only the loop structure differs, so any flag divergence is
a kernel bug, not float noise.
"""

from __future__ import annotations

import numpy as np
import pytest


def _reference_flags(M: np.ndarray, tau: float) -> np.ndarray:
    from bucketizers_spark.operators.ivf import _np_half_up4, _np_lr_sq

    n = M.shape[0]
    nrm = np.sqrt(_np_lr_sq(M))
    kept = np.ones(n, dtype=bool)
    for j in range(1, n):
        dot = np.zeros(j)
        for d in range(M.shape[1]):  # left-to-right fold order
            dot += M[:j, d] * M[j, d]
        r4 = _np_half_up4(dot / (nrm[:j] * nrm[j]))
        if (r4 >= tau).any():
            kept[j] = False
    return kept


@pytest.fixture(scope="module")
def hot_emb():
    """3000 vectors, one deliberately HOT k-means cell: ~2500 jittered
    copies of a single direction (pairwise cos ≈ 1 ≫ tau) plus a spread
    of distinct directions. 3000 > the kernel's 1024 row-block, so the
    tiled triangle walk crosses multiple (row, col) block boundaries."""
    rng = np.random.default_rng(20260822)
    base = np.zeros(16)
    base[0] = 10.0
    hot = base + rng.normal(scale=0.05, size=(2500, 16))
    cold = rng.normal(size=(500, 16)) * 3.0
    M = np.vstack([hot, cold])
    order = rng.permutation(len(M))
    return M[order]


class TestSemdedupHotCell:
    def test_blocked_flags_match_unchunked_rule(self, spark, hot_emb):
        from pyspark.sql import functions as F

        from bucketizers_spark.operators.semdedup import semdedup_flags

        rows = [
            (int(i), [float(x) for x in hot_emb[i]])
            for i in range(len(hot_emb))
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        tau = 0.35
        out = semdedup_flags(emb, k=2, tau=tau).collect()
        assert len(out) == len(hot_emb)

        # rebuild each cell's expected flags with the per-row reference
        by_cell: dict[int, list[int]] = {}
        for r in out:
            by_cell.setdefault(int(r["cell"]), []).append(int(r["vec_id"]))
        got = {int(r["vec_id"]): bool(r["kept"]) for r in out}
        n_dropped = 0
        for cell, ids in by_cell.items():
            ids = sorted(ids)
            M = np.stack([hot_emb[i] for i in ids])
            ref = _reference_flags(M, tau)
            for vid, keep in zip(ids, ref):
                assert got[vid] == bool(keep), (cell, vid)
            n_dropped += int((~ref).sum())
        # the planted hot cell must actually exercise mass dropping
        assert n_dropped >= 2000

    def test_tile_memory_is_bounded(self):
        """The kernel's peak per-tile allocation is jb×ib doubles —
        independent of cell size. Pin the constants so a future edit
        that regresses to O(m²) materialization fails loudly."""
        import inspect

        from bucketizers_spark.operators import semdedup as mod

        src = inspect.getsource(mod.semdedup_flags)
        assert "jb, ib = 1024, 8192" in src
        # no gathered pair-matrix build (the r6 form: `= np.triu_indices`)
        assert "= np.triu_indices" not in src
