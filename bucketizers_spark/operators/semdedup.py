"""SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023).

k-means the embedding space, then dedup ONLY within each cluster — the
clustering bounds the quadratic pairwise step to cell populations,
which is the published trick that makes embedding-level dedup
tractable at corpus scale (K grows with n, holding cell size roughly
constant). One definition serves the driver query
(entry_queries.q_semdedup) and the pipeline stage
(llm_pipeline.semantic_dedup); the streaming mirror
(streaming/dedup_stream.semdedup_candidates_stream) shares its cell
assignment (operators/ivf.assign_cells_vec) and its cosine kernel.

Kernel design (hash-pinned against the DuckDB oracle): both the
nearest-centroid assignment and the within-cell pairwise cosines run
the vectorized operators/ivf kernel ``_np_cos_r4`` in Arrow passes
(per-pair JVM higher-order-function folds are CodegenFallback —
measured 7.1s vs 0.4s at sf0.1 cell populations), with every dot/norm
accumulated dimension-at-a-time so the summation order is LEFT TO RIGHT
in IEEE double exactly like the oracle's list_sum — bit-identical
rounded values, not just close — and HALF_UP rounding replicated in
numpy (whose own round is half-even).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

DEFAULT_K = 8
DEFAULT_TAU = 0.35


def semdedup_flags(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = DEFAULT_K,
    tau: float = DEFAULT_TAU,
) -> DataFrame:
    """(id, cell, kept): assign every vector to its nearest
    deterministic trained-k-means centroid, then inside each cell drop
    any vector that has a SMALLER-id neighbor with rounded cosine >=
    tau — the deterministic keep-lowest-id representative rule.

    Scale shape: centroids broadcast as literals (K rows, trained on a
    bounded 4096-vector sample); assignment is a vectorized narrow
    Arrow pass over the scan's own splits; the ONLY shuffle is the
    per-cell groupBy feeding the pairwise kernel, whose quadratic term
    is bounded by cell population (raise K with n). The kernel emits
    every member with its flag directly — no join-back."""
    import numpy as np

    from bucketizers_spark.operators.ivf import (
        _np_cos_r4,
        _np_matrix,
        assign_cells_vec,
        collect_centroid_rows,
        kmeans_centroids,
    )

    cent_rows = collect_centroid_rows(
        kmeans_centroids(emb, k, id_col=id_col, emb_col=emb_col)
    )
    cells = assign_cells_vec(
        emb.select(id_col, emb_col), cent_rows, emb_col=emb_col
    )

    def cell_flags(pdf: pd.DataFrame) -> pd.DataFrame:
        # Blocked pairwise kernel (r7, VERDICT r6 #1): the r6 form
        # materialized np.triu_indices(m, 1) plus full gathered A/B pair
        # matrices — O(m²·dim) MEMORY in one task, 101s at sf1.0 and an
        # executor-OOM hazard on a hot cell. This form walks the strict
        # lower triangle in (row-block × col-block) tiles, so peak memory
        # is O(block²) regardless of cell size and nothing is gathered.
        # Each tile is one _np_cos_r4 call (the engine's cosine: per-pair
        # dot and norms folded dimension-at-a-time left-to-right, HALF_UP
        # rounding), and a row j is dropped iff SOME i<j reaches tau.
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        n = len(pdf)
        kept = np.ones(n, dtype=bool)
        if n >= 2:
            M = _np_matrix(pdf[emb_col])
            jb, ib = 1024, 8192
            for s in range(1, n, jb):
                e = min(s + jb, n)
                MJ = M[s:e]
                alive = np.ones(e - s, dtype=bool)
                col_j = np.arange(s, e)[:, np.newaxis]
                for t in range(0, e, ib):
                    if not alive.any():
                        break  # every row in this block already dropped
                    u = min(t + ib, e)
                    r4 = _np_cos_r4(MJ, M[t:u])
                    dup = (r4 >= tau) & (
                        np.arange(t, u)[np.newaxis, :] < col_j
                    )
                    alive &= ~dup.any(axis=1)
                kept[s:e] = alive
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "cell": pdf["cell"].to_numpy(),
                "kept": kept,
            }
        )

    id_t = dict(emb.dtypes)[id_col]
    return cells.groupBy("cell").applyInPandas(
        cell_flags, f"{id_col} {id_t}, cell long, kept boolean"
    )
