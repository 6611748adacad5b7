"""IVF (inverted-file) ANN over embedding columns — the configurable
operator behind ann_ivf (entry_queries pins K=16, nprobe=4, lowest-id
centroids for the DuckDB-replayable driver form).

Index shape: every vector is assigned to its nearest of K centroids
("cells"); a query probes only its ``nprobe`` nearest cells and
exact-rescores inside them. Cost per query ~ n * nprobe / K of the
brute-force scan; recall depends on how often a true neighbour lands in
an unprobed cell. Measured sweep on the driver fixture (near-random
embeddings — the HARD case for IVF, no cluster structure to exploit):
tools/ivf_recall_sweep.py → BENCH/PLANS.md.

Scale shape (100 TB): centroids are O(K·dim) — always broadcast; cell
assignment is one broadcast-join + map-side-combined argmax (n slim rows
shuffled once, or zero shuffles if consumers accept the map output);
probing is an equijoin on cell id. Never an all-pairs product. K should
grow with sqrt(n) (FAISS guidance) so cells stay bounded; nprobe is the
linear recall knob, exactly like LSH bands.

Centroid training: ``kmeans_centroids`` runs seeded spherical Lloyd
iterations driver-side over a DETERMINISTIC hash-ordered sample
(md5-ordered ids — stable across runs/partitionings, no RNG in the
sample). The sample is bounded (default 4096 × dim doubles), so the
driver never holds data proportional to n — the classic big-data k-means
split: train on a sample, assign at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _cosine(a, b):
    """Cosine as a JVM higher-order fold, bit-identical on Spark and
    DuckDB: elementwise float→double products summed left-to-right, then
    dot / (sqrt(na) * sqrt(nb)). The one interpreted cosine; the entry
    queries and the IVF operators share it, and pair_cos_r4 is its
    vectorized kernel."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nb = F.aggregate(
        F.transform(b, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return dot / (F.sqrt(na) * F.sqrt(nb))


def lowest_id_centroids(
    emb: DataFrame, k: int, *, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """The K lowest-id vectors as centroids — deterministic and
    SQL-replayable (the driver-gated ann_ivf form uses this so the
    DuckDB oracle can reproduce the exact cells)."""
    return emb.where(F.col(id_col) < k).select(
        F.col(id_col).alias("c_id"), F.col(emb_col).alias("ce")
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    sample_n: int = 4096,
    iters: int = 10,
    seed: int = 20260816,
) -> DataFrame:
    """Seeded spherical k-means centroids trained on a deterministic
    md5-ordered sample. Returns a K-row (c_id, ce) frame to broadcast.

    Determinism: the sample is the ``sample_n`` ids with smallest
    md5(id) (a stable pseudo-random order, no RNG state, retry-safe like
    sample_stratified); init picks every (sample//k)-th sorted sample
    vector (spread, not random); Lloyd updates run in numpy float64 with
    fixed iteration count — same input, same centroids, every run."""
    import numpy as np

    sample = (
        emb.select(id_col, emb_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_n)
        .collect()
    )
    M = np.array([r[emb_col] for r in sample], dtype=np.float64)
    n = M.shape[0]
    if n == 0:
        raise ValueError("kmeans_centroids: empty input")
    k = min(k, n)
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    # spread init: every (n//k)-th vector of the hash-ordered sample
    C = Mn[:: max(n // k, 1)][:k].copy()
    for _ in range(iters):
        # spherical Lloyd: assign by max dot (== cosine on unit vectors)
        a = np.argmax(Mn @ C.T, axis=1)
        for j in range(k):
            pts = Mn[a == j]
            if len(pts):
                c = pts.sum(axis=0)
                nrm = np.linalg.norm(c)
                if nrm > 1e-12:
                    C[j] = c / nrm
            # empty cell: keep the previous centroid (deterministic)
    spark = SparkSession.getActiveSession()
    return spark.createDataFrame(
        [(j, [float(x) for x in C[j]]) for j in range(k)],
        "c_id long, ce array<double>",
    )


def assign_cells(
    emb: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(id, cell): nearest-centroid assignment. One broadcast crossJoin
    (K rows) + map-side-combined argmax groupBy; ties go to the smallest
    c_id. Similarities are rounded to 4 places first so Spark and the
    SQL oracle agree on tie sets."""
    scored = emb.crossJoin(F.broadcast(centroids)).select(
        id_col,
        "c_id",
        F.round(_cosine(F.col(emb_col), F.col("ce")), 4).alias("_sim"),
    )
    best = F.max(F.struct(F.col("_sim"), (-F.col("c_id")).alias("_nc")))
    return scored.groupBy(id_col).agg(
        (-best.getField("_nc")).cast("long").alias("cell")
    )


def stateless_cell_expr(cent_rows, emb_col: str = "embedding"):
    """Nearest-centroid cell as ONE column expression over literal
    centroid arrays — no crossJoin, no groupBy, no state. ``cent_rows``
    is the collected (c_id, ce) list (K is bounded by design, so
    literalizing it is free). Bit-identical tie behavior to
    assign_cells: array_max over (rounded cosine, -c_id) structs =
    max similarity, then smallest c_id. This is both the streaming
    form (an argmax groupBy would be an illegal second stateful op
    under a keyed-state kernel) and the cheap batch form when the
    assignment feeds a narrow pipeline (semdedup: no shuffle until
    the per-cell kernel)."""
    sims = F.array(
        *[
            F.struct(
                F.round(
                    _cosine(F.col(emb_col), F.lit(list(ce))), 4
                ).alias("s"),
                F.lit(-int(cid)).alias("nc"),
            )
            for cid, ce in cent_rows
        ]
    )
    return (-F.array_max(sims)["nc"]).cast("long")


def _np_lr_sq(M):
    import numpy as np

    out = np.zeros(M.shape[0])
    for d in range(M.shape[1]):  # left-to-right fold order
        out += M[:, d] * M[:, d]
    return out


def _np_half_up4(x):
    import numpy as np

    return (
        np.where(x >= 0, np.floor(x * 1e4 + 0.5), np.ceil(x * 1e4 - 0.5))
        / 1e4
    )


def _np_cos_r4(A, B):
    """Rounded cosine matrix (|A| × |B|) with the engine's exact
    arithmetic: per-pair dot and both norms accumulated
    DIMENSION-AT-A-TIME so the summation order is the left-to-right
    IEEE fold of the JVM ``_cosine`` higher-order aggregate (and the
    oracle's list_sum), then HALF_UP 4-place rounding — bit-identical
    values, vectorized (the HOF fold is CodegenFallback: interpreted
    per element, it was the whole cost of ann_ivf at sf1.0)."""
    import numpy as np

    dots = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):  # left-to-right fold order
        dots += A[:, d : d + 1] * B[np.newaxis, :, d]
    na = np.sqrt(_np_lr_sq(A))
    nb = np.sqrt(_np_lr_sq(B))
    return _np_half_up4(dots / (na[:, np.newaxis] * nb[np.newaxis, :]))


def pair_cos_r4(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    *,
    keys,
    out_col: str = "cos_r4",
) -> DataFrame:
    """Row-wise rounded cosine between two embedding columns of a pair
    frame, as one vectorized Arrow pass (``keys`` + ``out_col`` out).
    Bit-identical to F.round(_cosine(a, b), 4): per-row dot and norms
    accumulated dimension-at-a-time (left-to-right IEEE fold), HALF_UP
    rounding — only the execution engine changed (the JVM HOF fold is
    CodegenFallback, interpreted per element)."""
    import numpy as np

    keys = list(keys)
    t = dict(pairs.select(*keys).dtypes)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf[a_col]]
            )
            B = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf[b_col]]
            )
            dot = np.zeros(len(pdf))
            for d in range(A.shape[1]):  # left-to-right fold order
                dot += A[:, d] * B[:, d]
            out = pdf[keys].copy()
            out[out_col] = _np_half_up4(
                dot / (np.sqrt(_np_lr_sq(A)) * np.sqrt(_np_lr_sq(B)))
            )
            yield out

    schema = ", ".join(f"{k} {t[k]}" for k in keys) + f", {out_col} double"
    return pairs.select(*keys, a_col, b_col).mapInPandas(kernel, schema)


def bcast_cos_scored(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    q_rows,
    *,
    sim_col: str = "sim_r4",
) -> DataFrame:
    """(query_id, id, sim): rounded cosine of every corpus row against
    a BOUNDED collected query set (``q_rows``: [(qid, [vec...])]), as
    one narrow Arrow pass with the self-pair excluded — replaces the
    broadcast crossJoin + per-pair cosine shape, which duplicated the
    query embedding onto every candidate row (r7; the brute-force
    ann_topk/knn/int8 family). Same fold order, same HALF_UP rounding,
    same `id != query_id` exclusion — identical rows."""
    import numpy as np

    qids = np.array([q[0] for q in q_rows])
    Q = np.array([list(q[1]) for q in q_rows], dtype=np.float64)
    t = dict(df.select(id_col).dtypes)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf[emb_col]]
            )
            sims = _np_cos_r4(M, Q)
            vids = pdf[id_col].to_numpy()
            n, k = sims.shape
            out_v = np.repeat(vids, k)
            out_q = np.tile(qids, n)
            mask = out_v != out_q  # self-match exclusion
            yield pd.DataFrame(
                {
                    "query_id": out_q[mask],
                    id_col: out_v[mask],
                    sim_col: sims.ravel()[mask],
                }
            )

    return df.select(id_col, emb_col).mapInPandas(
        kernel,
        f"query_id {t[id_col]}, {id_col} {t[id_col]}, {sim_col} double",
    )


def collect_centroid_rows(centroids: DataFrame):
    """Collect the (bounded, K-row by design) centroid frame to sorted
    ``[(c_id, [ce...])]`` rows for literal/broadcast kernel use."""
    return sorted(
        ((int(r["c_id"]), list(r["ce"])) for r in centroids.collect()),
        key=lambda t: t[0],
    )


def assign_cells_vec(
    emb: DataFrame,
    cent_rows,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(id, emb, cell): vectorized nearest-centroid assignment — one
    narrow Arrow pass over the scan's own splits, NO crossJoin/groupBy
    (assign_cells costs one exchange + an interpreted HOF cosine per
    (vector, centroid); this kernel is bit-identical — same fold order,
    same HALF_UP rounding, ties to the smallest c_id via np.argmax
    taking the first max — and keeps the embedding column so consumers
    skip the join-back)."""
    import numpy as np

    C = np.array([ce for _cid, ce in cent_rows], dtype=np.float64)
    cids = np.array([cid for cid, _ in cent_rows], dtype="int64")

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf[emb_col]]
            )
            sims = _np_cos_r4(M, C)
            out = pdf[[id_col, emb_col]].copy()
            out["cell"] = cids[np.argmax(sims, axis=1)]
            yield out

    t = dict(emb.select(id_col, emb_col).dtypes)
    return emb.select(id_col, emb_col).mapInPandas(
        kernel, f"{id_col} {t[id_col]}, {emb_col} {t[emb_col]}, cell long"
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    nprobe: int = 4,
    topk: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    query_emb_col: str = "qe",
) -> DataFrame:
    """Top-k neighbours per query, searching only the ``nprobe`` nearest
    cells. Output (query_id, vec_id, sim_r4, rk) matches the brute-force
    ann_topk shape so recall is directly comparable.

    r7 restructure (same results, plan-verified): the r6 form computed
    every cosine with the interpreted JVM HOF fold — O(n·K) for the
    assignment plus O(n_q · nprobe · n/K) for the rescore, 23.7s at
    sf1.0 and quadratic in n (queries AND cell size both grow with n).
    Now every cosine runs through the vectorized `_np_cos_r4` kernel:
    (1) corpus → cells via one narrow Arrow pass (no crossJoin
    exchange); (2) each query picks its nprobe cells inside the same
    kind of pass (no window over n_q·K rows); (3) the rescore cogroups
    probes × members BY CELL — each embedding crosses the shuffle once
    (never copied per query, unlike the old probes⋈members equijoin)
    and the kernel emits only the per-(query, cell) top-k, which
    provably contains the global top-k (the global order restricted to
    a cell is the cell order; a vector lives in exactly one cell, so
    the old multi-probe max-dedup was already a no-op). The final
    window ranks n_q · nprobe · topk slim rows instead of the whole
    candidate set."""
    import numpy as np

    cent_rows = collect_centroid_rows(centroids)
    C = np.array([ce for _cid, ce in cent_rows], dtype=np.float64)
    cids = np.array([cid for cid, _ in cent_rows], dtype="int64")

    members = assign_cells_vec(
        emb, cent_rows, id_col=id_col, emb_col=emb_col
    )

    def probe_kernel(batches):
        # nprobe nearest cells per query: order (sim desc, c_id asc) —
        # identical to the old row_number window (lexsort: last key is
        # the primary). cids is ascending, so index order == c_id order.
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(
                [
                    np.asarray(e, dtype=np.float64)
                    for e in pdf[query_emb_col]
                ]
            )
            sims = _np_cos_r4(Q, C)
            k = min(nprobe, len(cids))
            rows = []
            for i in range(len(pdf)):
                order = np.lexsort((cids, -sims[i]))[:k]
                rows.append(cids[order])
            out = pdf.loc[
                pdf.index.repeat(k), [query_id_col, query_emb_col]
            ].reset_index(drop=True)
            out["cell"] = np.concatenate(rows)
            yield out

    qt = dict(queries.select(query_id_col, query_emb_col).dtypes)
    probes = queries.select(query_id_col, query_emb_col).mapInPandas(
        probe_kernel,
        f"{query_id_col} {qt[query_id_col]}, "
        f"{query_emb_col} {qt[query_emb_col]}, cell long",
    )

    et = dict(emb.select(id_col, emb_col).dtypes)

    def rescore(qpdf, mpdf):
        import pandas as pd

        if not len(qpdf) or not len(mpdf):
            return pd.DataFrame(
                {query_id_col: [], id_col: [], "sim_r4": []}
            )
        Q = np.stack(
            [np.asarray(e, dtype=np.float64) for e in qpdf[query_emb_col]]
        )
        M = np.stack(
            [np.asarray(e, dtype=np.float64) for e in mpdf[emb_col]]
        )
        sims = _np_cos_r4(Q, M)
        vids = mpdf[id_col].to_numpy()
        qids = qpdf[query_id_col].to_numpy()
        out_q, out_v, out_s = [], [], []
        for i in range(len(qids)):
            mask = vids != qids[i]  # self-match exclusion
            vv, ss = vids[mask], sims[i][mask]
            order = np.lexsort((vv, -ss))[:topk]
            out_q.append(np.full(len(order), qids[i]))
            out_v.append(vv[order])
            out_s.append(ss[order])
        return pd.DataFrame(
            {
                query_id_col: np.concatenate(out_q),
                id_col: np.concatenate(out_v),
                "sim_r4": np.concatenate(out_s),
            }
        )

    scored2 = (
        probes.groupBy("cell")
        .cogroup(members.groupBy("cell"))
        .applyInPandas(
            lambda q, m: rescore(q, m),
            f"{query_id_col} {qt[query_id_col]}, {id_col} {et[id_col]}, "
            "sim_r4 double",
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim_r4").desc(), F.col(id_col)
    )
    return scored2.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= topk
    )
