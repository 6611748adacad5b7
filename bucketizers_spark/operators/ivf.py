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
assignment and query probing are narrow Arrow passes over the vectorized
cosine kernel (no shuffle); the rescore cogroups probes and members on
cell id. Never an all-pairs product. K should grow with sqrt(n) (FAISS
guidance) so cells stay bounded; nprobe is the linear recall knob,
exactly like LSH bands.

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
from pyspark.sql import types as T
from pyspark.sql.window import Window

from bucketizers_spark.operators.core import arrow_frame


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
    return arrow_frame(
        SparkSession.getActiveSession(),
        T.StructType(
            [
                T.StructField("c_id", T.LongType()),
                T.StructField("ce", T.ArrayType(T.DoubleType())),
            ]
        ),
        [list(range(k)), C.tolist()],
    )


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


def _np_matrix(col):
    """Stack a pandas column of embedding arrays into a float64 matrix."""
    import numpy as np

    return np.stack([np.asarray(e, dtype=np.float64) for e in col])


def _np_cos_r4(A, B):
    """Rounded cosine matrix (|A| × |B|) with the engine's exact
    arithmetic: per-pair dot and both norms accumulated
    DIMENSION-AT-A-TIME so the summation order is the left-to-right
    IEEE fold of the oracle's list_sum, then HALF_UP 4-place rounding —
    bit-identical values, vectorized. This kernel family (with the
    row-paired ``pair_cos_r4``) is the engine's only cosine: the
    interpreted JVM higher-order fold it replaced is CodegenFallback,
    evaluated per element, and was the whole cost of ann_ivf at
    sf1.0."""
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
    frame, as one vectorized Arrow pass (``keys`` + ``out_col`` out):
    the row-paired form of ``_np_cos_r4`` — per-row dot and norms
    accumulated dimension-at-a-time (left-to-right IEEE fold), HALF_UP
    rounding."""
    import numpy as np

    keys = list(keys)
    t = dict(pairs.select(*keys).dtypes)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = _np_matrix(pdf[a_col])
            B = _np_matrix(pdf[b_col])
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
    ann_topk/knn/int8 family and the ann_lsh_recall truth set). Same
    fold order, same HALF_UP rounding, same `id != query_id` exclusion
    — identical rows."""
    import numpy as np

    qids = np.array([q[0] for q in q_rows])
    Q = np.array([list(q[1]) for q in q_rows], dtype=np.float64)
    t = dict(df.select(id_col).dtypes)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            sims = _np_cos_r4(_np_matrix(pdf[emb_col]), Q)
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


def probe_cells(
    df: DataFrame, cent_rows, nprobe: int, *, emb_col: str = "embedding"
) -> DataFrame:
    """Every row of ``df`` once per each of its ``nprobe`` nearest
    centroids, with that centroid's id appended as ``cell`` — one narrow
    Arrow pass, no crossJoin and no window. Order: rounded cosine desc,
    then c_id asc (``cent_rows`` is sorted by c_id and the sort is
    stable, so ties go to the smallest c_id). Works unchanged on a
    streaming frame, where an argmax groupBy could not sit under a
    keyed-state operator."""
    import numpy as np

    C = np.array([ce for _cid, ce in cent_rows], dtype=np.float64)
    cids = np.array([cid for cid, _ in cent_rows], dtype="int64")
    k = min(nprobe, len(cids))

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            sims = _np_cos_r4(_np_matrix(pdf[emb_col]), C)
            # NaN (a zero-norm vector or centroid) ranks largest, as in
            # np.argmax and in Spark's and DuckDB's orderings
            sims[np.isnan(sims)] = np.inf
            order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
            out = pdf.iloc[np.repeat(np.arange(len(pdf)), k)]
            out = out.reset_index(drop=True)
            out["cell"] = cids[order].ravel()
            yield out

    cell = T.StructField("cell", T.LongType())
    return df.mapInPandas(kernel, T.StructType(df.schema.fields + [cell]))


def assign_cells_vec(
    emb: DataFrame, cent_rows, *, emb_col: str = "embedding"
) -> DataFrame:
    """``emb`` with its nearest centroid appended as ``cell`` (ties to
    the smallest c_id): the one-probe case of ``probe_cells``. Callers
    select the columns they carry — (id, cell) for an index table,
    (id, embedding) for the pairwise kernels, the stream's ``seq``
    too."""
    return probe_cells(emb, cent_rows, 1, emb_col=emb_col)


def rescore_cells(
    probes: DataFrame,
    members: DataFrame,
    *,
    topk: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    query_emb_col: str = "qe",
) -> DataFrame:
    """Exact top-k per query over the members of its probed cells:
    (query_id, id, sim_r4, rk). ``probes`` is (query id, query vector,
    cell) — ``probe_cells`` output — and ``members`` any frame with
    (id, embedding, cell). The rescore cogroups probes × members BY
    CELL, so each embedding crosses the shuffle once (never copied per
    query), and the kernel emits only each (query, cell) top-k, which
    contains the global top-k (the global order restricted to a cell is
    the cell order; a vector lives in exactly one cell, so no
    multi-probe dedup is needed). The final window ranks
    n_q · nprobe · topk slim rows.

    Self-match exclusion compares the two id columns as numpy values:
    one numeric id space compares after numeric widening (a ``double``
    query id 7.0 is corpus id 7, so a query never appears in its own
    top-k), while incomparable families (string queries over numeric
    corpus ids) never match, so every candidate is kept."""
    import numpy as np

    def rescore(qpdf, mpdf):
        import pandas as pd

        if not len(qpdf) or not len(mpdf):
            return pd.DataFrame(
                {query_id_col: [], id_col: [], "sim_r4": []}
            )
        sims = _np_cos_r4(
            _np_matrix(qpdf[query_emb_col]), _np_matrix(mpdf[emb_col])
        )
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

    qt = dict(probes.dtypes)[query_id_col]
    et = dict(members.dtypes)[id_col]
    scored = (
        probes.select(query_id_col, query_emb_col, "cell")
        .groupBy("cell")
        .cogroup(members.select(id_col, emb_col, "cell").groupBy("cell"))
        .applyInPandas(
            rescore, f"{query_id_col} {qt}, {id_col} {et}, sim_r4 double"
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim_r4").desc(), F.col(id_col)
    )
    return scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= topk
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

    Every cosine runs through the vectorized `_np_cos_r4` kernel:
    (1) corpus → cells via one narrow Arrow pass (``assign_cells_vec``,
    no crossJoin exchange); (2) each query picks its nprobe cells in the
    same kind of pass (``probe_cells``, no window over n_q·K rows);
    (3) ``rescore_cells`` cogroups probes × members by cell.
    ``IvfIndex.search`` runs (2) and (3) over its persisted cell
    table."""
    cent_rows = collect_centroid_rows(centroids)
    members = assign_cells_vec(
        emb.select(id_col, emb_col), cent_rows, emb_col=emb_col
    )
    probes = probe_cells(
        queries.select(query_id_col, query_emb_col),
        cent_rows,
        nprobe,
        emb_col=query_emb_col,
    )
    return rescore_cells(
        probes,
        members,
        topk=topk,
        id_col=id_col,
        emb_col=emb_col,
        query_id_col=query_id_col,
        query_emb_col=query_emb_col,
    )
