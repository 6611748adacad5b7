"""Streaming cross-batch exact dedup — the incremental-ingestion form of
the batch ``dedup_exact`` operator (entry_queries.q_dedup_exact).

A training-data pipeline ingests a corpus in snapshots; each new batch
must dedup against EVERYTHING already seen, not just within itself.
Keyed state does exactly that: key = md5(canonical text), state = the
first-seen canonical doc id. Every row is emitted with its ``canon_id``
and ``is_dup`` flag; the first arrival of a hash across the stream's
lifetime is the canon, every later arrival (same batch or any future
batch) is a duplicate of it.

Semantics note vs batch: batch ``dedup_exact`` canonizes to the MIN
doc_id of a duplicate set (an order-free choice — batch has no arrival
order); the stream canonizes to the FIRST-ARRIVED doc_id (ties within
one micro-batch broken by min (seq, doc_id)) — the only choice that is
stable under incremental arrival, since a later batch may carry a
smaller id whose re-canonization would retract already-emitted rows.
When arrival order follows doc_id order the two coincide (the pytest
pins that equality); when it doesn't, the streaming answer is the one
every incremental system gives (first writer wins).

Scale shape: state cardinality = distinct document hashes (32-byte key +
one id per unique doc); the per-key kernel touches only that key's rows
in the current batch — one shuffle per micro-batch on the hash key, no
rescan of history. RocksDB state store holds billions of keys per the
usual Structured Streaming sizing; nothing here is driver-side.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_DEDUP_STATE = T.StructType([T.StructField("canon", T.StringType())])

_BUCKET_STATE = T.StructType(
    [T.StructField("members", T.ArrayType(T.StringType()))]
)

CANDIDATES_SCHEMA = T.StructType(
    [
        T.StructField("band", T.IntegerType()),
        T.StructField("band_key", T.StringType()),
        T.StructField("a_id", T.StringType()),
        T.StructField("b_id", T.StringType()),
        T.StructField("b_seq", T.LongType()),
    ]
)


def _make_bucket_pairs_fn(max_reps: int | None):
    """Per-bucket candidate kernel with BOUNDED state: keep at most
    ``max_reps`` representative ids per band-bucket (the first-arrived
    — same tie order as everything else in this module) and emit each
    arriving doc against the representatives only.

    Why this is safe: a hot bucket is, overwhelmingly, a flood of true
    duplicates (the 10k-copy boilerplate page); every arrival still
    pairs with representative #1, so connected-component closure
    (batch dedup_cluster, which candidates feed) reconstructs the full
    cluster from the star graph exactly as it would from the uncapped
    clique — the pytest pins that equality on a planted 10k-copy
    cluster. What the cap can lose: in a MIXED bucket holding more
    than ``max_reps`` mutually-unrelated docs (hash-collision false
    positives), a true pair arriving after the cap is only probed via
    the representatives — each of the other bands gives that pair an
    independent chance, which is the standard banded-LSH redundancy
    argument. Uncapped (max_reps=None) state is O(bucket population)
    and cumulative candidate volume O(n^2) on the hot bucket — the
    r5-flagged scale hazard this bound removes."""

    def fn(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        members = list(state.get[0]) if state.exists else []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        rows = []
        if len(pdf):
            pdf = pdf.sort_values(["seq", "doc_id"]).reset_index(drop=True)
            band = int(pdf["band"].iloc[0])
            bkey = str(pdf["band_key"].iloc[0])
            for doc_id, seq in zip(pdf["doc_id"], pdf["seq"]):
                did = str(doc_id)
                for prior in members:
                    rows.append((band, bkey, prior, did, int(seq)))
                if max_reps is None or len(members) < max_reps:
                    members.append(did)
        state.update((members,))
        if rows:
            yield pd.DataFrame(
                rows, columns=["band", "band_key", "a_id", "b_id", "b_seq"]
            )

    return fn


def minhash_candidates_stream(
    stream_df: DataFrame,
    *,
    text_col: str = "text",
    max_reps: int | None = 64,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup CANDIDATE generation: each arriving
    document's band keys probe per-bucket keyed state (the doc ids seen
    in that bucket across the stream's lifetime) and emit one candidate
    pair per prior member — the incremental form of the batch band
    self-join (q_dedup_minhash buckets → ngram_jaccard candidates).
    Emitted when the LATER doc arrives: (a_id earlier, b_id later).

    Band machinery is the batch query's own kernel (entry_queries
    _minhash_bands_docs — one vectorized Arrow pass from text to band
    keys, a stateless map before the keyed state op), so streaming
    candidate sets equal batch bucket pairs.

    Where rescoring lives: exact-Jaccard verification needs the
    documents' shingle sets, which per-bucket state should NOT hold (it
    would duplicate the corpus into the state store × bands); candidates
    join back to the stored corpus for rescoring — the standard
    candidate-generation / verification split (the batch ngram_jaccard
    IS that verifier). State per bucket = at most ``max_reps``
    representative ids (first-arrived; None = unbounded): typical
    buckets hold 3-4 members (BENCH/PLANS.md LSH table) so reps ==
    population and candidates equal the batch band self-join exactly;
    a hot bucket (a 10k-copy duplicate flood) caps at max_reps ids and
    O(n·max_reps) cumulative candidates instead of O(n) state / O(n^2)
    candidates, and component closure still recovers the full cluster
    through representative #1 (see _make_bucket_pairs_fn)."""
    from bucketizers_spark.entry_queries import _minhash_bands_docs

    if "seq" not in stream_df.columns:
        raise ValueError("minhash_candidates_stream needs a seq column")
    stacked = _minhash_bands_docs(
        stream_df.select("doc_id", "seq", F.col(text_col).alias("text")),
        extra_cols=("seq",),
    )
    return stacked.groupBy("band", "band_key").applyInPandasWithState(
        _make_bucket_pairs_fn(max_reps),
        outputStructType=CANDIDATES_SCHEMA,
        stateStructType=_BUCKET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def lsh_candidates_stream(
    stream_df: DataFrame,
    *,
    dim: int,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seq_col: str = "seq",
    bits: int = 16,
    bands: int = 16,
    seed: int = 20260816,
    max_reps: int | None = 64,
) -> DataFrame:
    """Streaming sign-LSH near-dup candidates over an EMBEDDING column —
    the third member of the streaming dedup family (exact / minhash /
    embedding), sharing the same per-bucket keyed-state kernel as
    minhash_candidates_stream. Band machinery is the batch operator's
    (operators/lsh.sign_lsh_buckets — seeded hyperplanes, vectorized
    Arrow matmul), so streaming candidate sets equal the batch band
    self-join; exact-cosine rescoring joins candidates back to the
    stored corpus exactly like the batch emb_near_dup path. Per-bucket
    state is capped at ``max_reps`` representatives exactly as in
    minhash_candidates_stream (see _make_bucket_pairs_fn)."""
    from bucketizers_spark.operators.lsh import sign_lsh_buckets

    buckets = sign_lsh_buckets(
        stream_df.select(id_col, seq_col, emb_col),
        emb_col,
        dim=dim,
        bits=bits,
        bands=bands,
        seed=seed,
        id_cols=[id_col, seq_col],
    )
    keyed = buckets.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(seq_col).alias("seq"),
        "band",
        F.col("bucket").alias("band_key"),
    )
    return keyed.groupBy("band", "band_key").applyInPandasWithState(
        _make_bucket_pairs_fn(max_reps),
        outputStructType=CANDIDATES_SCHEMA,
        stateStructType=_BUCKET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _make_dedup_fn(id_col: str, seq_col: str | None):
    def fn(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        canon = state.get[0] if state.exists else None
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            # materialize all chunks first: the canon must be the global
            # first row of this key in the batch, not per-Arrow-chunk
            order = (
                [seq_col, id_col] if seq_col is not None else [id_col]
            )
            pdf = pdf.sort_values(order).reset_index(drop=True)
            if canon is None:
                canon = str(pdf[id_col].iloc[0])
            pdf["canon_id"] = canon
            pdf["is_dup"] = pdf[id_col].astype(str) != canon
            yield pdf
        state.update((canon,))

    return fn


def exact_dedup_stream(
    stream_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_col: str | None = "seq",
) -> DataFrame:
    """Tag a streaming document frame with (canon_id, is_dup) under
    cross-batch first-arrival dedup state. ``seq_col`` orders arrivals
    within a micro-batch (pass None to order by ``id_col`` alone)."""
    keyed = stream_df.withColumn("_h", F.md5(F.col(text_col)))
    out_schema = T.StructType(
        list(keyed.schema.fields)
        + [
            T.StructField("canon_id", T.StringType()),
            T.StructField("is_dup", T.BooleanType()),
        ]
    )
    return (
        keyed.groupBy("_h")
        .applyInPandasWithState(
            _make_dedup_fn(id_col, seq_col),
            outputStructType=out_schema,
            stateStructType=_DEDUP_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .drop("_h")
    )


_SEG_COUNT_STATE = T.StructType([T.StructField("n_docs", T.LongType())])

_SEG_SCHEMA = T.StructType(
    [
        T.StructField("seg_h", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("is_boilerplate", T.BooleanType()),
    ]
)


def _make_segment_count_fn(min_docs: int):
    def fn(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        n = int(state.get[0]) if state.exists else 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            # a segment repeated within one document counts that document
            # once: its rows share (seq, doc_id)
            pdf = (
                pdf.drop_duplicates(["seq", "doc_id"])
                .sort_values(["seq", "doc_id"])
                .reset_index(drop=True)
            )
            seg_h = str(pdf["seg_h"].iloc[0])
            rows = []
            for doc_id in pdf["doc_id"]:
                n += 1
                rows.append((seg_h, int(doc_id), n, n >= min_docs))
            yield pd.DataFrame(
                rows,
                columns=["seg_h", "doc_id", "n_docs", "is_boilerplate"],
            )
        state.update((n,))

    return fn


def segment_count_stream(
    stream_df: DataFrame,
    *,
    seg_len: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunker: str = "fixed",
    cdc_window: int = 4,
) -> DataFrame:
    """Streaming cross-batch segment-level dedup — the incremental form
    of the batch ``segment_dedup`` query (``chunker="fixed"``) or of
    ``segment_dedup_cdc`` (``chunker="cdc"`` — content-defined
    boundaries, insertion-robust; the keyed-state op is chunking-
    agnostic since state is per segment HASH): count, per md5'd
    non-overlapping ``seg_len``-word chunk, the documents that have
    carried it across the stream's lifetime, tagging each occurrence
    with the running count and a boilerplate flag once ``min_docs`` is
    reached. Incremental semantics are first-K-arrivals-unflagged (the
    honest answer any incremental system gives — early copies of a
    segment cannot know the future); the FINAL per-segment counts and
    the ever-boilerplate segment set equal the batch computation, which
    the pytest pins.

    Scale shape: segments are md5'd by the batch queries' own kernels
    (functions/ngrams.segment_hashes_frame / cdc_segment_hashes_frame —
    one stateless vectorized map); the keyed state op shuffles once per
    micro-batch on seg_h and counts each (doc, segment) pair once, so
    state = one long per distinct segment hash — no doc-id lists."""
    from bucketizers_spark.functions.ngrams import (
        cdc_segment_hashes_frame,
        segment_hashes_frame,
    )

    if "seq" not in stream_df.columns:
        raise ValueError("segment_count_stream needs a seq column")
    docs = stream_df.select(F.col(id_col).alias("doc_id"), "seq", text_col)
    if chunker == "cdc":
        seg = cdc_segment_hashes_frame(
            docs, ["doc_id", "seq"], text_col, window=cdc_window
        )
    elif chunker == "fixed":
        seg = segment_hashes_frame(docs, ["doc_id", "seq"], text_col, seg_len)
    else:
        raise ValueError(f"unknown chunker {chunker!r}")
    return seg.groupBy("seg_h").applyInPandasWithState(
        _make_segment_count_fn(min_docs),
        outputStructType=_SEG_SCHEMA,
        stateStructType=_SEG_COUNT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_CELL_STATE = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.StringType())),
        T.StructField(
            "embs", T.ArrayType(T.ArrayType(T.DoubleType()))
        ),
    ]
)

SEMDEDUP_CANDIDATES_SCHEMA = T.StructType(
    [
        T.StructField("cell", T.LongType()),
        T.StructField("a_id", T.StringType()),
        T.StructField("b_id", T.StringType()),
        T.StructField("cos_r4", T.DoubleType()),
        T.StructField("b_seq", T.LongType()),
    ]
)


def _make_cell_pairs_fn(tau: float, max_reps: int | None):
    """Per-CELL semantic candidate kernel: state = up to ``max_reps``
    representative (id, RAW embedding) pairs, first-arrived (same
    bounded-state design as _make_bucket_pairs_fn — a dense duplicate
    cell caps at max_reps embeddings instead of holding the whole
    cell); each arriving vector emits one candidate pair per
    representative with rounded cosine >= tau, then joins the
    representative set if there is room. ADVICE r6: cosines run the
    BATCH kernel (operators/ivf._np_cos_r4: dimension-at-a-time
    left-to-right dot/norm folds over the raw vectors, HALF_UP
    rounding) instead of a BLAS dot over pre-normalized copies with
    Python's half-even round(), so boundary cosines cross tau
    identically to the batch operator."""
    import numpy as np

    from bucketizers_spark.operators.ivf import _np_cos_r4

    def fn(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            ids = list(state.get[0])
            embs = [np.asarray(e, dtype=np.float64) for e in state.get[1]]
        else:
            ids, embs = [], []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        rows = []
        if len(pdf):
            pdf = pdf.sort_values(["seq", "vec_id"]).reset_index(
                drop=True
            )
            cell = int(pdf["cell"].iloc[0])
            for vid, seq, emb in zip(
                pdf["vec_id"], pdf["seq"], pdf["embedding"]
            ):
                v = np.asarray(emb, dtype=np.float64)
                vid = str(vid)
                if ids:
                    cs = _np_cos_r4(v[np.newaxis], np.stack(embs))[0]
                    for rid, c in zip(ids, cs):
                        if c >= tau:
                            rows.append(
                                (cell, rid, vid, float(c), int(seq))
                            )
                if max_reps is None or len(ids) < max_reps:
                    ids.append(vid)
                    embs.append(v)
        state.update((ids, [e.tolist() for e in embs]))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["cell", "a_id", "b_id", "cos_r4", "b_seq"],
            )

    return fn


def semdedup_candidates_stream(
    stream_df: DataFrame,
    centroids: DataFrame,
    *,
    tau: float = 0.35,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seq_col: str = "seq",
    max_reps: int | None = 64,
) -> DataFrame:
    """Streaming SemDeDup candidate generation — the incremental form
    of the batch ``semdedup`` query's within-cell pairwise step.
    ``centroids`` is the STATIC trained frame (c_id, ce) — the same
    deterministic k-means the batch query and IvfIndex use, broadcast
    into the stateless assignment stage; per-cell keyed state then
    holds at most ``max_reps`` first-arrived representative embeddings
    and each arrival emits (a_id earlier-rep, b_id arrival) pairs at
    rounded cosine >= tau.

    Equality contract (pytest-pinned): with max_reps >= cell
    population, the UNORDERED emitted pair set equals the batch
    query's within-cell drop-edge set for ANY arrival order (every
    arrival probes all priors); pair orientation is arrival order
    (a_id earlier), so batch ``kept`` ("no smaller-id neighbor") is
    recovered by reading each pair as (min, max). With the cap
    binding, pairs go against capped reps only (the LSH-cap trade
    documented in _make_bucket_pairs_fn); state stays
    O(max_reps * dim) per cell instead of O(cell).

    Streaming plan note: the cell column is the batch query's own
    assignment kernel (operators/ivf.assign_cells_vec), a narrow
    mapInPandas pass that runs unchanged on a streaming frame ahead of
    the keyed-state kernel — no argmax groupBy (a second stateful op a
    streaming query cannot stack under it), zero extra state."""
    from bucketizers_spark.operators.ivf import (
        assign_cells_vec,
        collect_centroid_rows,
    )

    keyed = assign_cells_vec(
        stream_df.select(
            F.col(id_col).cast("string").alias("vec_id"),
            F.col(seq_col).alias("seq"),
            F.col(emb_col).cast("array<double>").alias("embedding"),
        ),
        collect_centroid_rows(centroids),
    )
    return keyed.groupBy("cell").applyInPandasWithState(
        _make_cell_pairs_fn(tau, max_reps),
        outputStructType=SEMDEDUP_CANDIDATES_SCHEMA,
        stateStructType=_CELL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
