r"""Shared corpus-quality gate expressions.

One definition serves every consumer of the gate — the batch driver
queries (q_text_quality, q_lang_guess, q_corpus_filter), the batch
pipeline stage (llm_pipeline.filter_corpus), and the streaming ingest
gate (llm_ingest.ingest_gate) — so the quality semantics cannot drift
between batch and streaming (the same no-drift rule as
functions/ngrams.py). Everything here is a pure JVM column expression —
no Python in the hot path; the DuckDB oracles interpolate the same
STOPWORDS / LANG_MARKERS constants.

Performance contract (the r5→r6 fix): the token-set counts are
``regexp_count`` over the raw text with exact whitespace-token
boundaries (``\A|space`` before, ``space|\z`` lookahead after — \z, not
$, because Java's $ matches before a trailing newline while split
tokens keep it) — measured bit-equal to the ``F.filter(split, isin)``
formulation on hostile inputs (punctuation-attached tokens, newlines,
double spaces, boundary tokens) AND 1.6x faster than it, because
regexp_count is whole-stage-codegen JVM while higher-order functions
are CodegenFallback. Two rejected shapes, both measured: the r5 shape
re-split the text per metric across 6+ HOF lambdas (Catalyst does not
CSE across HOF lambdas — 2x on corpus_filter), and a one-pass
``F.aggregate`` fold with a 6-field struct accumulator was 10x WORSE
(per-element struct allocation, interpreted eval). Spark 4.1's filter
pushdown inlines a non-cheap alias once PER REFERENCE in the pushed
predicate, so ``quality_metrics_col`` also precomputes the boolean
``keep`` INSIDE the struct — a filter referencing only ``qm.keep``
duplicates nothing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is"]

LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
}

def _token_count_rx(vals: list[str]) -> str:
    """Count of whitespace tokens exactly equal to one of ``vals``, as
    a Java regex for regexp_count. \\A/\\z (not ^/$) so a trailing
    newline is part of the last token, exactly as split-on-space sees
    it. ``vals`` are plain-ASCII words (module constants), so no
    escaping is needed."""
    return r"(?:\A| )(?:" + "|".join(vals) + r")(?= |\z)"


def quality_metrics_col(
    text_col: Column,
    lang_col: Column | None = None,
    *,
    min_words: int = 5,
) -> Column:
    """Every per-document quality metric as ONE struct column:

      ``n_words``    int    — whitespace token count (== size(split))
      ``stop_ratio`` double — stop-word share rounded to 4 places (the
                              rounding is part of the contract — both
                              engines compare/threshold the rounded
                              value, so boundary documents land
                              identically everywhere)
      ``pred_lang``  string — marker-count language guess with 'en' as
                              the tie-keeping baseline: a later language
                              wins only with a STRICTLY greater marker
                              count (iteration order es, de, fr — fixed,
                              part of the contract)
      ``keep``       bool   — only when ``lang_col`` is given: the
                              STATELESS per-document gate (length ∧
                              stop-ratio ∧ declared==guessed language).
                              q_corpus_filter adds the one corpus-GLOBAL
                              term (md5-canon exact dedup) on top; the
                              streaming ingest replaces that term with
                              cross-batch keyed dedup.

    Consumers should project this struct ONCE and derive their output
    columns from its fields; a filter should reference ``keep`` only.
    All subexpressions are whole-stage-codegen built-ins; the repeated
    size(split)/count subtrees within the struct are collapsed by
    physical-plan subexpression elimination.
    """
    n = F.size(F.split(text_col, " "))
    stops = F.regexp_count(text_col, F.lit(_token_count_rx(STOPWORDS)))
    score = {
        lang: F.regexp_count(text_col, F.lit(_token_count_rx(m)))
        for lang, m in LANG_MARKERS.items()
    }
    stop_ratio = F.round(stops.cast("double") / n, 4)
    # The sequential argmax fold ("a later language wins only with a
    # STRICTLY greater count") picks exactly the FIRST language in
    # en,es,de,fr order whose count equals the max — so express it as
    # greatest + a first-match CASE. Value-identical to the fold, but
    # the expression tree references each count O(1) times instead of
    # O(2^k) via nested best/best_score whens — which matters because
    # a pushed-down filter predicate gets no subexpression elimination
    # (measured 3x on corpus_filter).
    m = F.greatest(*[score[lang] for lang in LANG_MARKERS])
    best = F.when(score["en"] == m, F.lit("en"))
    for lang in ["es", "de"]:
        best = best.when(score[lang] == m, F.lit(lang))
    best = best.otherwise(F.lit("fr"))
    fields = [
        n.alias("n_words"),
        stop_ratio.alias("stop_ratio"),
        best.alias("pred_lang"),
    ]
    if lang_col is not None:
        keep = (
            (n >= min_words) & (stop_ratio <= 0.5) & (best == lang_col)
        )
        fields.append(keep.alias("keep"))
    return F.struct(*fields)


def gate_predicate(
    text_col: Column, lang_col: Column, *, min_words: int = 5
) -> Column:
    """The stateless per-document gate as a standalone boolean — one
    fold. Prefer ``quality_metrics_col(...)['keep']`` when the caller
    also needs the metric columns, so the fold isn't duplicated."""
    return quality_metrics_col(text_col, lang_col, min_words=min_words)[
        "keep"
    ]


# -- Gopher-style word-level quality rules (Rae et al. 2021, §A1.1) ----
# One definition serves the driver query (q_gopher_rules), the batch
# pipeline stage (llm_pipeline.gopher_filter), and any streaming gate —
# the same no-drift rule as the gate above. Thresholds follow the paper
# where the fixture makes them meaningful; line-level rules are omitted
# (the fixture corpus is single-line by construction).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_WLEN_LO = 3.0
GOPHER_WLEN_HI = 10.0
GOPHER_SYMBOL_MAX = 0.10
GOPHER_ALPHA_MIN = 0.80
GOPHER_MIN_STOPS = 2


def gopher_metrics_col(text_col: Column) -> Column:
    """Every Gopher rule metric and verdict as ONE struct column:
    ``n_words``, ``mean_word_len`` (chars excluding separator spaces /
    words), ``symbol_ratio`` ('#' + ellipsis per word), ``alpha_ratio``
    (words containing an alphabetic char), ``n_stop_words``, the five
    per-rule booleans, and the composed ``keep``. Whole-stage-codegen
    built-ins except the single alphabetic-word HOF filter (used once,
    so the no-CSE-across-lambdas trap does not apply); zero shuffles at
    any scale."""
    words = F.split(text_col, " ")
    n = F.size(words)
    wchars = F.length(F.regexp_replace(text_col, " ", ""))
    mean_wlen = F.round(wchars.cast("double") / n, 4)
    symbols = F.regexp_count(text_col, F.lit("#")) + F.regexp_count(
        text_col, F.lit(r"\.\.\.")
    )
    symbol_ratio = F.round(symbols.cast("double") / n, 4)
    alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = F.round(alpha.cast("double") / n, 4)
    stops = F.regexp_count(text_col, F.lit(_token_count_rx(STOPWORDS)))
    r_count = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
    r_wlen = (mean_wlen >= GOPHER_WLEN_LO) & (mean_wlen <= GOPHER_WLEN_HI)
    r_sym = symbol_ratio <= GOPHER_SYMBOL_MAX
    r_alpha = alpha_ratio >= GOPHER_ALPHA_MIN
    r_stops = stops >= GOPHER_MIN_STOPS
    return F.struct(
        n.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        stops.alias("n_stop_words"),
        r_count.alias("rule_word_count"),
        r_wlen.alias("rule_word_len"),
        r_sym.alias("rule_symbols"),
        r_alpha.alias("rule_alpha"),
        r_stops.alias("rule_stops"),
        (r_count & r_wlen & r_sym & r_alpha & r_stops).alias("keep"),
    )


def md5_prefix_key(id_col: Column) -> Column:
    """The deterministic 2-hex-char sampling key shared by every
    rate-based draw (sample_stratified, mix_sample, mix_temperature,
    llm_pipeline.mix_corpus) — stable under task retries/replays."""
    return F.substring(F.md5(id_col.cast("string")), 1, 2)


def temperature_thresholds(docs, *, alpha: float, budget: float, lang_col: str = "lang", th_col: str = "th"):
    """Per-language tempered keep-thresholds (mT5/UniMax family):
    rate_g = min(1, B*n_g^alpha / (S*n_g)), quantized to the 2-hex
    threshold md5_prefix_key compares against. Shared by the driver
    query (q_mix_temperature) and the pipeline stage
    (llm_pipeline.mix_corpus). Returns a TINY frame (lang, th) —
    bounded by the language inventory; the normalizing window-sum runs
    over that frame, never the corpus."""
    from pyspark.sql import Window

    cnt = docs.groupBy(lang_col).agg(F.count(F.lit(1)).alias("n"))
    pw = F.pow(F.col("n").cast("double"), F.lit(alpha))
    raw = (
        F.lit(float(budget))
        * pw
        / (F.sum(pw).over(Window.partitionBy()) * F.col("n"))
    )
    return cnt.select(
        lang_col,
        F.when(raw >= 1, F.lit("zz"))
        .otherwise(
            F.lower(F.lpad(F.hex(F.floor(raw * 256).cast("int")), 2, "0"))
        )
        .alias(th_col),
    )
