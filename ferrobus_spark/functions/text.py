"""Text-analysis column functions for corpus curation.

All hot-path functions are pure Column expressions (whole-stage
codegen); the ones needing loops (fingerprint, language ID) are
Arrow-batched pandas UDFs. Where a DuckDB-parity SQL twin exists it is
emitted from the same definition (registry uses those for the
correctness gate).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# token counting — whitespace words + a BPE-ish subword regex
# ---------------------------------------------------------------------------

WORD_RE = "[^ \\t\\n\\r]+"
# BPE-ish: runs of letters, runs of digits, or single non-alnum non-space
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"


def n_words_col(text: str | Column) -> Column:
    # regexp_count ≡ size(regexp_extract_all(...)) without materializing
    # the match array — counting tokens is the hot path, not listing them
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(WORD_RE))


def n_bpe_tokens_col(text: str | Column) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_RE))


# ---------------------------------------------------------------------------
# quality scoring — length / punctuation / digit / stopword ratios
# ---------------------------------------------------------------------------

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be",
]


_ALPHA_CHARS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
_DIGIT_CHARS = "0123456789"
_PUNCT_CHARS = ".,;:!?'\"()[]-"


def _n_of_class(c: Column, chars: str) -> Column:
    """Count of characters from ``chars`` — length minus length after
    ``translate`` deletion. A char-map pass, not a regex rewrite: the
    three per-class regexp_replace strips dominated the quality-score
    plan (~2× the whole stage) and count identically to this."""
    return F.length(c) - F.length(F.translate(c, chars, ""))


def quality_cols(text: str | Column) -> dict[str, Column]:
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c)
    n_alpha = _n_of_class(c, _ALPHA_CHARS)
    n_digit = _n_of_class(c, _DIGIT_CHARS)
    n_punct = _n_of_class(c, _PUNCT_CHARS)
    words = F.regexp_extract_all(F.lower(c), F.lit("[a-z]+"), F.lit(0))
    n_stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    nz = F.greatest(n_chars, F.lit(1)).cast("double")
    nw = F.greatest(F.size(words), F.lit(1)).cast("double")
    return {
        "n_chars": n_chars.cast("long"),
        "alpha_ratio": n_alpha / nz,
        "digit_ratio": n_digit / nz,
        "punct_ratio": n_punct / nz,
        "stopword_ratio": n_stop / nw,
        "mean_word_len": n_alpha.cast("double") / nw,
    }


def quality_score_col(text: str | Column) -> Column:
    """Composite [0,1] quality heuristic (monotone in good signals)."""
    q = quality_cols(text)
    score = (
        F.least(q["n_chars"].cast("double") / 200.0, F.lit(1.0)) * 0.3
        + F.least(q["alpha_ratio"] / 0.7, F.lit(1.0)) * 0.3
        + F.least(q["stopword_ratio"] / 0.3, F.lit(1.0)) * 0.3
        + (1.0 - F.least(q["digit_ratio"] * 4.0, F.lit(1.0))) * 0.1
    )
    return score


# ---------------------------------------------------------------------------
# language ID — n-gram/stopword heuristic (vectorized pandas UDF)
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " is ", " that "],
    "de": [" der ", " die ", " und ", " ist ", " das ", " nicht "],
    "fr": [" le ", " la ", " et ", " les ", " des ", " est "],
    "es": [" el ", " la ", " de ", " que ", " los ", " es "],
    "it": [" il ", " di ", " che ", " la ", " per ", " con "],
    "pt": [" o ", " de ", " que ", " em ", " um ", " para "],
}


def lang_id_col(text: str | Column) -> Column:
    """Pure-codegen language ID, semantics-identical to
    :func:`lang_id_udf` (same markers, non-overlapping counts, first-max
    tie rule) but JVM-side — no Arrow round-trip or Python workers in
    the 100 TB hot path. Marker count = ``regexp_count(padded, m)``
    (left-to-right non-overlapping, same as pandas ``str.count``); the
    winner CASE chain mirrors the DuckDB oracle restatement exactly.
    (Java vs Python ``\\s`` differ on exotic unicode whitespace — moot
    for a heuristic classifier; the ASCII corpus is bit-identical.)"""
    c = F.col(text) if isinstance(text, str) else text
    padded = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), r"\s+", " "),
        F.lit(" "),
    )
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        s = None
        for m in markers:
            cnt = F.regexp_count(padded, F.lit(m))
            s = cnt if s is None else s + cnt
        scores[lang] = s
    langs = list(LANG_MARKERS)  # insertion order = tie priority
    chain = F.when(F.greatest(*[scores[lg] for lg in langs]) == 0, F.lit("und"))
    for i, lang in enumerate(langs[:-1]):
        rest = [scores[lg] for lg in langs[i + 1 :]]
        cmp_ = rest[0] if len(rest) == 1 else F.greatest(*rest)
        chain = chain.when(scores[lang] >= cmp_, F.lit(lang))
    return chain.otherwise(F.lit(langs[-1]))


@F.pandas_udf(T.StringType())
def lang_id_udf(text: pd.Series) -> pd.Series:
    padded = (" " + text.fillna("").str.lower().str.replace(r"\s+", " ", regex=True) + " ")
    scores = pd.DataFrame(index=padded.index)
    for lang, markers in LANG_MARKERS.items():
        s = None
        for m in markers:
            c = padded.str.count(m.replace("(", "\\(") if "(" in m else m)
            s = c if s is None else s + c
        scores[lang] = s
    best = scores.idxmax(axis=1)
    return best.where(scores.max(axis=1) > 0, "und")


# ---------------------------------------------------------------------------
# document fingerprint — rolling-hash winnowing
# ---------------------------------------------------------------------------

@F.pandas_udf(T.LongType())
def fingerprint_udf(text: pd.Series) -> pd.Series:
    """64-bit document fingerprint: min-sampled Karp-Rabin over 8-grams
    (winnowing-lite: XOR of the 4 smallest window hashes).

    Batch-vectorized: one flat rolling-hash pass over the whole Arrow
    batch (same pattern as minhash/simhash), per-doc 4-smallest via a
    single lexsort, XOR-combine via ``np.bitwise_xor.reduceat`` — no
    per-document Python loop body.
    """
    from ferrobus_spark.operators.dedup import _batch_shingle_hashes

    texts = list(text.fillna(""))
    if not texts:
        return pd.Series([], dtype="int64")
    flat, starts = _batch_shingle_hashes(texts, 8)
    n_docs = len(texts)
    nwin = np.diff(starts)
    doc_idx = np.repeat(np.arange(n_docs), nwin)
    order = np.lexsort((flat, doc_idx))
    sh = flat[order]
    # take the first min(4, n_windows) sorted hashes of each doc
    k = np.minimum(nwin, 4)
    offsets = np.concatenate([[0], np.cumsum(k)[:-1]])
    within = np.arange(int(k.sum())) - np.repeat(offsets, k)
    take = np.repeat(starts[:-1], k) + within
    mixed = sh[take] * np.uint64(0x9E3779B97F4A7C15)
    v = np.bitwise_xor.reduceat(mixed, offsets)
    return pd.Series(v.astype(np.int64))
