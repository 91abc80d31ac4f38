"""Gopher-style document quality signals and the published rule filter.

Rae et al. 2021 ("Scaling Language Models: ... Gopher", Appendix A) set
the de-facto standard pre-training quality rules; this module computes the
signals distributedly and applies the published thresholds:

* word count / mean word length / symbol-to-word ratio / alphabetic-word
  fraction / bullet-line and ellipsis-line fractions / stop-word presence —
  pure JVM column algebra (whole-stage codegen, no Python);
* within-document REPETITION signals (duplicate line/paragraph fractions by
  count and by character; top 2-4-gram character fraction; duplicated
  5-10-gram character fraction) — duplicate line/paragraph fractions stay
  JVM (array algebra over the line split), the n-gram character fractions
  run in ONE Arrow-batched pandas UDF (a per-document hash count is not
  expressible as column algebra without a quadratic expression blow-up).

Definitions are pinned here because public reimplementations differ in
detail (the paper gives thresholds, not formulas):

* ``top{n}gram_char_frac`` = count(most frequent word n-gram) x len(that
  n-gram's text, words joined by one space) / len(document text) — 0 when
  the most frequent n-gram occurs only once (a non-repeating top gram is
  not repetition); count ties resolve to the lexicographically largest
  gram;
* ``dup{n}gram_char_frac`` = sum over n-grams occurring >= 2 times of
  count x len(gram text) / len(document text), capped at 1.0 (occurrences
  may overlap, so the numerator can exceed the text length);
* duplicate line/paragraph fractions count every occurrence after the
  first, by line count and by character share.

The differential tests mirror these definitions in plain Python.  At
10^12 documents every signal is per-row (no shuffle); the filter is a
scan-side conjunction that pushes down.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from .._worker import task_entry

# The paper's stop-word presence set.
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# (signal, threshold, keep-if) of the published rules applied by
# gopher_filter; repetition thresholds follow the paper's Table A1.
GOPHER_THRESHOLDS = {
    "n_words": (50, 100_000),           # within [min, max]
    "mean_word_len": (3.0, 10.0),       # within [min, max]
    "symbol_word_ratio": 0.1,           # below
    "frac_bullet_lines": 0.9,           # below
    "frac_ellipsis_lines": 0.3,         # below
    "frac_alpha_words": 0.8,            # at least
    "n_stop_hits": 2,                   # at least
    "frac_dup_lines": 0.30,
    "frac_dup_line_chars": 0.20,
    "frac_dup_paras": 0.30,
    "frac_dup_para_chars": 0.20,
    "top2gram_char_frac": 0.20,
    "top3gram_char_frac": 0.18,
    "top4gram_char_frac": 0.16,
    "dup5gram_char_frac": 0.15,
    "dup6gram_char_frac": 0.14,
    "dup7gram_char_frac": 0.13,
    "dup8gram_char_frac": 0.12,
    "dup9gram_char_frac": 0.11,
    "dup10gram_char_frac": 0.10,
}


def _words(col):
    return F.filter(F.split(col, r"\s+"), lambda w: w != F.lit(""))


def _nonempty_lines(col, sep: str):
    return F.filter(
        F.split(col, sep), lambda l: F.length(F.trim(l)) > 0
    )


def _dup_fracs(lines_col):
    """(dup_count_frac, dup_char_frac) over an array column: every
    occurrence after the first counts as a duplicate.  O(distinct x total)
    per row — array algebra, bounded by lines-per-document."""
    n = F.size(lines_col)
    n_dup = n - F.size(F.array_distinct(lines_col))
    total_chars = F.aggregate(
        lines_col, F.lit(0), lambda acc, l: acc + F.length(l)
    )
    dup_chars = F.aggregate(
        F.array_distinct(lines_col),
        F.lit(0),
        lambda acc, d: acc
        + (F.size(F.filter(lines_col, lambda l: l == d)) - 1) * F.length(d),
    )
    zero = F.lit(0.0)
    return (
        F.when(n > 0, n_dup.cast("double") / n).otherwise(zero),
        F.when(total_chars > 0,
               dup_chars.cast("double") / total_chars).otherwise(zero),
    )


def _count_occurrences(col, sub: str):
    return (F.length(col) - F.length(F.replace(col, F.lit(sub), F.lit("")))) \
        / F.lit(len(sub))


_NGRAM_REP_SCHEMA = (
    "top2gram_char_frac double, top3gram_char_frac double, "
    "top4gram_char_frac double, dup5gram_char_frac double, "
    "dup6gram_char_frac double, dup7gram_char_frac double, "
    "dup8gram_char_frac double, dup9gram_char_frac double, "
    "dup10gram_char_frac double"
)


def _ngram_repetition_batch(texts: pd.Series) -> pd.DataFrame:
    """Arrow-batched n-gram repetition signals (module-docstring
    definitions); plain function so tests can call it directly and the
    udf wrapper below can stay lazy (pandas_udf needs a live session)."""
    from collections import Counter  # pylint: disable=C0415

    out = np.zeros((len(texts), 9), dtype=np.float64)
    for i, t in enumerate(texts):
        t = t or ""
        words = t.lower().split()
        text_len = len(t)
        if text_len == 0 or not words:
            continue
        for j, n in enumerate((2, 3, 4)):
            if len(words) < n:
                continue
            counts = Counter(
                " ".join(words[k : k + n]) for k in range(len(words) - n + 1)
            )
            gram, cnt = max(counts.items(), key=lambda kv: (kv[1], kv[0]))
            if cnt >= 2:
                out[i, j] = min(cnt * len(gram) / text_len, 1.0)
        for j, n in enumerate((5, 6, 7, 8, 9, 10)):
            if len(words) < n:
                continue
            counts = Counter(
                " ".join(words[k : k + n]) for k in range(len(words) - n + 1)
            )
            dup = sum(c * len(g) for g, c in counts.items() if c >= 2)
            out[i, 3 + j] = min(dup / text_len, 1.0)
    cols = ["top2gram_char_frac", "top3gram_char_frac", "top4gram_char_frac",
            "dup5gram_char_frac", "dup6gram_char_frac", "dup7gram_char_frac",
            "dup8gram_char_frac", "dup9gram_char_frac", "dup10gram_char_frac"]
    return pd.DataFrame(out, columns=cols)


_NGRAM_REP_UDF = None


def _ngram_repetition(col):
    global _NGRAM_REP_UDF  # pylint: disable=W0603 — one-time lazy build
    if _NGRAM_REP_UDF is None:
        _NGRAM_REP_UDF = pandas_udf(_NGRAM_REP_SCHEMA)(task_entry(_ngram_repetition_batch))
    return _NGRAM_REP_UDF(col)


def gopher_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append every Gopher signal column (names = GOPHER_THRESHOLDS keys).

    One projection: the JVM signals are plain column algebra; the n-gram
    repetition struct is one Arrow batch per task.
    """
    col = F.col(text_col)
    words = _words(col)
    words_lower = _words(F.lower(col))
    n_words = F.size(words)
    nz = F.when(n_words > 0, n_words.cast("double")).otherwise(F.lit(1.0))
    lines = _nonempty_lines(col, "\n")
    n_lines = F.when(F.size(lines) > 0,
                     F.size(lines).cast("double")).otherwise(F.lit(1.0))
    paras = _nonempty_lines(col, r"\n\n")
    dup_l, dup_lc = _dup_fracs(lines)
    dup_p, dup_pc = _dup_fracs(paras)
    stop_arr = F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS])

    out = df.withColumns({
        "n_words": n_words.cast("long"),
        "mean_word_len": F.aggregate(
            words, F.lit(0), lambda acc, w: acc + F.length(w)
        ).cast("double") / nz,
        "symbol_word_ratio": (
            _count_occurrences(col, "#") + _count_occurrences(col, "...")
            + _count_occurrences(col, "…")
        ).cast("double") / nz,
        "frac_bullet_lines": F.size(F.filter(
            lines,
            lambda l: F.trim(l).rlike(r"^[-*•●▪]"),
        )).cast("double") / n_lines,
        "frac_ellipsis_lines": F.size(F.filter(
            lines,
            lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"),
        )).cast("double") / n_lines,
        "frac_alpha_words": F.size(F.filter(
            words, lambda w: w.rlike("[A-Za-z]")
        )).cast("double") / nz,
        "n_stop_hits": F.size(F.filter(
            stop_arr, lambda s: F.array_contains(words_lower, s)
        )).cast("long"),
        "frac_dup_lines": dup_l,
        "frac_dup_line_chars": dup_lc,
        "frac_dup_paras": dup_p,
        "frac_dup_para_chars": dup_pc,
        "_ngram_rep": _ngram_repetition(col),
    })
    return out.select("*", "_ngram_rep.*").drop("_ngram_rep")


def gopher_filter(df: DataFrame, text_col: str = "text",
                  signals_attached: bool = False) -> DataFrame:
    """Rows passing ALL published Gopher rules (thresholds in
    GOPHER_THRESHOLDS); signal columns are dropped unless
    ``signals_attached=True``."""
    sig = gopher_signals(df, text_col)
    t = GOPHER_THRESHOLDS
    cond = (
        (F.col("n_words") >= t["n_words"][0])
        & (F.col("n_words") <= t["n_words"][1])
        & (F.col("mean_word_len") >= t["mean_word_len"][0])
        & (F.col("mean_word_len") <= t["mean_word_len"][1])
        & (F.col("symbol_word_ratio") < t["symbol_word_ratio"])
        & (F.col("frac_bullet_lines") < t["frac_bullet_lines"])
        & (F.col("frac_ellipsis_lines") < t["frac_ellipsis_lines"])
        & (F.col("frac_alpha_words") >= t["frac_alpha_words"])
        & (F.col("n_stop_hits") >= t["n_stop_hits"])
    )
    for name in ("frac_dup_lines", "frac_dup_line_chars", "frac_dup_paras",
                 "frac_dup_para_chars", "top2gram_char_frac",
                 "top3gram_char_frac", "top4gram_char_frac",
                 "dup5gram_char_frac", "dup6gram_char_frac",
                 "dup7gram_char_frac", "dup8gram_char_frac",
                 "dup9gram_char_frac", "dup10gram_char_frac"):
        cond = cond & (F.col(name) <= t[name])
    kept = sig.where(cond)
    return kept if signals_attached else kept.select(*df.columns)
