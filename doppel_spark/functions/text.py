"""Text-analysis columns for training-data pipelines — pure Catalyst.

Everything here is built-in ``pyspark.sql.functions`` composition (no
Python), deliberately expressible in ANSI SQL so every op has a DuckDB
oracle: token counting, language ID (stopword-hit heuristic), quality
scoring (length / punctuation / stopword / repetition signals).

Round-6 optimization (guide §4.1 "prefer built-ins"): the hot columns
here were originally higher-order ``F.filter(tokens, x.isin(...))``
expressions. Lambda-bearing expressions are interpreted (no whole-stage
codegen) AND excluded from Spark's common-subexpression elimination
(``EquivalentExpressions`` skips ``LambdaVariable`` subtrees), so the
``lang_id`` CASE cascade evaluated the tokenize+filter subtree dozens
of times per row — the r6 baseline measured 28 s for the single-scan
``lang_id`` query at sf1.0. Every counting column is now a single
codegen'd ``regexp_count`` (compiled once per task, CSE-eligible);
token *arrays* (needed for distinct-token ratios) use ``array_remove``
instead of a filter lambda. Semantics are unchanged and every rewrite
remains oracle-checked:

* a token is a maximal run of non-``\\s`` chars, so
  ``regexp_count(text, '\\S+')`` == the filtered-split size;
* a token equals a stopword iff the text contains that word bounded by
  start/``\\s`` on the left and ``\\s``/end on the right, so
  ``regexp_count(text, '(?:^|\\s)(?:w1|...|wn)(?=\\s|$)')`` counts
  stopword tokens with multiplicity (the match consumes at most one
  separator char, so adjacent stopword tokens all match; the lookahead
  makes prefix matches like "the" in "them" impossible);
* single-char-class counts (punctuation, script letters) equal the old
  ``length(t) - length(regexp_replace(t, cls, ''))`` without building
  the stripped string.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from doppel_spark.corpus import LANG_STOPWORDS


def _col_of(text: Column | str) -> Column:
    return F.col(text) if isinstance(text, str) else text


def tokens(text: Column | str) -> Column:
    """Whitespace tokens; empty text → empty array (not [''])."""
    t = _col_of(text)
    return F.array_remove(F.split(F.trim(t), r"\s+"), "")


def token_count(text: Column | str) -> Column:
    t = _col_of(text)
    return F.regexp_count(t, F.lit(r"\S+")).cast("long").alias("n_tokens")


#: letters/digits runs count as one token; each other non-space char is
#: its own token — RE2-compatible so the DuckDB oracle can reuse it.
SUBTOKEN_PATTERN = r"[\p{L}\p{N}]+|[^\p{L}\p{N}\s]"


def word_token_count(text: Column | str) -> Column:
    """BPE-ish subword proxy: word chunks + digit runs + punctuation marks
    each count as a token (regex extraction, JVM-side)."""
    t = _col_of(text)
    return (
        F.regexp_count(t, F.lit(SUBTOKEN_PATTERN))
        .cast("long").alias("n_subtokens")
    )


def _word_hits_pattern(words) -> str:
    """Whole-token alternation pattern counting tokens equal to any of
    ``words`` (with multiplicity) — see module docstring for the
    boundary argument."""
    alt = "|".join(re.escape(w) for w in words)
    return r"(?:^|\s)(?:" + alt + r")(?=\s|$)"


def stopword_hits(text: Column | str, lang: str) -> Column:
    """# tokens that are stopwords of ``lang`` (with multiplicity)."""
    t = _col_of(text)
    return F.regexp_count(
        t, F.lit(_word_hits_pattern(LANG_STOPWORDS[lang]))).cast("long")


def lang_id(text: Column | str) -> Column:
    """Predicted language = argmax over per-language stopword hit counts.

    Deterministic tie-break: language order as listed (first max wins),
    'und' when no stopword hits at all. Built as ``greatest`` + a flat
    first-max CASE (each per-language count appears O(1) times) instead
    of the fold-style ``when`` chain, whose best-so-far accumulator
    doubled the expression tree per language (2^n copies of the first
    language's count in the plan).
    """
    hits = {lang: stopword_hits(text, lang) for lang in LANG_STOPWORDS}
    best = F.greatest(*hits.values())
    out = None
    for lang, h in hits.items():
        cond = (best > 0) & (h == best)
        out = F.when(cond, F.lit(lang)) if out is None else out.when(cond, F.lit(lang))
    return out.otherwise(F.lit("und")).alias("lang_pred")


def script_profile(text: Column | str) -> list[Column]:
    """Unicode-script letter ratios — the mixed-script cleaning signal.

    Returns ``[n_letters, latin_micros, cyrillic_micros, han_micros]``:
    total letter count (``\\p{L}``) and each script's integer-micros
    share of it (0 when the text has no letters). Mixed-script text is
    a classic spam/keyword-stuffing tell, and a script histogram is the
    zero-model complement to stopword language-ID for scripts the
    stopword lists don't cover.

    Pure Catalyst ``regexp_count`` of single-code-point classes (==
    chars removed by the old ``regexp_replace`` formulation, without
    materializing the stripped string). The property NAMES differ per
    engine (Java ``\\p{IsLatin}`` here, RE2 ``\\p{Latin}`` in the
    DuckDB oracle) but both bind the same Unicode script data for the
    planted checks — the contract query hash-matches values so a table
    divergence would be CAUGHT, not silently blessed. The micros
    numerator is cast to long BEFORE the multiply: the oracle uses
    BIGINT math, and int32 × 1e6 overflows (ANSI ARITHMETIC_OVERFLOW)
    for any document with ≥ 2148 letters of one script (ADVICE r5).
    """
    t = _col_of(text)

    def n_of(cls: str) -> Column:
        return F.regexp_count(t, F.lit(cls)).cast("long")

    letters = n_of(r"\p{L}")

    def micros(cls: str, name: str) -> Column:
        return (F.when(letters == 0, F.lit(0))
                .otherwise(F.floor(n_of(cls) * F.lit(1_000_000) / letters))
                .cast("long").alias(name))

    return [
        letters.alias("n_letters"),
        micros(r"\p{IsLatin}", "latin_micros"),
        micros(r"\p{IsCyrillic}", "cyrillic_micros"),
        micros(r"\p{IsHan}", "han_micros"),
    ]


def punct_ratio(text: Column | str) -> Column:
    """Fraction of chars in a fixed punctuation class (0 for empty)."""
    t = _col_of(text)
    n_punct = F.regexp_count(t, F.lit(r"[.,!?;:]"))
    return (
        F.when(F.length(t) == 0, F.lit(0.0))
        .otherwise(n_punct.cast("double") / F.length(t))
        .alias("punct_ratio")
    )


#: the any-language stopword alternation (sorted, deduplicated) shared
#: by stopword_ratio / quality scoring / the Gopher filter
ALL_STOPWORDS = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})


def any_stopword_hits(text: Column | str) -> Column:
    """# tokens that are stopwords of ANY known language (multiplicity)."""
    t = _col_of(text)
    return F.regexp_count(t, F.lit(_word_hits_pattern(ALL_STOPWORDS)))


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are stopwords of ANY known language."""
    t = _col_of(text)
    n = F.regexp_count(t, F.lit(r"\S+"))
    return (
        F.when(n == 0, F.lit(0.0))
        .otherwise(any_stopword_hits(t).cast("double") / n)
        .alias("stopword_ratio")
    )


def distinct_token_ratio(text: Column | str) -> Column:
    """Repetition signal: |distinct tokens| / |tokens| (1.0 for empty)."""
    toks = tokens(text)
    return (
        F.when(F.size(toks) == 0, F.lit(1.0))
        .otherwise(F.size(F.array_distinct(toks)).cast("double") / F.size(toks))
        .alias("distinct_token_ratio")
    )


def quality_score_micros(text: Column | str, min_tokens: int = 20,
                         max_tokens: int = 100_000) -> Column:
    """``floor(quality × 10⁶)`` as a long — float-free form for exact
    cross-engine comparison (float hashing is representation-sensitive;
    identical IEEE expression trees floor to identical integers)."""
    t = _col_of(text)
    n = F.regexp_count(t, F.lit(r"\S+"))
    len_ok = F.when((n >= min_tokens) & (n <= max_tokens), 1.0).otherwise(0.0)
    stop_sig = F.least(stopword_ratio(t) * 4.0, F.lit(1.0))
    rep_sig = distinct_token_ratio(t)
    punct_sig = F.lit(1.0) - F.least(punct_ratio(t) * 5.0, F.lit(1.0))
    raw = 0.4 * len_ok + 0.3 * stop_sig + 0.2 * rep_sig + 0.1 * punct_sig
    return F.floor(raw * 1_000_000).cast("long").alias("quality_micros")
