"""Suffix-array substring dedup — long-common-substring detection.

North-rule operator: find document pairs sharing a long verbatim
substring even when their overall shingle Jaccard is far below the
near-dup threshold (syndication, quoted blocks, boilerplate spans).

Two stages, both distribution-friendly:

1. **Candidates** — winnowed rolling-hash fingerprints
   (:mod:`doppel_spark.functions.fingerprint`); docs sharing a
   fingerprint value are candidates. Same groupBy-bucket → pair
   explosion machinery as LSH (skew cap included) — never O(n²).
2. **Verification** — exact longest-common-substring length per
   candidate pair via a generalized suffix array over
   ``text_a ⊕ sep ⊕ text_b``: prefix-doubling construction
   (O(n log² n), fully vectorized numpy lexsort), LCP read off the
   doubling levels, max LCP between adjacent suffixes originating in
   different documents.
   Runs as a vectorized pandas UDF over pair rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from doppel_spark.functions.fingerprint import fingerprint_udf
from doppel_spark.operators.lsh import pairs_from_buckets
from doppel_spark.operators.stage import StageMaterializer


def _suffix_array_levels(
    s: np.ndarray,
) -> tuple[np.ndarray, list[tuple[int, np.ndarray]]]:
    """Suffix array by prefix doubling (numpy lexsort), O(n log² n),
    plus the per-round rank arrays: ``levels`` is a list of
    ``(span, rank)`` where ``rank[i] == rank[j]`` ⟺ suffixes i and j
    agree on their first ``span`` characters. These are exactly the
    sparse-table levels the vectorized LCP query (:func:`_lcp_pairs`)
    needs — keeping them costs O(n log n) memory that the construction
    already paid transiently."""
    n = len(s)
    if n == 0:
        return np.zeros(0, dtype=np.int64), []
    rank = np.unique(s, return_inverse=True)[1].astype(np.int64)
    levels: list[tuple[int, np.ndarray]] = [(1, rank)]
    k = 1
    idx = np.arange(n)
    while True:
        second = np.where(idx + k < n, rank[np.minimum(idx + k, n - 1)] + 1, 0)
        order = np.lexsort((second, rank))
        changed = np.empty(n, dtype=np.int64)
        changed[0] = 0
        changed[1:] = (rank[order][1:] != rank[order][:-1]) | (
            second[order][1:] != second[order][:-1]
        )
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.cumsum(changed)
        rank = new_rank
        levels.append((2 * k, rank))
        if rank[order[-1]] == n - 1:
            return order.astype(np.int64), levels
        k *= 2


def _lcp_pairs(i_arr: np.ndarray, j_arr: np.ndarray,
               levels: list[tuple[int, np.ndarray]], n: int) -> np.ndarray:
    """LCP of suffix pairs (i, j), vectorized over the pairs.

    Greedy binary decomposition over the doubling levels, largest span
    first: equal ranks at span ⟹ the first ``span`` characters match
    (suffixes of one string are pairwise distinct, so equal rank cannot
    mean "both ended early") — add the span and advance both cursors.
    The doubling loop only terminates once all ranks are distinct, so
    every possible LCP is < the largest span and the decomposition is
    exact. O(pairs · log n) numpy ops — replaces Kasai's O(total chars)
    per-character Python loop, which was the slowest Python in the repo.
    """
    i = i_arr.astype(np.int64).copy()
    j = j_arr.astype(np.int64).copy()
    h = np.zeros(len(i), dtype=np.int64)
    for span, rank in reversed(levels):
        ok = (i < n) & (j < n)
        if not ok.any():
            break
        eq = np.zeros(len(i), dtype=bool)
        eq[ok] = rank[i[ok]] == rank[j[ok]]
        h[eq] += span
        i[eq] += span
        j[eq] += span
    return h


def longest_common_substring_len(a: str, b: str) -> int:
    """Exact LCS length via generalized suffix array of a ⊕ 0x110000 ⊕ b.

    Only the adjacent suffix pairs whose members originate in
    *different* documents are LCP-queried — the cross-origin pairs are
    the only ones that witness a common substring."""
    if not a or not b:
        return 0
    xa = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    xb = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    sep = np.int64(0x110000)  # above any Unicode code point
    s = np.concatenate([xa, [sep], xb])
    sa, levels = _suffix_array_levels(s)
    origin = sa < len(xa)  # suffix starts in a?
    cross = np.nonzero(origin[1:] != origin[:-1])[0]
    if cross.size == 0:
        return 0
    return int(_lcp_pairs(sa[cross + 1], sa[cross], levels, len(s)).max())


def lcs_len_udf():
    """pandas UDF: (text_a, text_b) → longest common substring length."""

    @F.pandas_udf(T.LongType())
    def lcs(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [longest_common_substring_len(x or "", y or "") for x, y in zip(a, b)],
            dtype="int64",
        )

    return lcs


def fingerprint_candidates(
    docs: DataFrame, id_col: str = "url", text_col: str = "text",
    k: int = 64, window: int = 64, bucket_cap: int = 256,
    *, mat: StageMaterializer,
) -> DataFrame:
    """Pairs sharing ≥1 winnowed fingerprint (url_a < url_b).

    The winnowing UDF's output is cut BEFORE the bucket machinery:
    bucket membership alone evaluates its input twice (stats + join
    back), and without the cut the UDF re-ran per evaluation — the
    round-2 bench's 3× ``substring_pairs`` regression. Both cuts go
    through the caller's ``mat``, which the caller frees with
    ``mat.cleanup()`` once the pairs are consumed.
    """
    fp = fingerprint_udf(k, window)
    # force=False: the membership cut inside pairs_from_buckets is the
    # next blocking action and scans every partition of this frame,
    # filling the cache in that job (r6 — saves one driver action)
    fps = mat.cut(
        docs.select(F.col(id_col), fp(F.col(text_col)).alias("fps")), "fps",
        force=False)
    exploded = fps.select(F.col(id_col), F.explode("fps").alias("fp"))
    return pairs_from_buckets(exploded, ["fp"], id_col=id_col,
                              bucket_cap=bucket_cap, mat=mat)


def substring_dup_pairs(
    docs: DataFrame, id_col: str = "url", text_col: str = "text",
    min_len: int = 256, k: int = 64, window: int = 64, bucket_cap: int = 256,
    *, mat: StageMaterializer,
) -> DataFrame:
    """Pairs of docs sharing a verbatim substring of ≥ ``min_len`` chars.

    Output: (url_a, url_b, lcs_len long). Complete for min_len ≥
    window + k − 1 (the winnowing guarantee); candidates below that
    floor may be missed by design. ``mat`` — the caller's
    materializer, freed by the caller once the result is consumed.
    """
    pairs = mat.cut(
        fingerprint_candidates(docs, id_col, text_col, k, window, bucket_cap,
                               mat=mat), "cand_pairs")
    # prune the text table to pair participants FIRST (cheap id
    # semi-join), so the two text joins below shuffle only texts that
    # actually appear in a candidate pair — at web scale candidates are
    # a sliver of the corpus and the full text column must never move
    participants = (
        pairs.select(F.col("url_a").alias(id_col))
        .union(pairs.select(F.col("url_b").alias(id_col)))
        .distinct()
    )
    needed = docs.select(F.col(id_col), F.col(text_col)) \
        .join(participants, id_col, "left_semi")
    a = needed.select(F.col(id_col).alias("url_a"), F.col(text_col).alias("text_a"))
    b = needed.select(F.col(id_col).alias("url_b"), F.col(text_col).alias("text_b"))
    lcs = lcs_len_udf()
    return (
        pairs.join(a, "url_a").join(b, "url_b")
        .withColumn("lcs_len", lcs(F.col("text_a"), F.col("text_b")))
        .filter(F.col("lcs_len") >= min_len)
        .select("url_a", "url_b", "lcs_len")
    )
