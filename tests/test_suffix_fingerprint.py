"""Suffix-array LCS, winnowing fingerprints, substring-dup operator."""

from __future__ import annotations

import numpy as np

from doppel_spark.corpus import synth_pages
from doppel_spark.functions.fingerprint import _kgram_hashes, winnow
from doppel_spark.operators.suffix import (
    _lcp_pairs,
    _suffix_array_levels,
    longest_common_substring_len,
    substring_dup_pairs,
)


def test_suffix_array_banana():
    s = np.frombuffer(b"banana", dtype=np.uint8).astype(np.int64)
    sa, levels = _suffix_array_levels(s)
    assert sa.tolist() == [5, 3, 1, 0, 4, 2]  # a, ana, anana, banana, na, nana
    # LCP of each suffix with its predecessor in suffix-array order
    assert _lcp_pairs(sa[1:], sa[:-1], levels, len(s)).tolist() == [1, 3, 0, 0, 2]


def test_lcs_basic():
    assert longest_common_substring_len("hello world", "say hello there") == len("hello ")
    assert longest_common_substring_len("abc", "xyz") == 0
    assert longest_common_substring_len("", "xyz") == 0
    assert longest_common_substring_len("same", "same") == 4
    # unicode beyond BMP
    assert longest_common_substring_len("aa😀bb", "cc😀bd") == 2  # "😀b" (2 code points)


def test_lcs_planted_run():
    shared = "S" * 500
    a = "x" * 200 + shared + "y" * 100
    b = "q" * 150 + shared + "r" * 300
    assert longest_common_substring_len(a, b) == 500


def test_kgram_and_winnow_shared_substring():
    shared = np.frombuffer(b"z" * 50 + bytes(range(64)) * 3 + b"w" * 40, dtype=np.uint8)
    a = np.concatenate([np.frombuffer(b"A" * 100, np.uint8), shared,
                        np.frombuffer(b"B" * 100, np.uint8)])
    b = np.concatenate([np.frombuffer(b"C" * 130, np.uint8), shared,
                        np.frombuffer(b"D" * 70, np.uint8)])
    k, w = 64, 64
    fa = set(winnow(_kgram_hashes(a, k), w).tolist())
    fb = set(winnow(_kgram_hashes(b, k), w).tolist())
    # shared region is 282 bytes ≥ k+w−1=127 ⇒ winnowing guarantees overlap
    assert fa & fb


def test_substring_dup_pairs_on_corpus(spark, new_mat):
    n = 300
    pages = synth_pages(spark, n).filter("url like '%/lcs/%'").cache()
    n_lcs = pages.count()
    assert n_lcs >= 2
    got = substring_dup_pairs(pages, min_len=256, mat=new_mat()).collect()
    pairs = {(r["url_a"], r["url_b"]) for r in got}
    # every planted lcs pair (members /0 and /1 of the same pair id) found
    import re
    expected = set()
    urls = [r["url"] for r in pages.select("url").collect()]
    by_pair: dict[str, list[str]] = {}
    for u in urls:
        by_pair.setdefault(re.search(r"/lcs/(\d+)/", u).group(1), []).append(u)
    for members in by_pair.values():
        if len(members) == 2:
            expected.add(tuple(sorted(members)))
    assert expected and expected.issubset(pairs)
    # and the reported LCS is at least the planted shared region's size
    min_lcs = min(r["lcs_len"] for r in got)
    assert min_lcs >= 256
    pages.unpersist()


def test_substring_pairs_absent_for_unrelated(spark, new_mat):
    docs = spark.createDataFrame(
        [("a", "completely different text " * 30),
         ("b", "another unrelated document body " * 30)],
        "url string, text string")
    assert substring_dup_pairs(docs, min_len=128,
                               mat=new_mat()).count() == 0
