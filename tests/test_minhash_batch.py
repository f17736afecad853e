"""The batch signature kernel must be value-identical to the per-doc
spec (min over ``shingle_hashes(text, k) >> 32`` of ``const·h`` mod
2³²) — the kernel is pure optimization, never semantics."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from doppel_spark.functions.minhash import (  # noqa: E402
    _batch_sig_matrix,
    _BufPool,
    perm_constants,
)
from minhash_spec import shingle_hashes, token_hashes  # noqa: E402

NUM_PERM, K = 128, 5
CONSTS = perm_constants(NUM_PERM, seed=42)


def _spec_sigs(texts: pd.Series) -> np.ndarray:
    """Reference implementation straight from the per-doc spec."""
    out = np.empty((len(texts), NUM_PERM), dtype=np.int32)
    with np.errstate(over="ignore"):
        for row, t in enumerate(texts.fillna("")):
            h = (shingle_hashes(t, K) >> np.uint64(32)).astype(np.uint32)
            out[row] = (CONSTS[:, None] * h[None, :]).min(axis=1).astype(np.int32)
    return out


def _batch(texts: pd.Series, **kw) -> np.ndarray:
    return _batch_sig_matrix(pa.array(texts, type=pa.string()), _BufPool(),
                             CONSTS, NUM_PERM, K, **kw)


def test_edge_cases_match_spec():
    texts = pd.Series([
        "",                       # empty → single 0-hash shingle
        "   \t\n  ",              # whitespace-only → empty token set
        "one",                    # 1 token < k
        "a b c d",                # k-1 tokens
        "a b c d e",              # exactly k tokens → 1 window
        "a b c d e f g",          # a few windows
        "tok " * 500,             # repetitive: duplicate shingles
        "naïve café über — emoji 🙂 mixed 字符 test ok done",  # multibyte
        None,                     # null → '' semantics
        "x" * 20000,              # one giant token
        ("w%d " % 7) + " ".join(f"w{i}" for i in range(300)),
    ], dtype=object)
    assert np.array_equal(_batch(texts), _spec_sigs(texts))


def test_corpus_and_batch_invariance():
    texts = pq.read_table("/root/testdata/sf0.001/documents.parquet",
                          columns=["text"]).column("text").to_pandas()
    ref = _spec_sigs(texts)
    assert np.array_equal(_batch(texts), ref)
    # splitting the batch must not change values (doc independence)
    halves = np.vstack([_batch(texts[:17].reset_index(drop=True)),
                        _batch(texts[17:].reset_index(drop=True))])
    assert np.array_equal(halves, ref)
    # tiny segment cap forces many multi-segment paths incl. single-doc
    # segments larger than the cap
    assert np.array_equal(_batch(texts, seg_shingles=64), ref)


def test_empty_batch():
    assert _batch(pd.Series([], dtype=object)).shape == (0, NUM_PERM)


def test_unicode_whitespace_kernel_spec_parity():
    """NBSP / ideographic / thin spaces are TOKEN bytes, not separators,
    in the per-doc spec, the string-level shingle audit path, AND the
    batch kernel (the fork ADVICE r3 flagged: ``str.split()`` treated
    them as separators while the byte LUT did not)."""
    from doppel_spark.functions.minhash import ascii_ws_tokens, shingle_set

    texts = pd.Series([
        "a b c d e f",                      # NBSP inside a token
        "x　y " * 10,                        # ideographic space
        "thin space here now ok fine",      # thin space
        " 　",                          # ONLY exotic ws → 1 token
        "mixed   real spaces 　 here",  # exotic ws as tokens
        "plain ascii control case one two",
    ], dtype=object)
    # batch kernel == per-doc hash spec on non-ASCII whitespace
    assert np.array_equal(_batch(texts), _spec_sigs(texts))
    for t in texts:
        toks = ascii_ws_tokens(t)
        # hash spec and string spec tokenize identically
        assert token_hashes(t).size == len(toks)
        # shingle counts agree between the string audit path and the
        # hash path (unique k-grams; tiny sets ⇒ no hash collisions)
        assert shingle_hashes(t, K).size == len(shingle_set(t, K))
    # the fork this pins: NBSP must NOT separate ("a b" is one token)
    assert ascii_ws_tokens("a b") == ["a b"]
    assert ascii_ws_tokens(" a\tb\nc\x0bd\x0ce\rf ") == list("abcdef")


def test_arrow_input_path_matches_pandas():
    # the mapInArrow stage feeds the kernel raw pyarrow arrays — values
    # must match the per-doc spec over the pandas texts on edge cases,
    # slices, and large_string
    texts = pd.Series(["", None, "one", "a b c d e f g", "tok " * 50,
                       "naïve café 🙂 字符", "x" * 9000], dtype=object)
    ref = _spec_sigs(texts)
    arr = pa.array(list(texts), type=pa.string())
    assert np.array_equal(
        _batch_sig_matrix(arr, _BufPool(), CONSTS, NUM_PERM, K), ref)
    assert np.array_equal(
        _batch_sig_matrix(arr.cast(pa.large_string()), _BufPool(),
                          CONSTS, NUM_PERM, K), ref)
    assert np.array_equal(
        _batch_sig_matrix(arr.slice(2, 4), _BufPool(), CONSTS, NUM_PERM, K),
        ref[2:6])
    # slices whose skipped prefix contains NON-EMPTY rows (offs[0] > 0):
    # the ADVICE-r4 bug tokenized the sliced-off bytes as phantom tokens
    # (row 2 'one' does not end in whitespace — the worst case)
    assert np.array_equal(
        _batch_sig_matrix(arr.slice(3, 4), _BufPool(), CONSTS, NUM_PERM, K),
        ref[3:7])
    assert np.array_equal(
        _batch_sig_matrix(arr.slice(5, 2), _BufPool(), CONSTS, NUM_PERM, K),
        ref[5:7])
    assert np.array_equal(
        _batch_sig_matrix(arr.slice(6, 1), _BufPool(), CONSTS, NUM_PERM, K),
        ref[6:7])
