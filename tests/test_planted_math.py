"""Kernel-level proofs for the planted contract queries
(``minhash_clusters_planted`` / ``simhash_pairs_planted``): the
repetition and rotation constructions pin the pipeline outputs by MATH,
and these tests pin the math against the real kernels — no Spark.

Invariant 1 (repetition): for a base of n ≥ k tokens, the k-shingle set
of the m-fold repetition T^m is the n cyclic windows — identical for
every m ≥ 2 — so MinHash signatures (min over the set) are identical
while the byte strings differ. The n < k counterexample below is WHY
the contract pins PLANT_TOKENS ≥ shingle_k.

Invariant 2 (rotation): SimHash is a count-weighted bag-of-tokens
statistic, so token rotation preserves the fingerprint exactly.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from doppel_spark.functions.minhash import (  # noqa: E402
    _BufPool,
    _batch_sig_matrix,
    perm_constants,
)
from doppel_spark.functions.simhash import simhash_arrow_column  # noqa: E402
from minhash_spec import shingle_hashes  # noqa: E402

K = 5  # NearDupConfig.shingle_k default — what the planted queries run


def _base(stem: str, n_tokens: int) -> str:
    return " ".join(f"{stem}w{j}" for j in range(n_tokens))


def _rep(base: str, m: int) -> str:
    return (base + " ") * m


def test_repetition_shingle_sets_identical_when_n_ge_k():
    base = _base("d41d8cd98f00b204e9800998ecf8427e", 12)
    sets = [set(shingle_hashes(_rep(base, m), K).tolist()) for m in (2, 3, 4)]
    assert sets[0] == sets[1] == sets[2]
    # exactly the n cyclic windows, nothing more
    assert len(sets[0]) == 12


def test_repetition_breaks_below_k_tokens():
    # n = 3 < k = 5: T^2 contains only 2 of the 3 cyclic windows, T^3
    # all 3 — the sets DIFFER. This is the constraint PLANT_TOKENS
    # guards; if it ever regressed the planted oracle would not hold.
    base = _base("ff", 3)
    s2 = set(shingle_hashes(_rep(base, 2), K).tolist())
    s3 = set(shingle_hashes(_rep(base, 3), K).tolist())
    assert s2 != s3 and s2 < s3


def test_repetition_signatures_identical_and_cross_group_disjoint():
    consts = perm_constants(128, 42)
    base_a = _base("aaaa", 12)
    base_b = _base("bbbb", 12)
    texts = pa.array([_rep(base_a, 2), _rep(base_a, 3), _rep(base_a, 4),
                      _rep(base_b, 2)])
    sigs = _batch_sig_matrix(texts, _BufPool(), consts, 128, K)
    assert np.array_equal(sigs[0], sigs[1])
    assert np.array_equal(sigs[1], sigs[2])
    # disjoint shingle sets ⇒ agreement is hash-collision noise only
    agree = int((sigs[0] == sigs[3]).sum())
    assert agree <= 2  # far below the 0.7·128 ≈ 90 verification bar
    sa = set(shingle_hashes(_rep(base_a, 2), K).tolist())
    sb = set(shingle_hashes(_rep(base_b, 2), K).tolist())
    assert not (sa & sb)


def test_rotation_simhash_identical_bytes_differ():
    # the signature stage's SimHash kernel, outside Spark — the Spark
    # path is exercised end-to-end by the contract query
    def simhash(text: str) -> int:
        return simhash_arrow_column(pa.array([text]))[0].as_py()

    toks = [f"cafew{j}" for j in range(12)]
    a = " ".join(toks)
    b = " ".join(toks[1:] + toks[:1])
    assert a != b
    assert simhash(a) == simhash(b)
