"""Round-6 optimization equivalence tests.

Every r6 rewrite claims value-identity with the round-5 formulation;
these tests pin each claim against an independent reference
implementation (straight numpy / Python, or the verbatim old Catalyst
expression) so a future edit that breaks the identity fails loudly.
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from doppel_spark.corpus import LANG_STOPWORDS
from doppel_spark.functions import text as TX
from doppel_spark.functions.fingerprint import _BASE, _kgram_hashes
from doppel_spark.functions.minhash import signature_agreement
from doppel_spark.operators.contamination import (
    WS_CLASS,
    word_ngram_count,
    word_ngrams,
)

# ---------------------------------------------------------------------------
# fingerprint: O(n) prefix-polynomial k-gram hashes == direct windowed sum


def _kgram_reference(data: np.ndarray, k: int) -> np.ndarray:
    """The round-5 formulation: explicit (n, k) windowed dot product."""
    n = len(data)
    if n < k:
        return np.zeros(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        weights = np.empty(k, dtype=np.uint64)
        w = np.uint64(1)
        for i in range(k - 1, -1, -1):
            weights[i] = w
            w = w * _BASE
        sw = np.lib.stride_tricks.sliding_window_view(data, k).astype(np.uint64)
        return (sw * weights[None, :]).sum(axis=1, dtype=np.uint64)


@pytest.mark.parametrize("k", [1, 2, 17, 64])
def test_kgram_prefix_polynomial_bit_identical(k):
    rng = np.random.RandomState(7)
    for n in (0, 1, k - 1, k, k + 1, 300, 4096):
        if n < 0:
            continue
        data = rng.randint(0, 256, n).astype(np.uint8)
        ref = _kgram_reference(data, k)
        got = _kgram_hashes(data, k)
        assert got.dtype == np.uint64
        assert got.shape == ref.shape
        assert (got == ref).all()


# ---------------------------------------------------------------------------
# minhash: flat balanced-sum signature agreement == per-position compare


def test_signature_agreement_matches_numpy(spark):
    rng = np.random.RandomState(11)
    num_perm = 128
    rows = []
    expected = []
    for i in range(20):
        a = rng.randint(-(2**31), 2**31 - 1, num_perm).astype("<i4")
        b = a.copy()
        flip = rng.choice(num_perm, size=rng.randint(0, num_perm), replace=False)
        b[flip] = rng.randint(-(2**31), 2**31 - 1, len(flip)).astype("<i4")
        rows.append((i, a.tobytes(), b.tobytes()))
        expected.append(float((a == b).sum()) / num_perm)
    df = spark.createDataFrame(rows, "i long, sa binary, sb binary")
    got = {
        r["i"]: r["agree"]
        for r in df.select(
            "i", signature_agreement("sa", "sb", num_perm)
            .alias("agree")).collect()
    }
    for i, exp in enumerate(expected):
        assert got[i] == pytest.approx(exp, abs=0), (i, got[i], exp)


@pytest.mark.parametrize("num_perm", [4, 80, 128])
def test_signature_agreement_by_name_matches_numpy(spark, num_perm):
    """The one-parse SQL expression, addressed by column name, equals the
    numpy reference — including a name that needs backtick quoting."""
    rng = np.random.RandomState(num_perm)
    rows, expected = [], []
    for i in range(12):
        a = rng.randint(-(2**31), 2**31 - 1, num_perm).astype("<i4")
        b = a.copy()
        flip = rng.choice(num_perm, size=rng.randint(0, num_perm + 1),
                          replace=False)
        b[flip] = rng.randint(-(2**31), 2**31 - 1, len(flip)).astype("<i4")
        rows.append((i, a.tobytes(), b.tobytes()))
        expected.append(float((a == b).sum()) / num_perm)
    df = spark.createDataFrame(rows, "i long, sa binary, sb binary")
    odd = "sig `b`.x y"
    df = df.withColumnRenamed("sb", odd)
    got = {r["i"]: r["agree"] for r in df.select(
        "i", signature_agreement("sa", odd, num_perm).alias("agree")).collect()}
    assert got == {i: exp for i, exp in enumerate(expected)}


# ---------------------------------------------------------------------------
# text: regexp_count token/stopword columns == Python reference on
# adversarial strings (adjacent stopwords, prefix traps, odd whitespace)

_EDGE_TEXTS = [
    None, "", " ", "   \t\n  ", "the", " the", "the ", "\tthe\n",
    "the the the", "them theory la las", "a the a the a",
    "the  and   of", "the\nand\x0bof\x0cto\rin", "of of of",
    "la the",  # NBSP is a token byte under \s semantics? (Java \s: no)
    "der die und das ist nicht mit ein",
    "il la che di non una per sono", "x" * 100,
    "a.b,c!?;:d", "Привет мир 世界 hello the",
]


def _py_tokens(t: str) -> list[str]:
    # Java \s == [ \t\n\x0b\f\r]; Python re \s additionally matches
    # Unicode spaces unless re.ASCII... use the explicit class
    return [x for x in re.split(r"[ \t\n\x0b\f\r]+", t) if x != ""]


def _py_stop_hits(t: str, words) -> int:
    ws = set(words)
    return sum(1 for tok in _py_tokens(t) if tok in ws)


def test_regexp_token_and_stopword_counts_match_python(spark):
    rows = [(i, t) for i, t in enumerate(_EDGE_TEXTS)]
    df = spark.createDataFrame(rows, "i long, text string")
    out = df.select(
        "i", "text",
        TX.token_count("text").alias("tc"),
        *[TX.stopword_hits("text", lg).alias(f"h_{lg}")
          for lg in LANG_STOPWORDS],
        TX.any_stopword_hits("text").alias("h_any"),
        TX.lang_id("text").alias("lang"),
    ).collect()
    allst = set(TX.ALL_STOPWORDS)
    for r in out:
        t = r["text"]
        if t is None:
            assert r["tc"] is None
            assert r["lang"] == "und"
            continue
        toks = _py_tokens(t)
        assert r["tc"] == len(toks), (t, r["tc"])
        hits = {}
        for lg, words in LANG_STOPWORDS.items():
            hits[lg] = _py_stop_hits(t, words)
            assert r[f"h_{lg}"] == hits[lg], (t, lg, r[f"h_{lg}"], hits[lg])
        assert r["h_any"] == sum(1 for tok in toks if tok in allst)
        best = max(hits.values()) if hits else 0
        exp = "und"
        if best > 0:
            exp = next(lg for lg in LANG_STOPWORDS if hits[lg] == best)
        assert r["lang"] == exp, (t, r["lang"], exp)


# ---------------------------------------------------------------------------
# contamination: let-bound word_ngrams values + arithmetic count


def _py_ngrams(t: str, n: int) -> list[str]:
    toks = [x for x in re.split(WS_CLASS, t.lower()) if x != ""]
    if len(toks) < n:
        return []
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


@pytest.mark.parametrize("n", [1, 2, 8])
def test_word_ngrams_letbound_values_match_python(spark, n):
    texts = [t for t in _EDGE_TEXTS if t is not None] + [
        "one two three four five six seven eight nine ten",
        "  pad  ded   tokens joined ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    out = df.select("i", "text",
                    word_ngrams("text", n).alias("g"),
                    word_ngram_count("text", n).alias("c")).collect()
    for r in out:
        exp = _py_ngrams(r["text"], n)
        assert list(r["g"]) == exp, (n, r["text"], r["g"], exp)
        assert r["c"] == len(exp)


# ---------------------------------------------------------------------------
# connected components: explode-based symmetrization + lazy cut policy


def test_cc_orientation_and_duplicate_invariance(spark, new_mat):
    """The r6 symmetrization builds (u,v)+(v,u) from ONE scan of the
    edge list via explode; components must be invariant to edge
    orientation and to duplicated edges (distinct() semantics)."""
    from doppel_spark.operators.components import connected_components

    fwd = [("a", "b"), ("b", "c"), ("x", "y")]
    rev = [(b, a) for a, b in fwd]
    dup = fwd + fwd + rev
    outs = []
    for rows in (fwd, rev, dup):
        df = spark.createDataFrame(rows, "url_a string, url_b string")
        cc = connected_components(df, mat=new_mat())
        outs.append(sorted((r["url"], r["cluster_rep"], r["cluster_id"])
                           for r in cc.collect()))
    assert outs[0] == outs[1] == outs[2]
    assert {(u, rep) for u, rep, _ in outs[0]} == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


@pytest.mark.parametrize("use_simhash", [False, True])
def test_neardup_pipeline_materialization_policies_identical(
        spark, tmp_path, use_simhash):
    """The r6 lazy persist fills (cut force=False) apply only in local
    persist mode; table mode always writes eagerly, and the durable
    policy publishes every cut as a checkpoint stage. All three must
    produce identical pairs and clusters, with and without the SimHash
    union (whose fingerprints ride in the sigs cut and whose block
    membership is cut by the same materializer) — this pins the
    materialization policy to value identity."""
    from doppel_spark.checkpoint import CheckpointStore
    from doppel_spark.config import NearDupConfig
    from doppel_spark.corpus import synth_pages
    from doppel_spark.operators.neardup import near_dup_pipeline
    from doppel_spark.operators.stage import StageMaterializer

    pages = synth_pages(spark, 300)
    mats = {
        "persist": StageMaterializer(spark, mode="persist", prefix="neardup"),
        "table": StageMaterializer(spark, mode="table", prefix="neardup"),
        "durable": StageMaterializer(
            spark, mode="persist", prefix="neardup",
            store=CheckpointStore(spark, str(tmp_path / "ckpt"))),
    }
    outs = {}
    for mode, mat in mats.items():
        res = near_dup_pipeline(pages, NearDupConfig(),
                                use_simhash=use_simhash, mat=mat)
        pairs = sorted((r["url_a"], r["url_b"])
                       for r in res.pairs.select("url_a", "url_b").collect())
        clusters = sorted((r["url"], r["cluster_rep"])
                          for r in res.clusters.collect())
        outs[mode] = (pairs, clusters)
        res.cleanup()
    assert outs["persist"] == outs["table"] == outs["durable"]
    assert len(outs["persist"][0]) > 0  # non-vacuous: the plant has dup pairs
