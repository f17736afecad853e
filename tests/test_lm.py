"""Unigram-LM quality scoring (CCNet-style): hand-computed tiny-corpus
values, exact tercile cutoffs, and the no-row-Python plan gate."""

from __future__ import annotations

import math
import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from doppel_spark.operators.lm import (  # noqa: E402
    _lm_from_counts,
    _per_doc_token_counts,
    bucket_label,
    ccnet_buckets,
    doc_xent,
    tercile_thresholds,
)
from doppel_spark.plans.inspect import assert_no_row_python  # noqa: E402


def _corpus(spark):
    # token occurrences: a ×4, b ×2, c ×1, d ×1 → total 8
    rows = [(1, "a a b"), (2, "a b c"), (3, "a d"), (4, "")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _lpm(n, total):
    return math.floor(-1_000_000 * math.log(n / total))


def _train(df):
    """The model ``doc_xent`` trains on its own input."""
    return _lm_from_counts(_per_doc_token_counts(df, "doc_id", "text"))


def test_unigram_lm_hand_values(spark):
    lm = {r["token"]: r for r in _train(_corpus(spark)).collect()}
    assert {t: r["n"] for t, r in lm.items()} == {"a": 4, "b": 2, "c": 1, "d": 1}
    for t, n in [("a", 4), ("b", 2), ("c", 1), ("d", 1)]:
        assert lm[t]["lpm"] == _lpm(n, 8)


def test_doc_xent_hand_values(spark):
    df = _corpus(spark)
    out = {r["doc_id"]: r for r in doc_xent(df).collect()}
    la, lb, lc, ld = (_lpm(n, 8) for n in (4, 2, 1, 1))
    assert out[1]["sum_lpm"] == 2 * la + lb and out[1]["n_tokens"] == 3
    assert out[1]["xent_micros"] == (2 * la + lb) // 3
    assert out[2]["sum_lpm"] == la + lb + lc
    assert out[3]["sum_lpm"] == la + ld and out[3]["n_tokens"] == 2
    # token-less docs are kept with a NULL score, zero counts
    assert out[4]["n_tokens"] == 0 and out[4]["sum_lpm"] == 0
    assert out[4]["xent_micros"] is None


def test_tercile_thresholds_exact(spark):
    # scores 1..9, one each: ceil(9/3)=3 → t1=3; ceil(18/3)=6 → t2=6
    scores = spark.createDataFrame(
        [(i, i) for i in range(1, 10)] + [(99, None)],
        "doc_id long, xent_micros long")
    th = tercile_thresholds(scores).collect()[0]
    assert (th["t1"], th["t2"]) == (3, 6)
    lab = scores.select(
        "doc_id",
        bucket_label("xent_micros", F.lit(th["t1"]), F.lit(th["t2"])))
    got = {r["doc_id"]: r["bucket"] for r in lab.collect()}
    assert [got[i] for i in range(1, 10)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3)
    assert got[99] is None  # NULL score → NULL bucket, never 'tail'


def test_tercile_thresholds_with_ties(spark):
    # 6 values: 5,5,5,7,7,9 → ceil(6/3)=2 ⇒ t1=5 (cum@5=3≥2);
    # ceil(12/3)=4 ⇒ t2=7 (cum@7=5≥4)
    scores = spark.createDataFrame(
        [(i, v) for i, v in enumerate([5, 5, 5, 7, 7, 9])],
        "doc_id long, xent_micros long")
    th = tercile_thresholds(scores).collect()[0]
    assert (th["t1"], th["t2"]) == (5, 7)


def test_ccnet_buckets_composition(spark):
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    b = ccnet_buckets(docs)
    assert_no_row_python(b)  # whole chain stays JVM-side
    counts = {r["bucket"]: r["n"] for r in
              b.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    n = docs.count()
    assert sum(counts.values()) == n
    # disc-terciles: head ≥ ceil(n/3), and no bucket can exceed the
    # cumulative bound of its cutoff
    assert counts["head"] >= (n + 2) // 3
    assert counts["head"] + counts.get("middle", 0) >= (2 * n + 2) // 3
    # scores of head ≤ scores of middle ≤ scores of tail
    rng = {r["bucket"]: (r["lo"], r["hi"]) for r in
           b.groupBy("bucket").agg(F.min("xent_micros").alias("lo"),
                                   F.max("xent_micros").alias("hi"))
           .collect()}
    if "middle" in rng:
        assert rng["head"][1] <= rng["middle"][0]
        if "tail" in rng:
            assert rng["middle"][1] <= rng["tail"][0]
