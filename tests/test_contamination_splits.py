"""Eval-set decontamination + deterministic splits/sampling.

Hand-built corpora with answers known by construction: gram overlap
counts, drop-on-overlap filtering, hashed-vs-exact agreement, split
disjointness/exhaustiveness/stability, per-stratum sampling.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from doppel_spark.functions.splits import (  # noqa: E402
    BUCKETS,
    assign_split,
    stratified_sample,
    uniform_bucket,
)
from doppel_spark.operators.contamination import (  # noqa: E402
    contamination_report,
    decontaminate,
    eval_ngrams,
    fuzzy_contamination_pairs,
    fuzzy_decontaminate,
    word_ngrams,
)


# ---------------------------------------------------------------------------
# contamination

def _corpus(spark):
    # doc 1 contains the eval gram "the quick brown fox" TWICE
    # doc 2 contains it once, uppercased (lowercase normalization)
    # doc 3 clean; doc 4 too short to have any 4-gram
    rows = [
        (1, "say the quick brown fox and the quick brown fox again"),
        (2, "The QUICK Brown Fox jumps"),
        (3, "completely unrelated words here live peacefully"),
        (4, "too short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _eval_df(spark):
    return spark.createDataFrame(
        [("the quick brown fox",), ("held out benchmark answer",)],
        "text string")


def test_word_ngrams_edges(spark):
    df = spark.createDataFrame([("a b\t c",), ("x",), ("",)], "text string")
    got = df.select(word_ngrams("text", 2).alias("g")).collect()
    assert got[0]["g"] == ["a b", "b c"]
    assert got[1]["g"] == []
    assert got[2]["g"] == []
    with pytest.raises(ValueError):
        word_ngrams("text", 0)


def test_contamination_report_counts(spark):
    rep = {r["doc_id"]: r for r in contamination_report(
        _corpus(spark), _eval_df(spark), n=4).collect()}
    assert rep[1]["n_hits"] == 2 and rep[1]["n_distinct_hits"] == 1
    assert rep[1]["is_contaminated"]
    assert rep[2]["n_hits"] == 1  # lowercase normalization catches it
    assert rep[3]["n_hits"] == 0 and not rep[3]["is_contaminated"]
    assert rep[4]["n_grams"] == 0 and rep[4]["n_hits"] == 0
    # n_grams = tokens - n + 1
    assert rep[1]["n_grams"] == 11 - 4 + 1
    assert len(rep) == 4  # one row per corpus doc, hits or not


def test_decontaminate_drops_exactly_the_overlapping(spark):
    kept = sorted(r["doc_id"] for r in decontaminate(
        _corpus(spark), _eval_df(spark), n=4).collect())
    assert kept == [3, 4]


def test_hashed_mode_matches_exact(spark):
    exact = contamination_report(_corpus(spark), _eval_df(spark), n=4)
    hashed = contamination_report(_corpus(spark), _eval_df(spark), n=4,
                                  hashed=True)
    assert sorted(map(tuple, exact.collect())) == \
        sorted(map(tuple, hashed.collect()))


def test_precomputed_gram_frame_accepted(spark):
    grams = eval_ngrams(_eval_df(spark), n=4)
    assert grams.columns == ["gram"]
    rep = {r["doc_id"]: r["n_hits"] for r in contamination_report(
        _corpus(spark), grams, n=4).collect()}
    assert rep[1] == 2


# ---------------------------------------------------------------------------
# splits / sampling

def test_uniform_bucket_matches_python_md5(spark):
    df = spark.createDataFrame([(7,), (42,)], "doc_id long")
    got = {r["doc_id"]: r["bucket"] for r in df.select(
        "doc_id", uniform_bucket("doc_id", "s1")).collect()}
    for k in (7, 42):
        h = int(hashlib.md5(f"s1:{k}".encode()).hexdigest()[:15], 16)
        assert got[k] == h % BUCKETS


def test_assign_split_disjoint_exhaustive_stable(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "valid": 0.1, "test": 0.1}
    out = df.select("doc_id", assign_split("doc_id", w, seed="v1"))
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000  # exhaustive (and disjoint: 1 row/doc)
    assert counts["train"] > counts["valid"] > 0 and counts["test"] > 0
    # stable under repartitioning
    again = df.repartition(7).select("doc_id", assign_split("doc_id", w, "v1"))
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, again.collect()))
    # different seed ⇒ different assignment (overwhelmingly)
    other = df.select("doc_id", assign_split("doc_id", w, seed="v2"))
    assert sorted(map(tuple, out.collect())) != \
        sorted(map(tuple, other.collect()))


def test_assign_split_validates(spark):
    with pytest.raises(ValueError):
        assign_split("doc_id", {})
    with pytest.raises(ValueError):
        assign_split("doc_id", {"a": 1.0, "b": -0.1})


def test_stratified_sample_per_stratum(spark):
    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de").otherwise("fr").alias("lang"))
    out = stratified_sample(df, {"en": 1.0, "de": 0.3}, "doc_id", by="lang")
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["en"] == 1000          # fraction 1.0 keeps the stratum
    assert 200 < counts.get("de", 0) < 400
    assert "fr" not in counts            # absent stratum dropped


# ---------------------------------------------------------------------------
# fuzzy (MinHash) contamination

def _fuzzy_fixtures(spark):
    """Corpus/eval pair with hits pinned by the repetition invariant:
    identical shingle sets for (base×2, base×3) ⇒ agreement 1.0."""
    base = {i: " ".join(f"s{i}w{j}" for j in range(12)) for i in range(6)}
    # corpus: docs 0-3 are 2-fold repetitions; docs 4-5 unique stems
    corpus = spark.createDataFrame(
        [(f"c{i}", (base[i] + " ") * 2) for i in range(4)]
        + [(f"c{i}", base[i]) for i in (4, 5)],
        "doc_id string, text string")
    # eval: docs 0-2 are 3-fold repetitions of corpus stems (hits);
    # doc 9 a stem the corpus never saw (must flag nothing)
    evl = spark.createDataFrame(
        [(f"e{i}", (base[i] + " ") * 3) for i in range(3)]
        + [("e9", " ".join(f"zzz{j}" for j in range(12)))],
        "eval_id string, text string")
    return corpus, evl


def test_fuzzy_contamination_pairs_planted(spark, new_mat):
    corpus, evl = _fuzzy_fixtures(spark)
    got = sorted(
        (r["doc_id"], r["eval_id"], r["jaccard_est"])
        for r in fuzzy_contamination_pairs(corpus, evl,
                                           mat=new_mat()).collect())
    assert got == [("c0", "e0", 1.0), ("c1", "e1", 1.0), ("c2", "e2", 1.0)]


def test_fuzzy_decontaminate_drops_only_flagged(spark, new_mat):
    corpus, evl = _fuzzy_fixtures(spark)
    kept_df = fuzzy_decontaminate(corpus, evl, mat=new_mat())
    kept = sorted(r["doc_id"] for r in kept_df.collect())
    assert kept == ["c3", "c4", "c5"]
    # full-width rows survive
    assert set(kept_df.columns) == {"doc_id", "text"}


def test_fuzzy_contamination_empty_eval(spark, new_mat):
    corpus, _ = _fuzzy_fixtures(spark)
    empty = spark.createDataFrame([], "eval_id string, text string")
    assert fuzzy_contamination_pairs(corpus, empty,
                                     mat=new_mat()).count() == 0
    assert fuzzy_decontaminate(corpus, empty,
                               mat=new_mat()).count() == corpus.count()


def test_assign_shards_deterministic_and_in_range(spark):
    from doppel_spark.functions.splits import assign_shards

    df = spark.range(500).withColumnRenamed("id", "k")
    a = {(r.k, r.shard, r.order_key)
         for r in assign_shards(df, 8, "k", seed="s1").collect()}
    b = {(r.k, r.shard, r.order_key)
         for r in assign_shards(df.repartition(7), 8, "k", seed="s1").collect()}
    assert a == b  # partitioning-independent
    assert all(0 <= s < 8 for _, s, _ in a)
    assert len({s for _, s, _ in a}) == 8  # all shards populated
    # order_key is an independent hash: not constant per shard
    per_shard = {}
    for _, s, o in a:
        per_shard.setdefault(s, set()).add(o)
    assert all(len(v) > 1 for v in per_shard.values())
    with pytest.raises(ValueError, match="n_shards"):
        assign_shards(df, 0, "k")


def test_write_training_shards_layout(spark, tmp_path):
    from doppel_spark.functions.splits import (assign_shards,
                                               write_training_shards)

    df = spark.range(300).withColumnRenamed("id", "k")
    out = str(tmp_path / "shards")
    write_training_shards(df, out, 4, "k", seed="s2")
    import os
    for s in range(4):
        d = os.path.join(out, f"shard={s}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1  # a shard is exactly one file
    got = spark.read.parquet(out)
    # every row present once, in-file order follows order_key
    assert got.count() == 300
    expect = assign_shards(df, 4, "k", seed="s2")
    assert ({(r.k, int(r.shard)) for r in got.collect()}
            == {(r.k, r.shard) for r in expect.collect()})
    import pandas as pd  # noqa: F401  (pyarrow read keeps file order)
    for s in range(4):
        pdf = spark.read.parquet(os.path.join(out, f"shard={s}")).toPandas()
        ks = list(pdf["order_key"])
        assert ks == sorted(ks)
