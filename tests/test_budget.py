"""Token-budget prefix cut (operators/budget.py) + keep_best policy."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from doppel_spark.functions.splits import BUCKETS
from doppel_spark.functions.text import token_count
from doppel_spark.operators.budget import (
    BUDGET_SEED,
    token_budget_sample,
)
from doppel_spark.operators.dedup import keep_best


def _bucket(key, seed=BUDGET_SEED) -> int:
    """Python mirror of splits.uniform_bucket (md5 top-15-hex % 1e6)."""
    h = hashlib.md5(f"{seed}:{key}".encode()).hexdigest()
    return int(h[:15], 16) % BUCKETS


@pytest.fixture()
def corpus(spark):
    # doc i has exactly i+1 whitespace tokens; total = 210 tokens
    rows = [(i, " ".join(["tok"] * (i + 1))) for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _expected_prefix(budget: int) -> set[int]:
    order = sorted(range(20), key=lambda i: (_bucket(i), i))
    out, cum = set(), 0
    for i in order:
        cum += i + 1
        if cum > budget:
            break
        out.add(i)
    return out


@pytest.mark.parametrize("blocks", [1, 4, 1024])
def test_exact_prefix_semantics(spark, corpus, blocks, new_mat):
    for budget in (0, 1, 57, 100, 209):
        got = {
            r["doc_id"]
            for r in token_budget_sample(
                corpus, budget, token_count("text"), blocks=blocks,
                mat=new_mat()).collect()
        }
        assert got == _expected_prefix(budget), (budget, blocks)


def test_budget_covers_everything(spark, corpus, new_mat):
    got = token_budget_sample(corpus, 210, token_count("text"),
                              mat=new_mat()).collect()
    assert len(got) == 20  # whole corpus fits exactly
    assert set(got[0].asDict()) == {"doc_id", "text"}  # full width


def test_deterministic_under_repartition(spark, corpus, new_mat):
    a = sorted(r["doc_id"] for r in token_budget_sample(
        corpus, 100, token_count("text"), mat=new_mat()).collect())
    b = sorted(r["doc_id"] for r in token_budget_sample(
        corpus.repartition(7), 100, token_count("text"),
        mat=new_mat()).collect())
    assert a == b


def test_null_tokens_count_zero(spark, new_mat):
    df = spark.createDataFrame(
        [(1, None), (2, "a b")], "doc_id long, text string")
    # budget 0: the null-text doc (0 tokens) survives iff it precedes
    # the 2-token doc in bucket order AND contributes 0 to the cumsum
    got = {r["doc_id"] for r in
           token_budget_sample(df, 0, token_count("text"),
                               mat=new_mat()).collect()}
    expect = {1} if (_bucket(1), 1) < (_bucket(2), 2) else set()
    assert got == expect


def test_budget_validation(spark, corpus, new_mat):
    with pytest.raises(ValueError):
        token_budget_sample(corpus, -1, token_count("text"), mat=new_mat())
    with pytest.raises(ValueError):
        token_budget_sample(corpus, 5, token_count("text"), blocks=0,
                            mat=new_mat())


@pytest.fixture()
def scored(spark):
    # two clusters; c1's best score is doc 3, c2 has a score tie (docs
    # 10 & 11 both 7.0) broken by min id
    rows = [(1, "c1", 5.0), (2, "c1", 2.0), (3, "c1", 9.0),
            (10, "c2", 7.0), (11, "c2", 7.0), (12, "c2", 1.0)]
    return spark.createDataFrame(rows, "id long, cluster string, score double")


def test_keep_best_argmax_and_ties(spark, scored):
    got = sorted(r["id"] for r in
                 keep_best(scored, "cluster", "score", id_col="id").collect())
    assert got == [3, 10]
    # full-width rows returned
    cols = set(keep_best(scored, "cluster", "score", id_col="id").columns)
    assert cols == {"id", "cluster", "score"}


def test_keep_best_accepts_expressions(spark, scored):
    # cluster/score as column EXPRESSIONS (the contract-query usage)
    got = sorted(r["id"] for r in keep_best(
        scored, F.col("cluster"), F.col("score") * -1, id_col="id"
    ).collect())
    assert got == [2, 12]  # inverted score flips the winners


def test_keep_best_null_scores_lose(spark):
    df = spark.createDataFrame(
        [(1, "c", None), (2, "c", 0.5)], "id long, cluster string, score double")
    got = [r["id"] for r in keep_best(df, "cluster", "score", id_col="id").collect()]
    assert got == [2]


def _py_pack(rows, budget):
    """Pure-Python greedy reference: rows = [(id, order_key, tokens)]."""
    out = {}
    seq = running = pos = 0
    for rid, _, t in sorted(rows, key=lambda r: (r[1], r[0])):
        if running > 0 and running + t > budget:
            seq += 1
            running = pos = 0
        running += t
        out[rid] = (seq, pos)
        pos += 1
    return out


def test_pack_sequences_matches_python_reference(spark):
    from doppel_spark.functions.splits import assign_shards
    from doppel_spark.operators.budget import pack_sequences

    # token lengths spanning multi-doc sequences AND oversize singletons
    docs = spark.createDataFrame(
        [(i, 400 if i % 17 == 0 else (i * 37) % 90 + 5) for i in range(200)],
        "doc_id long, n_tokens long")
    got = {r.doc_id: (r.shard, r.seq_id, r.seq_pos, r.n_tokens)
           for r in pack_sequences(docs, 128, 4, F.col("n_tokens"),
                                   seed="pk1").collect()}
    assert len(got) == 200
    layout = {(r.doc_id): (r.shard, r.order_key, r.n_tokens)
              for r in assign_shards(docs, 4, "doc_id", seed="pk1").collect()}
    by_shard = {}
    for rid, (s, o, t) in layout.items():
        by_shard.setdefault(s, []).append((rid, o, t))
    for s, rows in by_shard.items():
        ref = _py_pack(rows, 128)
        for rid, (seq, pos) in ref.items():
            assert got[rid] == (s, seq, pos, dict(
                (r, t) for r, _, t in rows)[rid]), f"doc {rid} shard {s}"
    # invariants: no multi-doc sequence exceeds the budget
    totals = {}
    for rid, (s, seq, pos, t) in got.items():
        totals.setdefault((s, seq), []).append(t)
    for k, ts in totals.items():
        assert sum(ts) <= 128 or len(ts) == 1, k


def test_pack_sequences_validates_budget(spark):
    from doppel_spark.operators.budget import pack_sequences

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="budget_tokens"):
        pack_sequences(df, 0, 2, F.lit(1), id_col="doc_id")
