"""Similarity search: brute-force top-k, sign-LSH ANN, embedding near-dup."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from doppel_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    embedding_neardup_pairs,
    lsh_ann_topk,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _np_topk(pdf, qid, k):
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in pdf.itertuples()}
    q = vecs[qid]
    sims = sorted(
        ((np.dot(v, q) / (np.linalg.norm(v) * np.linalg.norm(q)), i)
         for i, v in vecs.items() if i != qid),
        key=lambda t: (-t[0], t[1]),
    )
    return [i for _, i in sims[:k]]


def test_cosine_column(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])],
                               "a array<double>, b array<double>")
    got = [r[0] for r in df.select(cosine(F.col("a"), F.col("b"))).collect()]
    assert got[0] == pytest.approx(0.0)
    assert got[1] == pytest.approx(1.0)


def test_brute_force_topk_matches_numpy(spark):
    emb = spark.read.parquet(EMB)
    pdf = emb.toPandas()
    got = brute_force_topk(emb, [0, 7], k=5).toPandas()
    for qid in (0, 7):
        mine = got[got.query_id == qid].sort_values("rank")["neighbor_id"].tolist()
        assert mine == _np_topk(pdf, qid, 5)


def test_lsh_ann_recall_reasonable(spark):
    emb = spark.read.parquet(EMB)
    qids = [0, 1, 2, 3, 4]
    exact = brute_force_topk(emb, qids, k=10).toPandas()
    approx = lsh_ann_topk(emb, qids, k=10, n_planes=8, probe_hamming=3,
                          dim=64).toPandas()
    e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    a = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
    recall = len(e & a) / len(e)
    # random-embedding neighbors are weakly correlated (cos≈0.4 ⇒ ~37%
    # per-plane disagreement ⇒ E[hamming]≈3/8); blocked search trades
    # recall for cost — requires only sanity here, planted-cluster
    # recall is asserted in test_embedding_neardup_planted
    assert recall >= 0.35
    assert len(a) > 0


def test_embedding_neardup_planted(spark, new_mat):
    rng = np.random.RandomState(0)
    base = rng.standard_normal((20, 16))
    rows = [(i, base[i].tolist()) for i in range(20)]
    rows.append((100, (base[3] + rng.standard_normal(16) * 0.01).tolist()))  # near-dup of 3
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bf = embedding_neardup_pairs(emb, threshold=0.95, brute_force=True).collect()
    assert {(r["id_a"], r["id_b"]) for r in bf} == {(3, 100)}
    lsh = embedding_neardup_pairs(emb, threshold=0.95, dim=16,
                                  mat=new_mat()).collect()
    assert {(r["id_a"], r["id_b"]) for r in lsh} == {(3, 100)}


def test_embedding_neardup_banded_recall_and_plan(spark, new_mat):
    # 60 planted near-dup pairs; banded sign-LSH must recover >= 0.95 of
    # what brute force finds, with NO cartesian/nested-loop join in plan
    from doppel_spark.plans.inspect import physical_plan

    rng = np.random.RandomState(7)
    base = rng.standard_normal((60, 32))
    rows = [(i, base[i].tolist()) for i in range(60)]
    rows += [(1000 + i, (base[i] + rng.standard_normal(32) * 0.02).tolist())
             for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bf = {(r["id_a"], r["id_b"])
          for r in embedding_neardup_pairs(emb, 0.95, brute_force=True).collect()}
    lsh_df = embedding_neardup_pairs(emb, 0.95, bands=24, rows_per_band=16,
                                     dim=32, mat=new_mat())
    lsh = {(r["id_a"], r["id_b"]) for r in lsh_df.collect()}
    assert len(bf) >= 50
    assert len(lsh & bf) / len(bf) >= 0.95
    assert lsh - bf == set()  # cosine verify ⇒ no false positives
    plan = physical_plan(lsh_df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_ann_topk_probe_join_plan(spark):
    from doppel_spark.plans.inspect import physical_plan

    emb = spark.read.parquet(EMB)
    df = lsh_ann_topk(emb, [0, 1], k=5, n_planes=8, probe_hamming=2, dim=64)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_topk_recall_values_and_gate(spark):
    from doppel_spark.operators.similarity import topk_recall

    exact = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2), (1, 3, 1), (1, 4, 2)],
        "query_id long, neighbor_id long, rank long")
    # approx misses neighbor 4 for query 1 → recall 0.5 there
    approx = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2), (1, 3, 1), (1, 9, 2)],
        "query_id long, neighbor_id long, rank long")
    rows = {r["query_id"]: r for r in topk_recall(approx, exact).collect()}
    assert rows[0]["recall_micros"] == 1_000_000
    assert rows[1]["recall_micros"] == 500_000
    assert rows[1]["n_true"] == 2 and rows[1]["n_hit"] == 1
    # floor above the worst query ⇒ EXECUTING the gated frame raises —
    # the assertion lives in the plan, not in driver-side test code
    gated = topk_recall(approx, exact, floor_micros=900_000)
    with pytest.raises(Exception, match="recall below floor"):
        gated.collect()
    # floor below the worst query ⇒ all rows come through unharmed
    ok = topk_recall(approx, exact, floor_micros=400_000)
    assert ok.count() == 2


def test_similarity_entry_points_require_dim(spark):
    # no driver-side .first() probe at plan build: dim is mandatory
    emb = spark.read.parquet(EMB)
    with pytest.raises(ValueError, match="requires dim"):
        lsh_ann_topk(emb, [0], k=5)
    with pytest.raises(ValueError, match="requires dim"):
        embedding_neardup_pairs(emb, threshold=0.95)


def test_embedding_neardup_lsh_requires_mat(spark):
    # the caller owns the materializer: the LSH path never builds one
    emb = spark.read.parquet(EMB)
    with pytest.raises(ValueError, match="requires mat"):
        embedding_neardup_pairs(emb, threshold=0.95, dim=64)


def _onehot_emb(spark, groups=8, members=3, dim=16):
    base = spark.range(groups * members).select(
        (F.col("id") / members).cast("long").alias("g"),
        (F.col("id") % members).alias("m"))
    return base.select(
        (F.col("g") * 100 + F.col("m")).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.when(j == F.col("g"), (F.col("m") + 1).cast("float"))
            .otherwise(F.lit(0.0).cast("float")),
        ).alias("embedding"))


def test_semantic_dedup_pinned_clusters(spark, new_mat):
    from doppel_spark.operators.similarity import semantic_dedup

    got = {(r.vec_id, r.cluster_rep, r.keep)
           for r in semantic_dedup(_onehot_emb(spark), threshold=0.95,
                                   dim=16, mat=new_mat()).collect()}
    want = {(g * 100 + m, g * 100, m == 0)
            for g in range(8) for m in range(3)}
    assert got == want


def test_semantic_dedup_brute_matches_lsh_and_singletons(spark, new_mat):
    from doppel_spark.operators.similarity import semantic_dedup

    # drop two groups to one member each — they must come back as
    # singleton keepers on both paths, and the paths must agree
    emb = _onehot_emb(spark).filter(
        ~((F.col("vec_id") >= 600) & (F.col("vec_id") % 100 > 0)))
    lsh = {tuple(r) for r in semantic_dedup(emb, threshold=0.95, dim=16,
                                            mat=new_mat()).collect()}
    brute = {tuple(r) for r in semantic_dedup(emb, threshold=0.95,
                                              brute_force=True,
                                              mat=new_mat()).collect()}
    assert lsh == brute
    assert (600, 600, True) in lsh and (700, 700, True) in lsh
