"""Near-dup tier: MinHash accuracy, LSH recall on planted clusters,
SimHash, connected components, skew caps."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from doppel_spark.config import NearDupConfig
from doppel_spark.corpus import CorpusLayout, planted_pairs, synth_pages
from doppel_spark.functions.minhash import (
    exact_jaccard_udf,
    shingle_set,
    signature_agreement,
)
from doppel_spark.functions.simhash import simhash_near_pairs
from doppel_spark.operators.components import connected_components
from doppel_spark.operators.lsh import (
    band_keys,
    lsh_bucket_stats,
    pairs_from_buckets,
    signature_stage,
)
from doppel_spark.operators.neardup import near_dup_pipeline
from doppel_spark.operators.stage import StageMaterializer

CFG = NearDupConfig()


def test_shingles():
    assert shingle_set("a b c d e f", 5) == sorted({"a b c d e", "b c d e f"}) or \
        set(shingle_set("a b c d e f", 5)) == {"a b c d e", "b c d e f"}
    assert set(shingle_set("a b", 5)) == {"a", "b"}
    assert shingle_set("", 5) == [""]


def test_minhash_identical_texts_identical_signatures(spark):
    df = spark.createDataFrame([("a", "x y z w v u t s"), ("b", "x y z w v u t s")],
                               "url string, text string")
    sigs = signature_stage(df, CFG).select("url", "signature").collect()
    s = {r["url"]: r["signature"] for r in sigs}
    assert s["a"] == s["b"]
    # binary-packed: num_perm little-endian int32 cells
    assert len(s["a"]) == 4 * CFG.num_perm
    assert np.frombuffer(s["a"], "<i4").shape == (CFG.num_perm,)


def test_minhash_estimates_jaccard(spark):
    # two texts with known shingle overlap: J ≈ agreement fraction ± est. noise
    base = [f"t{i}" for i in range(200)]
    mod = base[:160] + [f"z{i}" for i in range(40)]  # tail replaced
    df = spark.createDataFrame(
        [("a", " ".join(base)), ("b", " ".join(mod))], "url string, text string")
    sigs = signature_stage(df, CFG)
    a = np.frombuffer(sigs.filter("url='a'").select("signature").collect()[0][0], "<i4")
    b = np.frombuffer(sigs.filter("url='b'").select("signature").collect()[0][0], "<i4")
    est = sum(x == y for x, y in zip(a, b)) / CFG.num_perm
    jac = exact_jaccard_udf(5)
    true_j = (
        df.groupBy().pivot("url").agg(F.first("text"))
        .select(jac(F.col("a"), F.col("b")).alias("j")).collect()[0]["j"]
    )
    assert abs(est - true_j) < 0.15
    assert 0.5 < true_j < 0.9  # sanity of the construction


def test_signature_agreement_column(spark):
    import numpy as np

    sa = np.array([1, 2, 3, 4], dtype="<i4").tobytes()
    sb = np.array([1, 2, 9, 4], dtype="<i4").tobytes()
    df = spark.createDataFrame([(sa, sb)], "sa binary, sb binary")
    got = df.select(signature_agreement("sa", "sb", 4).alias("j")) \
            .collect()[0]["j"]
    assert got == pytest.approx(0.75)


def test_pairs_from_buckets_all_pairs_and_star(spark, new_mat):
    rows = [(1, "u1"), (1, "u2"), (1, "u3"), (2, "u4")]
    df = spark.createDataFrame(rows, "k int, url string")
    pairs = {(r["url_a"], r["url_b"])
             for r in pairs_from_buckets(df, ["k"], bucket_cap=10,
                                          mat=new_mat()).collect()}
    assert pairs == {("u1", "u2"), ("u1", "u3"), ("u2", "u3")}
    star = {(r["url_a"], r["url_b"])
            for r in pairs_from_buckets(df, ["k"], bucket_cap=2,
                                          mat=new_mat()).collect()}
    assert star == {("u1", "u2"), ("u1", "u3")}  # star around min id


def test_connected_components_chain_and_determinism(spark, new_mat):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "url_a string, url_b string")
    cc = connected_components(edges, mat=new_mat()).collect()
    by_node = {r["url"]: r["cluster_rep"] for r in cc}
    assert by_node == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    ids = {r["url"]: r["cluster_id"] for r in cc}
    assert ids["a"] == ids["b"] == ids["c"] != ids["x"]


def test_connected_components_long_chain(spark, new_mat):
    # diameter > 1 iteration: 8-node path
    nodes = [f"n{i}" for i in range(9)]
    edges = spark.createDataFrame(
        list(zip(nodes, nodes[1:])), "url_a string, url_b string")
    cc = connected_components(edges, mat=new_mat())
    assert cc.select("cluster_rep").distinct().count() == 1
    assert cc.count() == 9


def test_lsh_recall_on_planted_corpus(spark):
    n = 400
    pages = synth_pages(spark, n).cache()
    res = near_dup_pipeline(pages, CFG)
    found = {(min(a, b), max(a, b))
             for a, b in res.pairs.select("url_a", "url_b").toPandas().itertuples(index=False)}
    pp = planted_pairs(n)
    # recall over planted pairs whose TRUE shingle Jaccard >= threshold
    # (tail-replacement targets are approximate at shingle granularity;
    # the contract is recovery of pairs actually at/above the threshold)
    texts = dict(pages.select("url", "text").toPandas().itertuples(index=False))

    def true_j(a: str, b: str) -> float:
        sa, sb = set(shingle_set(texts[a], CFG.shingle_k)), set(
            shingle_set(texts[b], CFG.shingle_k))
        return len(sa & sb) / len(sa | sb)

    pp["true_jaccard"] = [true_j(a, b) for a, b in
                          pp[["url_a", "url_b"]].itertuples(index=False)]
    want = pp[pp["true_jaccard"] >= CFG.jaccard_threshold]
    want_pairs = {tuple(sorted(t)) for t in want[["url_a", "url_b"]].itertuples(index=False)}
    # recall = cluster co-membership (the contract is cluster
    # assignments; exact dups enter the graph via rep→member edges, so
    # the raw pair list need not contain every within-group pair)
    clusters = res.clusters.toPandas()
    rep = dict(zip(clusters["url"], clusters["cluster_rep"]))
    hit = sum(1 for a, b in want_pairs if rep.get(a) is not None
              and rep.get(a) == rep.get(b))
    recall = hit / len(want_pairs)
    assert recall >= 0.99, f"recall {recall}: {len(want_pairs)-hit} planted pairs missed"
    lo = CorpusLayout.plan(n)
    for g in range(lo.n_exact_groups):
        urls = [u for u in rep if f"/exact/{g:08d}/" in u]
        assert len(urls) == 3 and len({rep[u] for u in urls}) == 1
    # the J=0.5 planted clusters must NOT be verified at threshold 0.8
    low = pp[(pp["jaccard_target"] == 0.5)]
    low_pairs = {tuple(sorted(t)) for t in low[["url_a", "url_b"]].itertuples(index=False)}
    leaked = len(low_pairs & found) / max(len(low_pairs), 1)
    assert leaked < 0.2, f"too many sub-threshold pairs verified: {leaked}"
    pages.unpersist()


def test_hot_bucket_cap_engages_and_is_reported(spark):
    n = 400
    cfg = NearDupConfig(bucket_cap=16)
    pages = synth_pages(spark, n).filter(F.col("url").contains("/hot/")).cache()
    n_hot = pages.count()
    assert n_hot > 16
    sigs = signature_stage(pages, cfg)
    stats = lsh_bucket_stats(band_keys(sigs, cfg), ["band_hash"],
                             bucket_cap=cfg.bucket_cap).collect()[0]
    assert stats["capped_buckets"] > 0
    assert stats["pairs_skipped_by_cap"] > 0
    assert stats["max_bucket"] == n_hot  # boilerplate: all hot docs per band bucket
    # star pairing still connects the whole hot set into ONE cluster
    res = near_dup_pipeline(pages, cfg)
    summary = res.cluster_summary().collect()
    assert len(summary) == 1 and summary[0]["n_docs"] == n_hot
    pages.unpersist()


def test_simhash_near_pairs(spark):
    base = " ".join(f"tok{i}" for i in range(300))
    near = " ".join(f"tok{i}" for i in range(299)) + " changed"
    far = " ".join(f"other{i}" for i in range(300))
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", far)], "url string, text string")
    sh = signature_stage(df, CFG, simhash=True).select("url", "simhash")
    vals = {r["url"]: r["simhash"] for r in sh.collect()}
    assert vals["a"] != vals["c"]
    mat = StageMaterializer.for_input(sh)
    pairs = {(r["url_a"], r["url_b"])
             for r in simhash_near_pairs(sh, mat, hamming_t=3).collect()}
    mat.cleanup()
    assert ("a", "b") in pairs
    assert ("a", "c") not in pairs and ("c", "a") not in pairs


@pytest.mark.parametrize("use_simhash", [False, True])
def test_neardup_cleanup_frees_every_cache(spark, use_simhash):
    """cleanup() releases every cut of the run, SimHash's included."""
    spark.catalog.clearCache()
    res = near_dup_pipeline(synth_pages(spark, 200), CFG,
                            use_simhash=use_simhash)
    res.clusters.count()
    res.pairs.count()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert not cache.isEmpty()
    res.cleanup()
    assert cache.isEmpty()


def test_simhash_deterministic(spark):
    df = spark.createDataFrame([("a", "hello world foo bar")], "url string, text string")
    v1 = signature_stage(df, CFG, simhash=True).collect()[0]["simhash"]
    v2 = signature_stage(df, CFG, simhash=True).collect()[0]["simhash"]
    assert v1 == v2 and isinstance(v1, int)


def test_minhash_num_perm_not_chunk_multiple(spark):
    # num_perm=80 is not a multiple of the 32-perm L2 chunk; the kernel
    # must slice the final short chunk instead of crashing
    df = spark.createDataFrame([("a", "a b c d e f g"), ("b", "x y z")],
                               "url string, text string")
    cfg = NearDupConfig(num_perm=80, bands=16, shingle_k=3)
    rows = signature_stage(df, cfg).collect()
    assert len(rows) == 2
    assert all(np.frombuffer(r["signature"], "<i4").size == 80 for r in rows)
    assert all(len(r["band_hashes"]) == 16 for r in rows)


def test_components_nonconvergence_raises(spark, new_mat):
    from doppel_spark.operators.components import (
        ComponentsNotConverged,
        connected_components as cc,
    )

    chain = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(12)]
    edges = spark.createDataFrame(chain, "url_a string, url_b string")
    with pytest.raises(ComponentsNotConverged):
        cc(edges, max_iter=1, mat=new_mat()).collect()
    with pytest.warns(RuntimeWarning):
        got = cc(edges, max_iter=1, strict=False, mat=new_mat())
        got.collect()
