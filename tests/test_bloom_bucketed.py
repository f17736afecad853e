"""Bloom prefilter + bucketed co-located join tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from doppel_spark.operators.bloom import (bloom_params, build_digest_bloom,
                                          bloom_maybe_seen,
                                          cross_snapshot_new_bloom)
from doppel_spark.operators.bucketed import (DEFAULT_BUCKETS, digest_table,
                                             snapshot_intersection,
                                             write_bucketed)
from doppel_spark.operators.dedup import cross_snapshot_new
from doppel_spark.plans.inspect import assert_no_exchange, physical_plan


# ---------------------------------------------------------------- bloom ----

def test_bloom_params_sanity():
    m, k = bloom_params(10_000, 0.01)
    assert m % 64 == 0 and m > 0
    assert 1 <= k <= 16
    # tighter fpr -> more bits; more items -> more bits
    assert bloom_params(10_000, 0.001)[0] > m
    assert bloom_params(100_000, 0.01)[0] > m
    with pytest.raises(ValueError):
        bloom_params(10, 1.5)


def test_bloom_rejects_bad_bits(spark):
    df = spark.createDataFrame([("d",)], "digest string")
    with pytest.raises(ValueError):
        build_digest_bloom(df, n_bits=100, n_hashes=3)  # not mult of 64
    with pytest.raises(ValueError):
        build_digest_bloom(df, n_bits=(1 << 35), n_hashes=3)  # > cap


def test_bloom_no_false_negatives_and_bounded_fpr(spark):
    """Every inserted digest must test positive (no false negatives —
    the property correctness rests on); disjoint probes false-positive
    near the design rate, not wildly above it."""
    n = 2000
    seen = spark.range(n).select(
        F.sha2(F.concat(F.lit("seen-"), F.col("id")), 256).alias("digest"))
    m, k = bloom_params(n, 0.01)
    bitmap = build_digest_bloom(seen, m, k)
    assert len(bitmap) == m // 8
    bc = spark.sparkContext.broadcast(bitmap)
    udf = bloom_maybe_seen(bc, m, k)

    def hits(df):
        probed = df.select(
            udf(F.xxhash64("digest"),
                F.xxhash64("digest", F.lit("doppel-bloom-h2"))).alias("m"))
        return probed.filter(F.col("m")).count()

    assert hits(seen) == n  # no false negatives
    other = spark.range(n).select(
        F.sha2(F.concat(F.lit("other-"), F.col("id")), 256).alias("digest"))
    fp = hits(other)
    # design fpr 1% over 2000 probes -> E[fp]=20; allow generous slack
    # (binomial tail), fail only on a broken filter
    assert fp < n * 0.05, f"false-positive rate {fp / n:.3f} >> design 0.01"


def _snapshots(spark):
    """Planted cross-snapshot corpus incl. NULL-text rows both sides."""
    rows_seen = [(i, f"seen text {i}") for i in range(40)] + [(900, None)]
    rows_inc = (
        [(100 + i, f"seen text {i}") for i in range(0, 40, 2)]  # refetches
        + [(200 + i, f"new text {i}") for i in range(25)]        # new
        + [(901, None), (902, None)]                             # null = new
    )
    seen = spark.createDataFrame(rows_seen, "doc_id long, text string")
    incoming = spark.createDataFrame(rows_inc, "doc_id long, text string")
    return incoming, seen


def test_cross_snapshot_new_bloom_matches_exact(spark, new_mat):
    incoming, seen = _snapshots(spark)
    base = sorted(r.doc_id for r in
                  cross_snapshot_new(incoming, seen, id_col="doc_id").collect())
    got = sorted(r.doc_id for r in
                 cross_snapshot_new_bloom(incoming, seen, id_col="doc_id",
                                          mat=new_mat()).collect())
    assert got == base
    assert all(d >= 200 for d in got)  # every refetch dropped
    assert {901, 902} <= set(got)      # null text is always new


def test_cross_snapshot_new_bloom_fp_heavy_filter_still_exact(spark,
                                                              new_mat):
    """A deliberately tiny bloom (massive FPR) must not change the
    result — false positives only route rows to the exact join."""
    incoming, seen = _snapshots(spark)
    base = sorted(r.doc_id for r in
                  cross_snapshot_new(incoming, seen, id_col="doc_id").collect())
    got = sorted(r.doc_id for r in
                 cross_snapshot_new_bloom(incoming, seen, id_col="doc_id",
                                          n_bits=64, n_hashes=1,
                                          mat=new_mat()).collect())
    assert got == base


def test_bloom_plan_is_arrow_vectorized(spark, new_mat):
    """The membership test must be ArrowEvalPython, never BatchEvalPython."""
    incoming, seen = _snapshots(spark)
    out = cross_snapshot_new_bloom(incoming, seen, id_col="doc_id",
                                   mat=new_mat())
    plan = physical_plan(out)
    assert "BatchEvalPython" not in plan


# ------------------------------------------------------------- bucketed ----

def test_digest_table_survivor_and_counts(spark, docs):
    dt = {r.digest: (r.url, r.n_docs) for r in
          digest_table(docs).collect()}
    assert len(dt) == 3
    by_count = sorted(v for v in dt.values())
    assert [v[1] for v in dt.values()].count(3) == 1
    # survivor is min url within each content group
    triple = [v for v in dt.values() if v[1] == 3][0]
    assert triple[0] == "u://a/1"


def test_snapshot_intersection_colocated_no_exchange(spark, tmp_path):
    texts = [(i, f"content {i}") for i in range(60)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 3 == 0)
    inter = snapshot_intersection(spark, a, b, str(tmp_path),
                                  id_col="doc_id")
    rows = inter.collect()
    assert sorted(r.doc_id_a for r in rows) == list(range(0, 60, 6))
    assert all(r.doc_id_a == r.doc_id_b for r in rows)  # same content, same id
    assert all(r.n_docs_a == 1 and r.n_docs_b == 1 for r in rows)
    # THE property this module exists for: nothing crosses the wire
    assert_no_exchange(inter)
    assert "SortMergeJoin" in physical_plan(inter)


def test_unbucketed_join_does_shuffle_negative_control(spark):
    """assert_no_exchange must not be vacuous: the same join over
    plain (un-bucketed) frames MUST contain an Exchange."""
    docs = spark.createDataFrame([(i, f"content {i}") for i in range(60)],
                                 "doc_id long, text string")
    a = digest_table(docs.filter(F.col("doc_id") % 2 == 0), id_col="doc_id")
    b = digest_table(docs.filter(F.col("doc_id") % 3 == 0), id_col="doc_id") \
        .withColumnRenamed("doc_id", "doc_id_b") \
        .withColumnRenamed("n_docs", "n_docs_b")
    joined = a.hint("merge").join(b, "digest")
    with pytest.raises(AssertionError):
        assert_no_exchange(joined)


def test_write_bucketed_layout_visible_to_catalog(spark, tmp_path):
    docs = spark.createDataFrame([(i, f"t {i}") for i in range(10)],
                                 "doc_id long, text string")
    write_bucketed(digest_table(docs, id_col="doc_id"), "doppel_bkt_layout",
                   str(tmp_path / "t"), n_buckets=4)
    try:
        # a catalog read of one bucketed table grouped on the bucket
        # key needs no shuffle either (bucketing satisfies the
        # required hash distribution)
        agg = (spark.table("doppel_bkt_layout")
               .groupBy("digest").agg(F.sum("n_docs").alias("n")))
        assert_no_exchange(agg)
        assert agg.count() == 10
    finally:
        spark.sql("DROP TABLE IF EXISTS doppel_bkt_layout")
