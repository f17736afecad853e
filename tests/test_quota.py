"""Per-host document quotas (operators/quota.py)."""

from __future__ import annotations

import pytest

from doppel_spark.operators.quota import cap_per_host


@pytest.fixture()
def pages(spark):
    # host big.com: 10 pages; host small.org: 2 pages
    rows = [(i, f"https://big.com/p{i}") for i in range(10)] + \
           [(100, "https://small.org/a"), (101, "https://small.org/b")]
    return spark.createDataFrame(rows, "doc_id long, url string")


def test_cap_exact(spark, pages):
    got = cap_per_host(pages, k=3).collect()
    by_host = {}
    for r in got:
        host = "big.com" if "big.com" in r["url"] else "small.org"
        by_host.setdefault(host, []).append(r["doc_id"])
    assert len(by_host["big.com"]) == 3          # capped
    assert sorted(by_host["small.org"]) == [100, 101]  # under cap: all kept
    # all output rows are input rows, full width
    assert set(cap_per_host(pages, k=3).columns) == {"doc_id", "url"}


def test_cap_deterministic(spark, pages):
    a = sorted(r["doc_id"] for r in cap_per_host(pages, k=3).collect())
    b = sorted(r["doc_id"]
               for r in cap_per_host(pages.repartition(7), k=3).collect())
    assert a == b  # same winners under any partitioning


def test_cap_seed_changes_selection(spark, pages):
    a = sorted(r["doc_id"] for r in cap_per_host(pages, k=3).collect())
    b = sorted(r["doc_id"]
               for r in cap_per_host(pages, k=3, seed="other").collect())
    # small.org's 2 rows survive under any seed; big.com's 3 should move
    assert a != b or len(a) == 5


def test_prefilter_agrees_when_loose(spark, pages):
    """A prefilter loose enough to keep everything must reproduce the
    exact selection (the ranking is unchanged, only candidates shrink)."""
    exact = sorted(r["doc_id"] for r in cap_per_host(pages, k=3).collect())
    pre = sorted(r["doc_id"] for r in
                 cap_per_host(pages, k=3, prefilter_factor=50.0).collect())
    assert exact == pre


def test_cap_k_validation(spark, pages):
    with pytest.raises(ValueError):
        cap_per_host(pages, k=0)
    with pytest.raises(ValueError):
        cap_per_host(pages, k=3, prefilter_factor=0.5)
