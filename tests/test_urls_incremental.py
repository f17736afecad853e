"""URL canonicalization + cross-snapshot incremental dedup.

The web-native first stage of doppel's "same content, different names"
funnel (/root/reference/internal/scanner/finder.go:114-143): collapse
URL aliases before any content byte is read, and anti-join a new crawl
snapshot against the accumulated digest set.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from doppel_spark.functions.urls import (
    canonicalize_url,
    host_of,
    host_profile,
    url_dup_groups,
)
from doppel_spark.operators.dedup import cross_snapshot_new


def _canon_one(spark, url: str) -> str:
    return (
        spark.range(1)
        .select(canonicalize_url(F.lit(url)).alias("c"))
        .first()["c"]
    )


CASES = [
    # scheme + host case, www, default port, fragment, tracking, order
    ("HTTPS://WWW.Ex.COM:443/a/?utm_source=x&b=2&a=1#frag",
     "https://ex.com/a?a=1&b=2"),
    # http default port; params already canonical stay put
    ("http://ex.com:80/a?a=1&b=2", "http://ex.com/a?a=1&b=2"),
    # non-default port survives
    ("http://ex.com:8080/a", "http://ex.com:8080/a"),
    # :443 on http is NOT a default port — must survive
    ("http://ex.com:443/a", "http://ex.com:443/a"),
    # tracking-only query collapses to no query at all
    ("https://ex.com/p?utm_campaign=x&ref=tw&fbclid=abc&gclid=1",
     "https://ex.com/p"),
    # ref=... dropped but pref=... kept (anchored match, not substring)
    ("https://ex.com/p?pref=1&ref=2", "https://ex.com/p?pref=1"),
    # repeated trailing slashes; empty path stays empty
    ("https://ex.com///", "https://ex.com"),
    ("https://ex.com", "https://ex.com"),
    # www only stripped as a label prefix
    ("https://wwwx.ex.com/a", "https://wwwx.ex.com/a"),
    # other schemes: port untouched, same query rules
    ("FTP://Ex.COM:21/f?b=1&a=2", "ftp://ex.com:21/f?a=2&b=1"),
    # empty params from && are dropped
    ("https://ex.com/a?&&b=1", "https://ex.com/a?b=1"),
]


@pytest.mark.parametrize("raw,expected", CASES)
def test_canonicalize_url(spark, raw, expected):
    assert _canon_one(spark, raw) == expected


def test_url_dup_groups(spark):
    rows = [
        (1, "https://Ex.com/a?utm_source=x"),
        (2, "https://ex.com/a/"),
        (3, "https://ex.com/b"),          # singleton — filtered
        (4, "HTTP://WWW.ex.com:80/c#x"),
        (5, "http://ex.com/c"),
        (6, "http://ex.com/c?z=1"),       # different query → different page
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["canonical_url"]: (r["n_urls"], r["rep_id"])
           for r in url_dup_groups(df).collect()}
    assert got == {
        "https://ex.com/a": (2, 1),
        "http://ex.com/c": (2, 4),
    }


def test_host_of(spark):
    rows = [
        ("HTTPS://WWW.Ex.COM:443/a", "ex.com"),
        ("http://ex.com:8080/a", "ex.com"),     # ANY port stripped for host key
        ("https://sub.ex.com/a", "sub.ex.com"),
        ("https://wwwx.ex.com/a", "wwwx.ex.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], "url string")
    got = [r["h"] for r in df.select(host_of("url").alias("h")).collect()]
    assert got == [e for _, e in rows]


def test_host_profile(spark):
    rows = [
        (1, "https://Ex.com/a?utm_source=x", 10),
        (2, "https://ex.com/a/", 20),            # same page as 1
        (3, "https://ex.com/b", 30),
        (4, "http://other.org/c", 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, sz long")
    got = {r["host"]: (r["n_urls"], r["n_pages"], r["n_dup_urls"],
                       r["total_size"])
           for r in host_profile(df, size_col="sz").collect()}
    assert got == {"ex.com": (3, 2, 1, 60), "other.org": (1, 1, 0, 5)}


def test_host_profile_no_size(spark):
    df = spark.createDataFrame([(1, "https://ex.com/a")],
                               "doc_id long, url string")
    row = host_profile(df).collect()[0]
    assert (row["host"], row["n_urls"], row["n_pages"],
            row["n_dup_urls"]) == ("ex.com", 1, 1, 0)
    assert "total_size" not in host_profile(df).columns


def test_cross_snapshot_new(spark):
    seen = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, None)],
        "doc_id long, text string")
    incoming = spark.createDataFrame(
        [(10, "alpha"),    # refetch — drops
         (11, "gamma"),    # new — survives
         (12, None),       # NULL text — always new (sentinel digest)
         (13, None)],      # second NULL must NOT collide with 12's
        "doc_id long, text string")
    got = sorted(r["doc_id"] for r in
                 cross_snapshot_new(incoming, seen, id_col="doc_id").collect())
    assert got == [11, 12, 13]
    # full rows pass through, not just ids
    cols = cross_snapshot_new(incoming, seen, id_col="doc_id").columns
    assert cols == ["doc_id", "text"]


def test_cross_snapshot_new_duplicated_seen_side(spark):
    """A seen snapshot with heavy internal duplication is distinct'd
    before the anti-join — same answer, one digest per content."""
    seen = spark.createDataFrame(
        [(i, "same") for i in range(50)], "doc_id long, text string")
    incoming = spark.createDataFrame(
        [(100, "same"), (101, "other")], "doc_id long, text string")
    got = [r["doc_id"] for r in
           cross_snapshot_new(incoming, seen, id_col="doc_id").collect()]
    assert got == [101]


# ---------------------------------------------------------------------------
# cross-snapshot NEAR-dup (MinHash tier of the incremental funnel)

def _xsnap_fixtures(spark):
    """Incoming/seen pair with hits pinned by the repetition invariant:
    identical shingle sets for (base×2, base×3) ⇒ agreement 1.0."""
    base = {i: " ".join(f"x{i}w{j}" for j in range(12)) for i in range(6)}
    incoming = spark.createDataFrame(
        [(f"n{i}", (base[i] + " ") * 2) for i in range(4)]      # 0-2 seen
        + [(f"n{i}", base[i]) for i in (4, 5)],                 # unique stems
        "doc_id string, text string")
    seen = spark.createDataFrame(
        [(f"s{i}", (base[i] + " ") * 3) for i in range(3)]
        + [("s9", " ".join(f"yyy{j}" for j in range(12)))],
        "doc_id string, text string")
    return incoming, seen


def test_cross_snapshot_neardup_pairs_planted(spark, new_mat):
    from doppel_spark.operators.dedup import cross_snapshot_neardup_pairs

    incoming, seen = _xsnap_fixtures(spark)
    got = sorted(
        (r["doc_id_new"], r["doc_id_seen"], r["jaccard_est"])
        for r in cross_snapshot_neardup_pairs(
            incoming, seen, id_col="doc_id", mat=new_mat()).collect())
    assert got == [("n0", "s0", 1.0), ("n1", "s1", 1.0), ("n2", "s2", 1.0)]


def test_cross_snapshot_neardup_seen_signed(spark, new_mat):
    """Production path: the seen side arrives as a maintained signature
    table — results identical to signing it in-line."""
    from doppel_spark.config import NearDupConfig
    from doppel_spark.operators.dedup import cross_snapshot_neardup_pairs
    from doppel_spark.operators.lsh import signature_stage

    incoming, seen = _xsnap_fixtures(spark)
    seen_sig = signature_stage(seen, NearDupConfig(), id_col="doc_id")
    got = sorted(
        (r["doc_id_new"], r["doc_id_seen"], r["jaccard_est"])
        for r in cross_snapshot_neardup_pairs(
            incoming, seen_sig, id_col="doc_id", seen_signed=True,
            mat=new_mat()).collect())
    assert got == [("n0", "s0", 1.0), ("n1", "s1", 1.0), ("n2", "s2", 1.0)]


def test_cross_snapshot_neardup_empty_seen(spark, new_mat):
    from doppel_spark.operators.dedup import cross_snapshot_neardup_pairs

    incoming, _ = _xsnap_fixtures(spark)
    empty = spark.createDataFrame([], "doc_id string, text string")
    assert cross_snapshot_neardup_pairs(
        incoming, empty, id_col="doc_id", mat=new_mat()).count() == 0


def test_url_signals_shapes(spark):
    from doppel_spark.functions.urls import url_signals

    rows = [
        (1, "https://a.net/"),
        (2, "https://a.net"),
        (3, "https://a.net/blog/2024/01/15/post-99?p=2&utm_source=x#frag"),
        (4, "http://b.org/a//b/"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r for r in url_signals(df).collect()}
    assert out[1]["is_index"] and out[2]["is_index"]
    assert out[1]["path_depth"] == 0 and out[2]["path_depth"] == 0
    s3 = out[3]
    assert s3["path_depth"] == 5      # blog/2024/01/15/post-99
    assert s3["n_params"] == 2        # p=2 + utm_source=x (pre-canon)
    assert not s3["is_index"]
    # digits in '/blog/2024/01/15/post-99': 10 of 24 path chars
    assert s3["path_digit_micros"] == 10 * 1_000_000 // 24
    assert out[4]["path_depth"] == 2  # empty segment from '//' dropped
