"""Outlink extraction → host edges → composed domain rank."""

from __future__ import annotations

from pyspark.sql import functions as F

from doppel_spark.functions.links import extract_hrefs, host_edges
from doppel_spark.operators.graph import host_rank


def _pages(spark):
    rows = [
        # a.com links b.com twice (weight 2) and itself (dropped)
        ("http://a.com/1",
         '<a href="http://b.com/x">1</a><a href="https://b.com/y">2</a>'
         '<a href="http://a.com/self">s</a>'),
        # case/www/port variants all canonicalize to b.com / a.com
        ("https://WWW.A.com:443/2",
         '<A HREF="HTTP://WWW.B.COM:80/z">3</A>'),
        # relative, fragment-only, mailto, single-quoted: all dropped
        ("http://c.com/3",
         "<a href='http://b.com/sq'>nope</a>"
         '<a href="/rel">r</a><a href="#f">f</a>'
         '<a href="mailto:x@y.z">m</a><a href="http://a.com/in">ok</a>'),
    ]
    return spark.createDataFrame(rows, "url string, html string")


def test_extract_hrefs_order_and_quoting(spark):
    got = _pages(spark).select(extract_hrefs("html").alias("h")).collect()
    assert got[0].h == ["http://b.com/x", "https://b.com/y",
                        "http://a.com/self"]
    assert got[1].h == ["HTTP://WWW.B.COM:80/z"]
    # single-quoted href is NOT matched (documented simplification)
    assert got[2].h == ["/rel", "#f", "mailto:x@y.z", "http://a.com/in"]


def test_host_edges_canonicalize_weight_and_drop(spark):
    edges = {(r.src, r.dst): r.w for r in host_edges(_pages(spark)).collect()}
    assert edges == {
        ("a.com", "b.com"): 3,  # 2 plain + 1 via case/www/port variants
        ("c.com", "a.com"): 1,  # relative/fragment/mailto dropped
    }


def test_host_rank_from_pages_composes(spark, new_mat):
    ranks = {r.host: r.rank_micros
             for r in host_rank(host_edges(_pages(spark)), weight="w",
                                iterations=3, mat=new_mat()).collect()}
    # nodes = all edge endpoints; b.com is the only multiply-linked sink
    assert set(ranks) == {"a.com", "b.com", "c.com"}
    assert max(ranks, key=ranks.get) == "b.com"


def test_html_never_in_edge_shuffle_schema(spark):
    """Column pruning: the scan under host_edges reads only url+html,
    and the aggregate's shuffle carries host strings, not html — the
    optimized plan must not project html past the extraction select."""
    import re

    edges = host_edges(_pages(spark))
    plan = edges._jdf.queryExecution().optimizedPlan().toString()
    aggs = [ln for ln in plan.splitlines() if "Aggregate" in ln]
    assert aggs and all("html" not in ln for ln in aggs)


def test_anchor_edges_labels_and_alignment(spark):
    """href/label stay index-aligned across mixed markup; relative and
    self links drop; labels trim; multiplicity aggregates."""
    from doppel_spark.functions.links import anchor_edges

    html = (
        '<html><body>'
        '<a href="http://b.net/1"> Read More </a>'
        '<a class="nav" HREF="https://www.c.org:443/2">c site</a>'
        '<a href="/rel">skip</a>'
        '<a href="http://a.net/self">self</a>'
        '<a data-x="1" href="http://b.net/3">Read More</a>'
        '</body></html>')
    df = spark.createDataFrame([("http://a.net/p", html)],
                               "url string, html string")
    got = {(r["src"], r["dst"], r["anchor"]): r["n"]
           for r in anchor_edges(df).collect()}
    assert got == {
        ("a.net", "b.net", "Read More"): 2,   # trimmed + aggregated
        ("a.net", "c.org", "c site"): 1,      # www./port seen through
    }
