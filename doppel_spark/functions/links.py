"""Outlink extraction — html → host link graph, zero Python.

Bridges the page table to :func:`doppel_spark.operators.graph
.host_rank`: pull ``href`` targets out of raw html, keep absolute
http(s) links, canonicalize both endpoints to registrable hosts
(:func:`doppel_spark.functions.urls.host_of` — lowercased,
``www.``-less, port-less), drop intra-host self-links, and aggregate
multi-links into edge weights. Everything is Catalyst expressions
(``regexp_extract_all`` + higher-order ops, JVM-side codegen); the
html column never leaves its scan task — only short host strings
reach the edge shuffle, which map-side combines before moving.

Like the rest of :mod:`doppel_spark.functions.urls`, the regexes are
written in the RE2-compatible subset (character classes instead of
case-insensitive flags, no lookaround) so the DuckDB oracle mirrors
them literally. Deliberate simplifications, documented: only
double-quoted ``href`` attributes (the dominant form in real crawls;
single-quoted/bare attrs need an html parser, which belongs in the
extraction tier, functions/extract.py), and relative links are
dropped (a host-level graph only needs cross-host edges; relative
links are same-host by definition).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from doppel_spark.functions.urls import host_of

#: double-quoted href attribute, attr name case-insensitive via
#: character classes (RE2-subset — no (?i) flag, DuckDB-mirrorable)
HREF_REGEX = r'[hH][rR][eE][fF]="([^"]*)"'

#: absolute http/https link (scheme case-insensitive, same subset)
ABS_HTTP_REGEX = r"^[hH][tT][tT][pP][sS]?://"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def extract_hrefs(html: Column | str) -> Column:
    """``array<string>`` of every double-quoted href target in order."""
    return F.regexp_extract_all(_col(html), F.lit(HREF_REGEX), F.lit(1))


def host_edges(pages: DataFrame, url_col: str = "url",
               html_col: str = "html") -> DataFrame:
    """Weighted cross-host edge list (src, dst, w) from a page table.

    src = the page's own host; one edge per absolute http(s) link to a
    DIFFERENT host; w = link multiplicity. Feed straight into
    :func:`~doppel_spark.operators.graph.host_rank` (pass
    ``weight="w"``).
    """
    links = (pages
             .select(host_of(_col(url_col)).alias("src"),
                     F.explode(extract_hrefs(_col(html_col))).alias("link"))
             .filter(F.col("link").rlike(ABS_HTTP_REGEX))
             .select("src", host_of(F.col("link")).alias("dst"))
             .filter((F.col("dst") != "") & (F.col("dst") != F.col("src"))))
    return links.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("w"))


#: one anchor element: double-quoted href + tag-free label text — the
#: RE2-subset limitation twins (single-quoted/bare attrs, nested markup
#: in the label) belong to the extraction tier, like HREF_REGEX's
ANCHOR_PATTERN = (r'<[aA][ \t][^>]*[hH][rR][eE][fF]="([^"]*)"[^>]*>'
                  r'([^<]*)</[aA]>')


def anchor_edges(pages: DataFrame, url_col: str = "url",
                 html_col: str = "html") -> DataFrame:
    """Labeled cross-host edges: (src, dst, anchor, n).

    The anchor TEXT other sites use to link a host is a classic
    relevance/quality signal (it describes the target in the linker's
    words); this is :func:`host_edges` keeping the label. Two
    ``regexp_extract_all`` passes over the SAME pattern (href group,
    label group) stay index-aligned by construction and zip
    positionally — pure Catalyst, html never leaves its scan task;
    only (src, dst, trimmed anchor) strings shuffle, map-side combined.
    """
    h = _col(html_col)
    z = F.arrays_zip(
        F.regexp_extract_all(h, F.lit(ANCHOR_PATTERN), F.lit(1))
        .alias("link"),
        F.regexp_extract_all(h, F.lit(ANCHOR_PATTERN), F.lit(2))
        .alias("anchor"))
    rows = (
        pages.select(host_of(_col(url_col)).alias("src"),
                     F.explode(z).alias("z"))
        .select("src", F.col("z.link").alias("link"),
                F.trim(F.col("z.anchor")).alias("anchor"))
        .filter(F.col("link").rlike(ABS_HTTP_REGEX))
        .select("src", host_of(F.col("link")).alias("dst"), "anchor")
        .filter((F.col("dst") != "") & (F.col("dst") != F.col("src"))))
    return rows.groupBy("src", "dst", "anchor").agg(
        F.count(F.lit(1)).alias("n"))
