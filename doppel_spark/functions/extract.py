"""HTML → text extraction over the pages table's ``html:binary`` column.

The north-rule input is an Iceberg table of Common-Crawl-style pages
``(url, warc_ts, html:binary, text:string, lang)`` with the per-row
invariant **extracted text byte-identical per url** — i.e. re-running
extraction over the stored ``html`` must reproduce the stored ``text``
exactly, byte for byte, or the row is flagged. This module is that
stage.

Two tiers, mirroring the multimodal decoder split
(doppel_spark/operators/multimodal.py):

* **wrapper extractor (default, pure Catalyst)** — the deterministic
  corpus construction (doppel_spark/corpus.py:226-231) stores
  ``html = b"<html><body>" + utf8(text) + b"</body></html>"``; the
  inverse is ``decode(html, 'UTF-8')`` + a greedy
  ``(?s)<body>(.*)</body>`` extract. Greedy is exactly right for this
  construction: the capture runs to the LAST ``</body>``, so a text
  that itself contains ``</body>`` round-trips unchanged. Everything
  stays JVM-side in whole-stage codegen — no UDF — and the same two
  RE2-compatible steps run verbatim in the DuckDB oracle.
* **real extractor (stubbed)** — boilerplate-stripping extraction of
  arbitrary crawl HTML (trafilatura / jusText class) needs libraries
  not in this container; ``extractor="real"`` raises
  ``NotImplementedError`` at plan execution, same contract as the
  multimodal ``decoder="real"`` stub. Integration point: an
  Arrow-batched ``mapInPandas`` over ``html`` — the Spark-side shape
  (binary in, string out, per-batch loop) is already proven by
  ``multimodal.resize_media``.

Reference tie: the reference trusts file bytes as read
(/root/reference/internal/hasher/hasher.go reads content verbatim);
the table-shaped analogue of "the bytes you hash are the bytes on
disk" is "the text you dedup is the text extraction yields", which is
what :func:`assert_extraction_identity` pins in-plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: greedy body capture; RE2-compatible so the DuckDB oracle reuses it.
BODY_PATTERN = r"(?s)<body>(.*)</body>"


def extracted_text(html: Column | str) -> Column:
    """Extracted text column from a ``binary`` html column (wrapper
    extractor tier) — pure Catalyst, no Python."""
    h = F.col(html) if isinstance(html, str) else html
    return F.regexp_extract(F.decode(h, "UTF-8"), BODY_PATTERN, 1)


def extract_pages(
    df: DataFrame, html_col: str = "html", out: str = "extracted",
    extractor: str = "wrapper",
) -> DataFrame:
    """Add the extracted-text column.

    ``extractor="wrapper"`` is the Catalyst tier above;
    ``extractor="real"`` is the declared stub (raises at execution,
    never silently degrades).
    """
    if extractor == "real":
        raise NotImplementedError(
            "real boilerplate-stripping extraction requires HTML libraries "
            "not present in this environment; plug a mapInPandas extractor "
            "in here (see multimodal.resize_media for the batch shape)"
        )
    if extractor != "wrapper":
        raise ValueError(f"unknown extractor {extractor!r}")
    return df.withColumn(out, extracted_text(html_col))


def extraction_matches(
    text: Column | str = "text", extracted: Column | str = "extracted",
) -> Column:
    """Boolean per-row invariant: extraction reproduced the stored text
    byte-identically. String equality on two UTF-8-decoded Spark
    strings IS byte equality of their encodings; null html (no
    extraction possible) only matches a null text."""
    t = F.col(text) if isinstance(text, str) else text
    e = F.col(extracted) if isinstance(extracted, str) else extracted
    return t.eqNullSafe(e)


def assert_extraction_identity(
    df: DataFrame, text_col: str = "text", extracted_col: str = "extracted",
) -> DataFrame:
    """Embed the byte-identity invariant in the plan: any row where
    extraction does not reproduce ``text`` fails the JOB (assert_true),
    not just a report — the same in-plan-gate idiom as the ANN recall
    floors (doppel_spark/operators/similarity.py:176-203).
    ``assert_true`` yields NULL on success; filtering on ``isNull()``
    keeps every row while forcing the check to evaluate per row."""
    gate = F.assert_true(
        extraction_matches(text_col, extracted_col),
        F.concat(F.lit("extraction not byte-identical for url="),
                 F.coalesce(F.col("url").cast("string"), F.lit("?"))))
    return df.filter(gate.isNull())


def split_extraction(
    df: DataFrame, text_col: str = "text", extracted_col: str = "extracted",
) -> tuple[DataFrame, DataFrame]:
    """(ok, mismatches) split for pipelines that route divergent rows to
    an error side-channel instead of failing the job — the tolerant
    counterpart of :func:`assert_extraction_identity`, same policy as
    the pages-source error channel (doppel_spark/sources/pages.py)."""
    ok = extraction_matches(text_col, extracted_col)
    return df.filter(ok), df.filter(~ok)
