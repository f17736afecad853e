"""Salted aggregation, plan inspection, pages source."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from doppel_spark.corpus import synth_pages
from doppel_spark.operators.salting import salted_agg, with_salt
from doppel_spark.plans import assert_no_row_python, plan_has, physical_plan
from doppel_spark.sources import read_pages
from doppel_spark.sources.pages import PagesSchemaError, validate_pages_schema


def scan_read_schema(df) -> list[list[str]]:
    """ReadSchema column lists of every parquet scan in the plan —
    verifies column pruning (e.g. `html` absent when unused)."""
    return [[c.split(":")[0] for c in m.group(1).split(",") if c]
            for m in re.finditer(r"ReadSchema: struct<([^>]*)>",
                                 physical_plan(df))]


def test_salted_count_matches_plain(spark):
    df = spark.createDataFrame(
        [(k, f"id{i}") for i in range(500) for k in (["hot"] if i % 2 else [f"k{i}"])],
        "key string, id string")
    plain = {(r["key"], r["count"]) for r in df.groupBy("key").count().collect()}
    salted = {(r["key"], r["count"])
              for r in salted_agg(df, ["key"], "id", {"count": ("id", "count")},
                                  shards=8).collect()}
    assert salted == plain


def test_salted_agg_algebraic(spark):
    df = spark.createDataFrame(
        [("a", i, f"id{i}") for i in range(100)] + [("b", 5, "idb")],
        "key string, v long, id string")
    out = {r["key"]: (r["n"], r["total"], r["lo"], r["hi"])
           for r in salted_agg(df, ["key"], "id",
                               {"n": ("v", "count"), "total": ("v", "sum"),
                                "lo": ("v", "min"), "hi": ("v", "max")},
                               shards=4).collect()}
    assert out["a"] == (100, sum(range(100)), 0, 99)
    assert out["b"] == (1, 5, 5, 5)


def test_salted_agg_rejects_holistic(spark):
    df = spark.createDataFrame([("a", 1, "x")], "key string, v long, id string")
    with pytest.raises(ValueError, match="not algebraic"):
        salted_agg(df, ["key"], "id", {"xs": ("v", "collect_list")})


def test_salt_deterministic(spark):
    df = spark.createDataFrame([(f"u{i}",) for i in range(50)], "id string")
    a = {(r["id"], r["_salt"]) for r in with_salt(df, "id", 8).collect()}
    b = {(r["id"], r["_salt"]) for r in with_salt(df, "id", 8).collect()}
    assert a == b
    assert all(0 <= s < 8 for _, s in a)


def test_plan_inspection_helpers(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "n_chars").filter("n_chars > 100")
    assert plan_has(df, "Scan parquet")
    assert_no_row_python(df)  # no python at all
    schemas = scan_read_schema(df)
    assert schemas and set(schemas[0]) <= {"doc_id", "n_chars"}  # pruning


def test_exact_pipeline_plan_hygiene(spark):
    """The scale claims, mechanically: stage-1 is a broadcast semi join,
    the scan never reads html, nothing row-Python anywhere."""
    from doppel_spark.operators.exact import exact_dup_pipeline

    pages = synth_pages(spark, 100)
    pages.write.mode("overwrite").parquet("/tmp/_plan_pages.parquet")
    df = spark.read.parquet("/tmp/_plan_pages.parquet")
    res = exact_dup_pipeline(df, size_col=None)
    res.groups.collect()
    plan = physical_plan(res.candidates)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert_no_row_python(res.groups)
    assert all("html" not in cols for cols in scan_read_schema(res.groups))


def test_read_pages_errors_and_overlap(spark, tmp_path):
    pages = synth_pages(spark, 40)
    p1, p2 = str(tmp_path / "seg1"), str(tmp_path / "seg2")
    pages.write.parquet(p1)
    pages.limit(10).write.parquet(p2)  # overlapping segment
    src = read_pages(spark, [p1, p2])
    assert src.pages.count() == 40  # overlap deduped
    assert src.error_count() == 0

    bad = spark.createDataFrame(
        [("u1", "ok"), (None, "x"), ("u3", None)], "url string, text string")
    bad.write.parquet(str(tmp_path / "bad"))
    src2 = read_pages(spark, str(tmp_path / "bad"))
    assert src2.pages.count() == 1
    reasons = {r["error_reason"] for r in src2.errors.collect()}
    assert reasons == {"null_url", "null_text"}


def test_validate_pages_schema(spark):
    ok = synth_pages(spark, 5)
    validate_pages_schema(ok, require_all=True)
    wrong = spark.createDataFrame([(1, "t")], "url int, text string")
    with pytest.raises(PagesSchemaError, match="url"):
        validate_pages_schema(wrong)
    missing = spark.createDataFrame([("u",)], "url string")
    with pytest.raises(PagesSchemaError):
        validate_pages_schema(missing)
