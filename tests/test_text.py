"""Text-analysis functions: token counts, lang-id, quality score."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from doppel_spark.corpus import synth_pages
from doppel_spark.functions.text import (
    distinct_token_ratio,
    lang_id,
    punct_ratio,
    quality_score_micros,
    stopword_ratio,
    token_count,
    word_token_count,
)


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(col("text")).collect()[0][0]


def test_token_count(spark):
    assert _one(spark, "a b  c", token_count) == 3
    assert _one(spark, "", token_count) == 0
    assert _one(spark, "   ", token_count) == 0


def test_word_token_count_splits_punct(spark):
    assert _one(spark, "hello, world!", word_token_count) == 4  # hello , world !
    assert _one(spark, "abc123", word_token_count) == 1


def test_punct_and_repetition(spark):
    assert _one(spark, "a,b.c", punct_ratio) == pytest.approx(2 / 5)
    assert _one(spark, "", punct_ratio) == 0.0
    assert _one(spark, "x x x x", distinct_token_ratio) == pytest.approx(0.25)
    assert _one(spark, "", distinct_token_ratio) == 1.0


def test_lang_id_stopword_argmax(spark):
    assert _one(spark, "the cat and the dog is that", lang_id) == "en"
    assert _one(spark, "der hund und die katze ist nicht", lang_id) == "de"
    assert _one(spark, "qqq zzz www", lang_id) == "und"


def test_lang_id_on_corpus_matches_lang_column(spark):
    pages = synth_pages(spark, 200)
    scored = pages.select("lang", lang_id("text").alias("pred")) \
                  .filter(F.length("text") > 50)
    agree = scored.filter(F.col("lang") == F.col("pred")).count() / scored.count()
    assert agree > 0.9  # corpus embeds its language's stopwords


def test_quality_score_ordering(spark):
    good = "the data and the model is that good " * 10
    spam = "buy buy buy buy buy"
    df = spark.createDataFrame([("g", good), ("s", spam)], "id string, text string")
    scores = {r["id"]: r["quality_micros"]
              for r in df.select("id", quality_score_micros("text")).collect()}
    assert 0 <= scores["s"] < scores["g"] <= 1_000_000


def test_stopword_ratio(spark):
    assert _one(spark, "the xyzzy", stopword_ratio) == pytest.approx(0.5)
    assert _one(spark, "", stopword_ratio) == 0.0


def test_script_profile_ratios_and_empty(spark):
    from doppel_spark.functions.text import script_profile

    rows = [("hello world",), ("hello Привет",),
            ("你好",), ("12 ... 34",), (None,)]
    df = spark.createDataFrame(rows, "text string")
    got = df.select("text", *script_profile("text")).collect()
    by = {r["text"]: r for r in got}
    assert by["hello world"]["latin_micros"] == 1_000_000
    mixed = by["hello Привет"]
    assert mixed["n_letters"] == 11
    assert mixed["latin_micros"] == 5 * 1_000_000 // 11
    assert mixed["cyrillic_micros"] == 6 * 1_000_000 // 11
    assert by["你好"]["han_micros"] == 1_000_000
    assert by["12 ... 34"]["n_letters"] == 0
    assert by["12 ... 34"]["latin_micros"] == 0  # no letters -> 0, not NaN
