"""Dedup operator family + multimodal plumbing + streaming incremental dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from doppel_spark.corpus import synth_pages
from doppel_spark.operators.dedup import (
    dedup_assignments,
    dedup_stats,
    exact_dedup,
)
from doppel_spark.operators.multimodal import resize_media


def test_exact_dedup_keep_min_id(spark, docs):
    out = exact_dedup(docs)
    kept = {r["url"] for r in out.collect()}
    assert kept == {"u://a/1", "u://b/1", "u://c/1"}
    # survivors keep their full row + digest column
    assert set(out.columns) == {"url", "text", "digest"}


def test_exact_dedup_scale_plan_no_text_shuffle(spark, docs):
    # default path: digest shuffle carries only (id, digest) — the text
    # column must not appear in any Exchange's partitioning input side;
    # mechanically: the plan is a LeftSemi join, not a full-row Window
    from doppel_spark.plans.inspect import physical_plan

    plan = physical_plan(exact_dedup(docs))
    assert "LeftSemi" in plan
    assert "Window" not in plan
    # every Exchange in the aggregate branch is hashpartitioning on
    # digest or url — never on a projection that carries text
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_dedup_assignments_and_stats(spark, docs):
    asg = dedup_assignments(docs)
    m = {r["url"]: r["canonical_id"] for r in asg.collect()}
    assert m["u://a/3"] == "u://a/1" and m["u://b/2"] == "u://b/1"
    assert m["u://c/1"] == "u://c/1"
    s = dedup_stats(asg).collect()[0]
    assert (s["total_docs"], s["kept_docs"], s["removed_docs"], s["dup_groups"]) \
        == (6, 3, 3, 2)


def test_media_real_decoder_is_stubbed(spark):
    media = spark.createDataFrame([("a1", "image", b"x")],
                                  "asset_id string, kind string, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|real media resize"):
        resize_media(media, max_side=1, decoder="real").collect()


def test_streaming_incremental_dedup(spark, tmp_path):
    from doppel_spark.streaming import incremental_exact_dedup_stream

    src = str(tmp_path / "in")
    pages = synth_pages(spark, 60)
    pages.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(pages.schema).parquet(src)
    deduped = incremental_exact_dedup_stream(stream)
    q = (deduped.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = spark.sql("select digest, count(*) c from dedup_out group by 1 having c > 1")
        assert got.count() == 0  # one row per distinct digest
        total = spark.sql("select count(*) c from dedup_out").collect()[0]["c"]
        distinct_digests = pages.select(F.sha2("text", 256)).distinct().count()
        assert total == distinct_digests
    finally:
        q.stop()


def test_null_text_never_dedups(spark):
    weird = spark.createDataFrame([("a", None), ("b", None), ("c", "x")],
                                  "url string, text string")
    assert exact_dedup(weird).count() == 3  # null-content rows each survive
    asg = {r["url"]: r["canonical_id"] for r in dedup_assignments(weird).collect()}
    assert asg == {"a": "a", "b": "b", "c": "c"}


def test_resize_media_branches(spark):
    import hashlib

    from doppel_spark.operators.multimodal import _fake_decode, resize_media

    media = spark.createDataFrame(
        [("a1", "image", b"\x89PNG fake bytes"),
         ("a2", "video", b"\x00\x00ftyp fake")],
        "asset_id string, kind string, payload binary")
    got = {r.asset_id: r for r in
           resize_media(media, max_side=96).collect()}
    for aid, kind, payload in [("a1", "image", b"\x89PNG fake bytes"),
                               ("a2", "video", b"\x00\x00ftyp fake")]:
        w, h, _nf, digest = _fake_decode(payload, kind)
        m = max(w, h)
        r = got[aid]
        if m > 96:
            assert (r.width, r.height) == (max(1, w * 96 // m),
                                           max(1, h * 96 // m))
            assert bytes(r.payload) == f"{digest}:{r.width}x{r.height}".encode()
        else:
            assert (r.width, r.height) == (w, h)
            assert bytes(r.payload) == payload  # byte-identical pass-through
    # pass-through is guaranteed reachable with a large max_side
    big = {r.asset_id: bytes(r.payload)
           for r in resize_media(media, max_side=1000).collect()}
    assert big == {"a1": b"\x89PNG fake bytes", "a2": b"\x00\x00ftyp fake"}


def test_sample_frames_fanout_and_validation(spark):
    from doppel_spark.operators.multimodal import _fake_decode, sample_frames

    media = spark.createDataFrame(
        [("a1", "image", b"img"), ("a2", "video", b"vid")],
        "asset_id string, kind string, payload binary")
    rows = sample_frames(media, every_k=5).collect()
    by = {}
    for r in rows:
        by.setdefault(r.asset_id, []).append(r.frame_no)
    assert by["a1"] == [0]  # image: single frame
    _w, _h, nf, _d = _fake_decode(b"vid", "video")
    assert sorted(by["a2"]) == list(range(0, nf, 5))  # video fan-out
    with pytest.raises(ValueError, match="every_k"):
        sample_frames(media, every_k=0)
    with pytest.raises(Exception, match="NotImplementedError|real frame"):
        sample_frames(media, decoder="real").collect()
