"""curate_job: the end-to-end training-data curation funnel entrypoint.

Runs the job as a real subprocess (the spark-submit shape, like
test_report_job.test_job_entrypoint_end_to_end), then re-runs it
against the same checkpoint to prove stage-level resume: every funnel
stage must resume from its published manifest (no rebuild) and the
final cut must be byte-identical.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

ARGS = ["--synth-docs", "300", "--max-per-host", "50",
        "--token-budget", "60000", "--shards", "8",
        "--split-weights", "train=0.9,val=0.05,test=0.05"]


def _run(out, ckpt):
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "curate_job.py"),
         "--output", str(out), "--checkpoint", str(ckpt), *ARGS],
        capture_output=True, text=True, timeout=420, env=env, cwd="/tmp",
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads((out / "funnel_report.json").read_text())


def test_curate_funnel_end_to_end_and_resume(tmp_path):
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    rep = _run(out, ckpt)

    # the funnel only ever narrows: stage rows are monotone
    # non-increasing in pipeline order (manifest names sort that way)
    rows = [s["rows"] for s in rep["stages"] if s["stage"] != "s06_quality_reasons"]
    assert rows == sorted(rows, reverse=True), rep["stages"]
    assert rows[0] == 300  # nothing filtered by the default FilterConfig
    # quality histogram covers every doc that reached it, and some pass
    gq_rows = next(s["rows"] for s in rep["stages"]
                   if s["stage"] == "s06_quality_reasons")
    assert sum(rep["quality_reasons"].values()) == gq_rows
    assert rep["quality_reasons"].get("ok", 0) > 0
    # splits partition the s10 output exactly
    s10 = next(s["rows"] for s in rep["stages"] if s["stage"] == "s10_splits")
    assert sum(rep["split_counts"].values()) == s10
    # the token cut binds: budget respected, something survived
    assert 0 < rep["train_tokens"] <= 60000
    assert 0 < rep["train_docs"] < rep["split_counts"]["train"]
    # shard layout: one shard=K dir per non-empty shard, all within range
    shard_dirs = sorted(p.name for p in (out / "train_shards").iterdir()
                        if p.name.startswith("shard="))
    assert 0 < len(shard_dirs) <= 8
    assert all(0 <= int(d.split("=")[1]) < 8 for d in shard_dirs)
    assert (out / "val" / "_SUCCESS").exists()
    assert (out / "test" / "_SUCCESS").exists()

    # resume: wipe the output, keep the checkpoint — every stage must
    # come back from its manifest (identical rows) and produce the
    # identical final cut
    manifests_before = {s["stage"]: s["rows"] for s in rep["stages"]}
    mtimes = {p: p.stat().st_mtime_ns
              for p in ckpt.rglob("_STAGE_MANIFEST.json")}
    import shutil
    shutil.rmtree(out)
    rep2 = _run(out, ckpt)
    assert {s["stage"]: s["rows"] for s in rep2["stages"]} == manifests_before
    assert rep2["train_docs"] == rep["train_docs"]
    assert rep2["train_tokens"] == rep["train_tokens"]
    assert rep2["split_counts"] == rep["split_counts"]
    # no stage re-published: manifests untouched on disk
    assert {p: p.stat().st_mtime_ns
            for p in ckpt.rglob("_STAGE_MANIFEST.json")} == mtimes


def _pages_with_bad_row(spark, tmp_path):
    """4 well-formed pages + 1 whose stored text diverges from its html."""
    from datetime import datetime, timezone

    def html(t):
        return b"<html><body>" + t.encode() + b"</body></html>"

    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = [(f"http://x.example/{i}", ts, html(f"page text {i} " * 20),
             f"page text {i} " * 20, "en") for i in range(4)]
    rows.append(("http://x.example/bad", ts, html("what was crawled"),
                 "what the table claims", "en"))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    path = str(tmp_path / "pages_in")
    df.coalesce(1).write.parquet(path)
    return path


def _main(argv):
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "curate_job", str(REPO / "jobs" / "curate_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main(argv)


def test_verify_extraction_report_mode(spark, tmp_path):
    path = _pages_with_bad_row(spark, tmp_path)
    rep = _main(["--input", path,
                 "--output", str(tmp_path / "out"),
                 "--checkpoint", str(tmp_path / "ckpt"),
                 "--shards", "2", "--skip-quality",
                 "--verify-extraction", "report"])
    # the divergent row is counted AND excluded before stage 1
    assert rep["extract_mismatches"] == 1
    assert rep["stages"][0]["rows"] == 4


def test_verify_extraction_strict_mode_fails_job(spark, tmp_path):
    import pytest

    path = _pages_with_bad_row(spark, tmp_path)
    with pytest.raises(Exception, match="byte-identical"):
        _main(["--input", path,
               "--output", str(tmp_path / "out2"),
               "--checkpoint", str(tmp_path / "ckpt2"),
               "--shards", "2", "--skip-quality",
               "--verify-extraction", "strict"])


def _warc_fixture(tmp_path):
    """40 crawled pages across one plain + one gzipped archive; every
    10th page lives on a subdomain of the blocklisted host, pages *7
    match the URL block pattern, and one nav line repeats in >= 6 docs
    so the boilerplate cut has something to bite."""
    import gzip
    import random

    from doppel_spark.sources.warc import warc_file_bytes

    rng = random.Random(7)
    words = ("the of and to in a is that it was for on are as with his "
             "they at be this from have or had by word but not what all "
             "were when your can said").split()
    recs = []
    for i in range(40):
        host = "blog.blocked.test" if i % 10 == 0 else f"s{i % 3}.example.net"
        lines = [" ".join(rng.choice(words) for _ in range(12))
                 for _ in range(8)]
        lines.insert(0, "home about contact subscribe newsletter")
        body = ("<body>" + "\n".join(lines) + "</body>").encode()
        recs.append((f"https://{host}/p/{i}",
                     f"2020-01-01T00:00:{i % 60:02d}Z", body))
    root = tmp_path / "warc"
    root.mkdir()
    (root / "seg0.warc").write_bytes(warc_file_bytes(recs[:20]))
    (root / "seg1.warc.gz").write_bytes(
        gzip.compress(warc_file_bytes(recs[20:])))
    return str(root)


def test_warc_input_blocklist_and_boilerplate(spark, tmp_path):
    """The full crawl-to-cut path: raw WARC archives -> stream parse ->
    extract -> lang-ID -> blocklist (host + URL pattern, host takes
    precedence) -> df-threshold boilerplate cut -> the rest of the
    funnel."""
    warc_root = _warc_fixture(tmp_path)
    bl = tmp_path / "bl.txt"
    bl.write_text("blocked.test\n")
    rep = _main(["--warc-input", warc_root,
                 "--output", str(tmp_path / "out4"),
                 "--checkpoint", str(tmp_path / "ckpt4"),
                 "--blocklist", str(bl),
                 "--block-url-patterns", r"/p/\d*7$",
                 "--boilerplate-min-df", "6",
                 "--shards", "2", "--skip-quality"])
    # 4 docs on *.blocked.test (host rule), 4 match /p/*7 — but p/7,17,
    # 27,37 are never on the blocked host (those are multiples of 10),
    # so both reasons are fully visible
    assert rep["block_reasons"]["blocked_host"] == 4
    assert rep["block_reasons"]["blocked_path"] == 4
    assert rep["block_reasons"]["ok"] == 32
    stages = {s["stage"]: s["rows"] for s in rep["stages"]}
    assert stages["s01_filtered"] == 40
    assert stages["s01c_blocklisted"] == 32
    assert stages["s04b_boilerplate"] == 32
    assert rep["train_docs"] + rep["split_counts"].get("val", 0) + \
        rep["split_counts"].get("test", 0) == 32
    # the planted nav line is gone from every surviving doc (the df cut
    # removes ALL occurrences, unlike line_dedup's keep-first)
    final = spark.read.parquet(str(tmp_path / "out4" / "train_shards"))
    assert final.filter(
        final.text.contains("home about contact")).count() == 0


def test_verify_extraction_off_keeps_old_report_shape(spark, tmp_path):
    path = _pages_with_bad_row(spark, tmp_path)
    rep = _main(["--input", path,
                 "--output", str(tmp_path / "out3"),
                 "--checkpoint", str(tmp_path / "ckpt3"),
                 "--shards", "2", "--skip-quality"])
    assert "extract_mismatches" not in rep
    assert rep["stages"][0]["rows"] == 5


def test_host_rank_domain_cut(spark, tmp_path):
    """--min-host-rank-micros drops every doc of a link-farm host (out-
    links only, zero in-links → rank pinned at the teleport floor) while
    keeping well-linked hosts AND hosts absent from the link graph (no
    link evidence is not spam evidence)."""
    import random
    from datetime import datetime, timezone

    rng = random.Random(23)
    words = ("orchard river granite meadow copper lantern harbor velvet "
             "thistle ember spruce marble falcon cinder willow quartz").split()
    ts = datetime(2021, 5, 1, tzinfo=timezone.utc)

    def html_for(text, link_hosts):
        anchors = "".join(f'<a href="https://{h}/">x</a>' for h in link_hosts)
        return (f"<html><body>{text}{anchors}</body></html>").encode()

    goods = [f"good{i}.example.net" for i in range(6)]
    rows = []
    for i, h in enumerate(goods):
        for p in range(2):
            text = f"{h} {p} " + " ".join(rng.choice(words) for _ in range(30))
            links = [goods[(i + 1) % 6], goods[(i + 2) % 6]]
            rows.append((f"https://{h}/p{p}", ts, text, "en",
                         html_for(text, links)))
    for p in range(3):  # the farm: links out to everyone, receives none
        text = f"farm {p} " + " ".join(rng.choice(words) for _ in range(30))
        rows.append((f"https://farm.spam.example/f{p}", ts, text, "en",
                     html_for(text, goods)))
    solo_text = "solo " + " ".join(rng.choice(words) for _ in range(30))
    rows.append(("https://island.example.org/solo", ts, solo_text, "en",
                 html_for(solo_text, [])))  # graph-absent → must survive

    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string, "
              "html binary").write.parquet(src)
    rep = _main(["--input", src,
                 "--output", str(tmp_path / "out5"),
                 "--checkpoint", str(tmp_path / "ckpt5"),
                 "--min-host-rank-micros", "50000",
                 "--shards", "1", "--skip-quality"])
    assert rep["low_rank_hosts"] == 1
    stages = {s["stage"]: s["rows"] for s in rep["stages"]}
    assert stages["s01_filtered"] == 16
    assert stages["s01e_host_ranked"] == 13  # 16 − 3 farm docs
    final = spark.read.parquet(str(tmp_path / "out5" / "train_shards"))
    urls = [r["url"] for r in final.select("url").collect()]
    assert not any("farm.spam.example" in u for u in urls)
    assert any("island.example.org" in u for u in urls)


def test_fuzzy_decontaminate_catches_short_eval_leak(spark, tmp_path):
    """A leaked eval item SHORTER than the n-gram window (12 tokens vs
    n=13) yields zero 13-grams — the exact decontamination stage is
    blind to it by construction. --fuzzy-decontaminate (the MinHash
    tier) must drop it; identical shingle sets pin jaccard_est = 1."""
    import hashlib
    import random
    from datetime import datetime, timezone

    rng = random.Random(31)
    words = ("amber basalt cedar dunes ember fjord grove heath inlet "
             "juniper knoll lagoon mesa nectar oasis prairie").split()
    ts = datetime(2022, 1, 1, tzinfo=timezone.utc)
    stem = hashlib.md5(b"leak").hexdigest()
    leak_text = " ".join(f"{stem}t{i}" for i in range(12))  # 12 tokens

    rows = [(f"https://ok.net/d{i}", ts,
             f"doc {i} " + " ".join(rng.choice(words) for _ in range(30)),
             "en") for i in range(8)]
    rows.append(("https://ok.net/leak", ts, leak_text, "en"))
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string"
    ).write.parquet(src)

    ev = str(tmp_path / "eval")
    spark.createDataFrame([(leak_text,)], "text string").write.parquet(ev)

    rep = _main(["--input", src,
                 "--output", str(tmp_path / "out6"),
                 "--checkpoint", str(tmp_path / "ckpt6"),
                 "--eval", ev, "--fuzzy-decontaminate",
                 "--shards", "1", "--skip-quality", "--skip-line-dedup"])
    stages = {s["stage"]: s["rows"] for s in rep["stages"]}
    assert stages["s08_decontaminated"] == 9   # exact tier: blind
    assert stages["s08b_fuzzy_decontaminated"] == 8  # fuzzy tier: caught
    final = spark.read.parquet(str(tmp_path / "out6" / "train_shards"))
    urls = [r["url"] for r in final.select("url").collect()]
    assert "https://ok.net/leak" not in urls


def test_normalize_nfc_merges_encoding_variant_dups(spark, tmp_path):
    """Two crawls of the same page differing only in Unicode encoding
    (composed vs decomposed accents, plus a stray BEL) are distinct
    bytes -- without --normalize both survive exact dedup; with
    --normalize nfc they collapse to one doc."""
    import random
    from datetime import datetime, timezone

    rng = random.Random(41)
    words = ("delta echo foxtrot golf hotel india juliett kilo lima "
             "mike november oscar papa quebec romeo sierra").split()
    ts = datetime(2022, 3, 1, tzinfo=timezone.utc)
    base = "caf\u00e9 r\u00e9sum\u00e9 " + " ".join(
        rng.choice(words) for _ in range(30))
    variant = (base.replace("\u00e9", "e\u0301") + "\x07")

    rows = [("https://a.net/one", ts, base, "en"),
            ("https://b.net/two", ts, variant, "en")]
    rows += [(f"https://c.net/d{i}", ts,
              f"doc {i} " + " ".join(rng.choice(words) for _ in range(30)),
              "en") for i in range(4)]
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string"
    ).write.parquet(src)

    rep_off = _main(["--input", src,
                     "--output", str(tmp_path / "o_off"),
                     "--checkpoint", str(tmp_path / "c_off"),
                     "--shards", "1", "--skip-quality"])
    rep_nfc = _main(["--input", src,
                     "--output", str(tmp_path / "o_nfc"),
                     "--checkpoint", str(tmp_path / "c_nfc"),
                     "--normalize", "nfc",
                     "--shards", "1", "--skip-quality"])
    off = {s["stage"]: s["rows"] for s in rep_off["stages"]}
    nfc = {s["stage"]: s["rows"] for s in rep_nfc["stages"]}
    assert off["s03_exact_dedup"] == 6   # byte-different: both kept
    assert nfc["s03_exact_dedup"] == 5   # normalized: variant collapsed


def test_line_dedup_unit_paragraph(spark, tmp_path):
    """--line-dedup-unit paragraph dedups blank-line-bounded units: a
    two-line paragraph shared across docs is removed as one unit from
    the later doc, while a doc sharing only one of its lines keeps its
    (different) paragraph."""
    import random
    from datetime import datetime, timezone

    rng = random.Random(53)
    words = ("tango uniform victor whiskey xray yankee zulu alpha "
             "bravo charlie delta echo foxtrot golf hotel").split()
    ts = datetime(2022, 6, 1, tzinfo=timezone.utc)

    def filler(i):
        return f"doc {i} " + " ".join(rng.choice(words) for _ in range(25))

    shared = "verify your email\nto keep reading this article"
    rows = [
        ("https://x.net/a", ts, f"{filler(0)}\n\n{shared}", "en"),
        ("https://x.net/b", ts, f"{filler(1)}\n\n{shared}", "en"),
        ("https://x.net/c", ts,
         f"{filler(2)}\n\nverify your email", "en"),
    ]
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string"
    ).write.parquet(src)
    rep = _main(["--input", src,
                 "--output", str(tmp_path / "o_para"),
                 "--checkpoint", str(tmp_path / "c_para"),
                 "--line-dedup-unit", "paragraph",
                 "--shards", "1", "--skip-quality"])
    assert rep["train_docs"] + sum(
        v for k, v in rep["split_counts"].items() if k != "train") == 3
    out = spark.read.parquet(str(tmp_path / "o_para" / "train_shards"))
    texts = {r["url"]: r["text"] for r in out.collect()}
    kept_with_block = [u for u, t in texts.items() if shared in t]
    assert len(kept_with_block) == 1  # keep-first: exactly one survivor
    # /c's single-line paragraph is a DIFFERENT unit — untouched
    if "https://x.net/c" in texts:
        assert texts["https://x.net/c"].endswith("verify your email")


def test_jsonl_input_feeds_funnel_and_skips_corrupt_lines(spark, tmp_path):
    """--jsonl-input: the wire-format dump feeds the funnel; a corrupt
    line and a semantically-broken row are dropped by the source's
    side-channel, never crashing the job."""
    import json
    import random

    rng = random.Random(61)
    words = ("maple willow cedar aspen birch alder rowan hazel elm "
             "poplar linden beech hornbeam chestnut").split()
    d = tmp_path / "dump"
    d.mkdir()
    lines = []
    for i in range(10):
        lines.append(json.dumps({
            "url": f"https://j{i}.net/p",
            "warc_ts": "2021-09-01T00:00:00Z",
            "text": f"doc {i} " + " ".join(
                rng.choice(words) for _ in range(30)),
            "lang": "en"}))
    lines.insert(3, "NOT JSON AT ALL {{{")
    lines.insert(7, json.dumps({"url": None, "text": "orphan"}))
    (d / "part-0.jsonl").write_text("\n".join(lines))

    rep = _main(["--jsonl-input", str(d),
                 "--output", str(tmp_path / "o_jsonl"),
                 "--checkpoint", str(tmp_path / "c_jsonl"),
                 "--shards", "1", "--skip-quality"])
    stages = {s["stage"]: s["rows"] for s in rep["stages"]}
    assert stages["s01_filtered"] == 10  # 12 lines, 2 rejected upstream
    assert rep["train_docs"] + sum(
        v for k, v in rep["split_counts"].items() if k != "train") == 10


def test_kitchen_sink_full_funnel(spark, tmp_path):
    """Every compatible stage in ONE run: WARC ingest -> blocklist ->
    domain-rank cut -> normalize -> boilerplate df-cut -> paragraph
    dedup -> quality -> exact + fuzzy decontamination -> host cap ->
    splits -> token budget -> shards. Catches inter-stage interface
    breaks (column sets, id columns) the per-flag tests cannot."""
    import gzip
    import hashlib
    import random

    from doppel_spark.sources.warc import warc_file_bytes

    rng = random.Random(71)
    words = ("the of and to in that it was for on are as with his they "
             "at be this from have or had by but not what all were we "
             "when your can said there use an each which she do how").split()

    uniq = iter(range(10 ** 6))

    def para(n=3):
        # ~40% unique tokens so the Gopher distinct-fraction rule
        # passes; the stopword-heavy 60% keeps the low_stopword rule
        # happy too
        def tok():
            return (rng.choice(words) if rng.random() < 0.6
                    else f"u{next(uniq)}")
        return "\n\n".join(
            " ".join(tok() for _ in range(60)) for _ in range(n))

    hosts = [f"site{i}.example.net" for i in range(5)]
    recs = []
    n_docs = 40
    for i in range(n_docs):
        host = ("spam.blocked.example" if i % 13 == 0
                else hosts[i % len(hosts)])
        links = "".join(f'<a href="https://{h}/">x</a>'
                        for h in hosts if h != host)
        # links sit inside the FIRST paragraph (wrapper extraction keeps
        # raw inner html) so the nav paragraph stays byte-identical
        # across docs — the df threshold needs identical units
        body = (links + para()
                + "\n\nhome about contact subscribe footer")
        recs.append((f"https://{host}/a/{i}",
                     f"2021-01-01T00:{i % 60:02d}:00Z",
                     f"<html><body>{body}</body></html>".encode()))
    # a leaked eval paragraph, embedded in a full-length doc so it
    # SURVIVES the quality stage and reaches decontamination (the
    # 12-token exact-blind case is covered by its dedicated test —
    # here the exact 13-gram stage must catch a real leak)
    eval_text = para(1)
    leak_doc = eval_text + " " + para(2).replace("\n\n", " ")
    recs.append((f"https://{hosts[0]}/leak",
                 "2021-01-01T00:59:00Z",
                 f"<html><body>{leak_doc}</body></html>".encode()))

    root = tmp_path / "warc"
    root.mkdir()
    (root / "a.warc").write_bytes(warc_file_bytes(recs[:20]))
    (root / "b.warc.gz").write_bytes(gzip.compress(warc_file_bytes(recs[20:])))
    (tmp_path / "bl.txt").write_text("blocked.example\n")
    spark.createDataFrame([(eval_text,)], "text string") \
        .write.parquet(str(tmp_path / "eval"))

    spark.catalog.clearCache()
    rep = _main([
        "--warc-input", str(root),
        "--output", str(tmp_path / "out_ks"),
        "--checkpoint", str(tmp_path / "ckpt_ks"),
        "--blocklist", str(tmp_path / "bl.txt"),
        "--min-host-rank-micros", "1",   # exercises the stage; farm-free
        "--normalize", "nfc",
        "--boilerplate-min-df", "10",
        "--line-dedup-unit", "paragraph",
        "--eval", str(tmp_path / "eval"), "--fuzzy-decontaminate",
        "--max-per-host", "8",
        "--token-budget", "2000",
        "--shards", "2",
    ])
    # each stage's materializer is freed once its stage is written and
    # re-read, so no cache outlives the run
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    stages = {s["stage"]: s["rows"] for s in rep["stages"]}
    # every configured stage ran, in order
    want_order = ["s01_filtered", "s01b_block_reasons", "s01c_blocklisted",
                  "s01d_low_rank_hosts", "s01e_host_ranked",
                  "s02_url_canonical", "s03_exact_dedup", "s04_redacted",
                  "s04b_boilerplate", "s05_line_dedup", "s06_quality_reasons",
                  "s07_quality_kept", "s08_decontaminated",
                  "s08b_fuzzy_decontaminated", "s09_host_capped",
                  "s10_splits", "s11_train_token_cut"]
    got_order = [s["stage"] for s in rep["stages"]]
    assert got_order == want_order
    assert rep["block_reasons"]["blocked_host"] == 4    # docs 0,13,26,39
    assert stages["s01c_blocklisted"] == 37
    # the leak doc shares 13-grams with the eval paragraph — the exact
    # stage cuts it; the fuzzy stage then has nothing left to cut
    assert stages["s08_decontaminated"] == stages["s07_quality_kept"] - 1
    assert stages["s08b_fuzzy_decontaminated"] \
        == stages["s08_decontaminated"]
    assert rep["train_tokens"] <= 2000
    out = spark.read.parquet(str(tmp_path / "out_ks" / "train_shards"))
    texts = [r["text"] for r in out.collect()]
    assert texts, "budget must leave at least one doc"
    assert not any("subscribe footer" in t for t in texts)  # df-cut fired


def test_incremental_crawl_seen_digests(spark, tmp_path):
    """Two-crawl incremental mode: run 1 bootstraps <out>/new_digests;
    run 2 over crawl 1 ∪ crawl 2 with --seen-digests drops every doc
    whose CONTENT was already curated — including a re-crawl under a
    brand-new url — while genuinely new docs pass."""
    import random
    from datetime import datetime, timezone

    rng = random.Random(83)
    words = ("harbor beacon anchor mast rudder galley keel bow stern "
             "compass sextant chart buoy tide current").split()
    ts = datetime(2022, 9, 1, tzinfo=timezone.utc)

    def doc(i):
        return f"doc {i} " + " ".join(rng.choice(words) for _ in range(30))

    crawl1 = [(f"https://a.net/{i}", ts, doc(i), "en") for i in range(6)]
    src1 = str(tmp_path / "crawl1")
    spark.createDataFrame(
        crawl1, "url string, warc_ts timestamp, text string, lang string"
    ).write.parquet(src1)
    rep1 = _main(["--input", src1, "--output", str(tmp_path / "o1"),
                  "--checkpoint", str(tmp_path / "c1"),
                  "--shards", "1", "--skip-quality"])
    assert rep1["train_docs"] + sum(
        v for k, v in rep1["split_counts"].items() if k != "train") == 6
    digests = str(tmp_path / "o1" / "new_digests")
    assert spark.read.parquet(digests).count() == 6

    # crawl 2 = all of crawl 1 (refetched) + a re-crawl of doc 2 under
    # a NEW url + 3 genuinely new docs
    crawl2 = list(crawl1)
    crawl2.append(("https://mirror.net/copy-of-2", ts, crawl1[2][2], "en"))
    crawl2 += [(f"https://b.net/{i}", ts, doc(100 + i), "en")
               for i in range(3)]
    src2 = str(tmp_path / "crawl2")
    spark.createDataFrame(
        crawl2, "url string, warc_ts timestamp, text string, lang string"
    ).write.parquet(src2)
    rep2 = _main(["--input", src2, "--output", str(tmp_path / "o2"),
                  "--checkpoint", str(tmp_path / "c2"),
                  "--seen-digests", digests,
                  "--shards", "1", "--skip-quality"])
    stages = {s["stage"]: s["rows"] for s in rep2["stages"]}
    assert stages["s01_filtered"] == 10
    assert stages["s02b_new_content"] == 3  # only the b.net docs
    out2 = spark.read.parquet(str(tmp_path / "o2" / "train_shards"))
    assert all(r["url"].startswith("https://b.net/")
               for r in out2.select("url").collect())
    # run 2's digest table holds only the new content
    assert spark.read.parquet(str(tmp_path / "o2" / "new_digests")) \
        .count() == 3


def test_url_shape_cut(spark, tmp_path):
    """--max-path-depth / --max-path-digit-micros drop calendar-trap
    and session-id-slug urls before any content stage."""
    import random
    from datetime import datetime, timezone

    rng = random.Random(97)
    words = ("granite slate shale flint basalt gneiss quartzite chert "
             "marble gypsum pumice obsidian").split()
    ts = datetime(2022, 10, 1, tzinfo=timezone.utc)

    def text(i):
        return f"doc {i} " + " ".join(rng.choice(words) for _ in range(30))

    rows = [
        (f"https://ok.net/blog/post-{i}", ts, text(i), "en")
        for i in range(4)
    ]
    rows.append(("https://trap.net/2021/03/14/09/59/59/p", ts,
                 text(10), "en"))                       # depth 7
    rows.append(("https://spam.net/s/9f8e7d6c5b4a392817", ts,
                 text(11), "en"))                       # digit-heavy slug
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string"
    ).write.parquet(src)
    rep = _main(["--input", src, "--output", str(tmp_path / "o_shape"),
                 "--checkpoint", str(tmp_path / "c_shape"),
                 "--max-path-depth", "4",
                 "--max-path-digit-micros", "400000",
                 "--shards", "1", "--skip-quality"])
    stages = {s["stage"]: s["rows"] for s in rep["stages"]}
    assert stages["s01_filtered"] == 6
    assert stages["s01a_url_shape"] == 4
    out = spark.read.parquet(str(tmp_path / "o_shape" / "train_shards"))
    urls = [r["url"] for r in out.collect()]
    assert all(u.startswith("https://ok.net/") for u in urls)
