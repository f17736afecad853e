"""Report sinks + the spark-submit job entrypoint."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from doppel_spark.operators.exact import exact_dup_pipeline
from doppel_spark.report import DuplicateReport, build_report

REPO = Path(__file__).resolve().parents[1]


def test_report_json_and_pretty(spark, docs):
    res = exact_dup_pipeline(docs, size_col=None)
    rep = build_report(res, duration_s=1.5)
    data = json.loads(rep.to_json())
    assert data["duplicate_groups"] == 2
    assert data["stats"]["duplicate_docs"] == 5
    text = rep.pretty()
    assert "duplicate groups: 2" in text
    assert "docs/sec" in text  # the reference's processing-rate line


def test_job_entrypoint_end_to_end(tmp_path):
    """Run the job script as a real subprocess (the spark-submit shape)."""
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "neardup_job.py"),
         "--synth-docs", "150", "--output", str(out),
         "--checkpoint", str(ckpt), "--mode", "both"],
        capture_output=True, text=True, timeout=420, env=env, cwd="/tmp",
    )
    assert r.returncode == 0, r.stderr[-3000:]
    summary = json.loads((out / "report.json").read_text())
    assert summary["mode"] == "both"
    assert (out / "groups" / "_SUCCESS").exists()
    assert (out / "clusters" / "_SUCCESS").exists()
    assert (out / "pairs" / "_SUCCESS").exists()
    # checkpoint published manifests for all exact + near stages
    stages = sorted(os.listdir(ckpt / "exact"))
    assert stages == ["s1_length_candidates", "s2_quick_candidates", "s3_dup_groups"]
    nstages = sorted(os.listdir(ckpt / "near"))
    assert nstages == ["cand", "digests", "memb", "pairs", "sigs"]


def test_report_yaml_and_render_dispatch(spark, docs):
    import pytest

    from doppel_spark.report import render

    res = exact_dup_pipeline(docs, size_col=None)
    rep = build_report(res, duration_s=2.0)
    # one run renders through every registered formatter
    y = render(rep, "yaml")
    assert "total_wasted_space:" in y and "stats:" in y
    assert "  duplicate_groups: 2" in y
    j = json.loads(render(rep, "json"))
    assert j["duplicate_groups"] == 2
    p = render(rep, "pretty")
    assert "docs/sec" in p
    with pytest.raises(ValueError, match="unknown output format"):
        render(rep, "xml")


def test_job_output_format_pretty(tmp_path):
    out = tmp_path / "out"
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "neardup_job.py"),
         "--synth-docs", "120", "--output", str(out), "--mode", "exact",
         "--output-format", "pretty"],
        capture_output=True, text=True, timeout=420, env=env, cwd="/tmp",
    )
    assert r.returncode == 0, r.stderr[-3000:]
    rendered = (out / "stats_report.txt").read_text()
    assert "Duplicate Detection Report" in rendered
    assert "processing rate:" in rendered  # pretty_formatter.go:141-146 analog
    assert "processing rate:" in r.stdout


def test_job_normalize_merges_encoding_variants(spark, tmp_path):
    """--normalize nfc: composed and decomposed crawls of the same page
    form ONE exact-dup group; without the flag they are distinct bytes
    and no group forms. In-process call of the job's main() (subprocess
    startup is covered by the e2e test above)."""
    import sys as _sys

    _sys.path.insert(0, str(REPO / "jobs"))
    import neardup_job

    base = "caf\u00e9 r\u00e9sum\u00e9 " + " ".join(
        f"tok{i}" for i in range(30))
    rows = [("u:1", base), ("u:2", base.replace("\u00e9", "e\u0301"))]
    rows += [(f"u:{i}", f"doc {i} " + " ".join(f"w{i}x{j}" for j in range(30)))
             for i in range(3, 8)]
    src = str(tmp_path / "pages")
    spark.createDataFrame(rows, "url string, text string").write.parquet(src)

    import duckdb

    for flag, expect_groups in (("off", 0), ("nfc", 1)):
        out = str(tmp_path / f"out_{flag}")
        neardup_job.main(["--input", src, "--output", out,
                          "--mode", "exact", "--normalize", flag])
        n = duckdb.connect().execute(
            f"select count(*) from '{out}/groups/*.parquet'").fetchone()[0]
        assert n == expect_groups, (flag, n)


def test_job_tables_identical_with_and_without_checkpoint(spark, tmp_path):
    """One near-dup pipeline behind the job: --checkpoint only makes its
    cuts durable, so clusters, verified pairs and bucket stats are the
    same row sets with and without it, with and without --simhash, and
    again when a checkpointed run resumes from its store, also from one
    written without --simhash."""
    import sys as _sys

    _sys.path.insert(0, str(REPO / "jobs"))
    import neardup_job

    from doppel_spark.corpus import synth_pages

    src = str(tmp_path / "pages")
    synth_pages(spark, 200).write.parquet(src)

    def tables(name, *flags):
        out = str(tmp_path / name)
        neardup_job.main(["--input", src, "--output", out, "--mode", "near",
                          *flags])
        return {t: sorted(tuple(r) for r in
                          spark.read.parquet(f"{out}/{t}").collect())
                for t in ("clusters", "pairs", "bucket_stats")}

    ephemeral = {}
    for sh in ((), ("--simhash",)):
        tag = "sh" if sh else "lsh"
        ckpt = str(tmp_path / f"ckpt_{tag}")
        ephemeral[tag] = tables(f"eph_{tag}", *sh)
        assert ephemeral[tag]["pairs"] and ephemeral[tag]["clusters"]
        assert tables(f"ck_{tag}", "--checkpoint", ckpt, *sh) == ephemeral[tag]
        assert tables(f"re_{tag}", "--checkpoint", ckpt, *sh) == ephemeral[tag]
    # --simhash keys the store: a store written without it is not
    # resumed by a --simhash run (its sigs stage has no fingerprints)
    assert tables("lsh_then_sh", "--checkpoint", str(tmp_path / "ckpt_lsh"),
                  "--simhash") == ephemeral["sh"]
