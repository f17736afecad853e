"""Checkpoint/resume: idempotency, config invalidation, lineage manifests."""

from __future__ import annotations

import json
import os

from doppel_spark.checkpoint import CheckpointStore, run_exact_dedup_checkpointed
from doppel_spark.corpus import synth_pages


def test_stage_runs_once_and_resumes(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ckpt"), run_config={"v": 1})
    pages = synth_pages(spark, 150)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return pages.select("url", "text")

    a = store.run("stage_a", build)
    assert calls["n"] == 1 and a.count() == 150
    b = store.run("stage_a", build)  # resume: no rebuild
    assert calls["n"] == 1 and b.count() == 150
    m = store.manifest("stage_a")
    assert m["rows"] == 150
    assert sum(m["partition_counts"].values()) == 150  # per-partition lineage


def test_config_change_invalidates(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    pages = synth_pages(spark, 50)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return pages.select("url")

    CheckpointStore(spark, root, run_config={"v": 1}).run("s", build)
    CheckpointStore(spark, root, run_config={"v": 2}).run("s", build)
    assert calls["n"] == 2


def test_crash_before_publish_reruns(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    store = CheckpointStore(spark, root, run_config=None)
    pages = synth_pages(spark, 50)
    store.run("s", lambda: pages.select("url"))
    # simulate a crash between data write and manifest publish
    os.remove(os.path.join(root, "s", "_STAGE_MANIFEST.json"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return pages.select("url")

    store.run("s", build)
    assert calls["n"] == 1  # re-ran, then published


def test_full_pipeline_checkpointed_idempotent(spark, tmp_path):
    pages = synth_pages(spark, 200)
    r1 = run_exact_dedup_checkpointed(
        CheckpointStore(spark, str(tmp_path / "c1"), run_config="cfg"),
        pages, size_col=None)
    r2 = run_exact_dedup_checkpointed(
        CheckpointStore(spark, str(tmp_path / "c2"), run_config="cfg"),
        pages, size_col=None)
    g1 = {(r["digest"], tuple(r["urls"])) for r in r1["groups"].collect()}
    g2 = {(r["digest"], tuple(r["urls"])) for r in r2["groups"].collect()}
    assert g1 == g2 and len(g1) > 0
    # resume path: second invocation on c1 reuses all three stages
    r3 = run_exact_dedup_checkpointed(
        CheckpointStore(spark, str(tmp_path / "c1"), run_config="cfg"),
        pages, size_col=None)
    g3 = {(r["digest"], tuple(r["urls"])) for r in r3["groups"].collect()}
    assert g3 == g1
    # metrics table lists all three published stages
    stages = [m["stage"] for m in
              CheckpointStore(spark, str(tmp_path / "c1"), run_config="cfg").metrics()]
    assert stages == ["s1_length_candidates", "s2_quick_candidates", "s3_dup_groups"]


def test_neardup_checkpointed_resume(spark, tmp_path):
    """The durable policy: every cut of the near-dup pipeline is a
    published stage of the store. A second run on the same store builds
    none of them and returns the same clusters (the identity with the
    ephemeral policies is pinned in test_r06_optimizations)."""
    from doppel_spark.operators.neardup import near_dup_pipeline
    from doppel_spark.operators.stage import StageMaterializer

    built = []

    class CountingStore(CheckpointStore):
        def run(self, stage, build, sort_cols=None):
            def counted():
                built.append(stage)
                return build()
            return super().run(stage, counted, sort_cols=sort_cols)

    pages = synth_pages(spark, 150)
    root = str(tmp_path / "nd")

    def clusters(store):
        mat = StageMaterializer.for_input(pages, prefix="neardup", store=store)
        res = near_dup_pipeline(pages, mat=mat)
        return {(r["url"], r["cluster_rep"]) for r in res.clusters.collect()}

    c1 = clusters(CountingStore(spark, root, run_config="v1"))
    assert c1
    cuts = ["digests", "sigs", "memb", "cand", "pairs"]
    assert built == cuts
    # resume: all five stages reused, identical clusters
    built.clear()
    c2 = clusters(CountingStore(spark, root, run_config="v1"))
    assert built == [] and c2 == c1
    stages = [m["stage"] for m in CheckpointStore(spark, root).metrics()]
    assert stages == sorted(cuts)
