"""StageMaterializer: strategy selection, cut semantics, cleanup."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from doppel_spark.config import NearDupConfig
from doppel_spark.corpus import synth_pages
from doppel_spark.operators.neardup import near_dup_pipeline
from doppel_spark.operators.stage import (
    SMALL_INPUT_BYTES,
    StageMaterializer,
    plan_size_bytes,
)
from doppel_spark.plans.inspect import physical_plan


def test_plan_size_bytes_parquet_scan_accurate(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(10_000).withColumn("x", F.rand(42)).write.parquet(path)
    df = spark.read.parquet(path)
    est = plan_size_bytes(df)
    disk = sum(f.stat().st_size for f in (tmp_path / "t.parquet").glob("*.parquet"))
    assert est is not None and 0 < est
    # Catalyst's estimate for a scan is file-size based
    assert abs(est - disk) / disk < 0.5


def test_for_input_auto_picks_persist_for_small(spark, tmp_path):
    path = str(tmp_path / "small.parquet")
    spark.range(100).write.parquet(path)
    df = spark.read.parquet(path)
    mat = StageMaterializer.for_input(df, prefix="t")
    assert mat.mode == "persist"  # far below SMALL_INPUT_BYTES


def test_for_input_explicit_override(spark):
    # a caller that needs one policy whatever the size builds it directly
    assert StageMaterializer(spark, mode="table").mode == "table"
    assert StageMaterializer(spark, mode="persist").mode == "persist"


def test_for_input_decides_on_every_frame(spark):
    small = spark.range(10).toDF("id")
    big = spark.range(SMALL_INPUT_BYTES // 8 + 1).toDF("id")  # never run
    assert plan_size_bytes(big) >= SMALL_INPUT_BYTES
    assert StageMaterializer.for_input(small).mode == "persist"
    assert StageMaterializer.for_input(small, big).mode == "table"
    assert StageMaterializer.for_input(big, small).mode == "table"


def test_cut_persist_roundtrip_and_cleanup(spark):
    mat = StageMaterializer(spark, mode="persist", prefix="t")
    df = spark.range(1000).withColumn("y", F.col("id") * 2)
    out = mat.cut(df, "stage1")
    assert out.count() == 1000
    assert out.filter(F.col("y") == 10).count() == 1
    assert len(mat.cached) == 1
    mat.cleanup()
    assert mat.cached == []


def test_cut_table_roundtrip_and_cleanup(spark):
    mat = StageMaterializer(spark, mode="table", prefix="t")
    df = spark.range(1000).withColumn("y", F.col("id") * 3)
    out = mat.cut(df, "stage1")
    assert out.count() == 1000
    assert sorted(out.columns) == ["id", "y"]
    path = mat.paths[0]
    assert os.path.exists(path)
    # the returned frame reads the table, not the original lineage:
    # accurate stats + truncated lineage is the whole point
    assert "Scan parquet" in out._jdf.queryExecution().executedPlan().toString()
    mat.cleanup()
    assert not os.path.exists(path)
    assert mat.paths == []


def test_table_mode_threshold_boundary(spark):
    # unknown-size plans (no file-backed root) must not crash the
    # auto decision; they default to the persist strategy
    df = spark.createDataFrame([(i,) for i in range(5)], "id long")
    mat = StageMaterializer.for_input(df, prefix="t")
    assert mat.mode in ("persist", "table")
    est = plan_size_bytes(df)
    if est is not None and est < SMALL_INPUT_BYTES:
        assert mat.mode == "persist"


def test_release_single_cut_persist(spark):
    mat = StageMaterializer(spark, mode="persist", prefix="t")
    a = mat.cut(spark.range(100).toDF("id"), "a")
    b = mat.cut(spark.range(200).toDF("id"), "b")
    mat.release(a)
    assert len(mat.cached) == 1  # only b remains owned
    assert b.count() == 200  # b untouched
    mat.release(spark.range(5).toDF("id"))  # non-owned frame: no-op
    mat.cleanup()


def test_release_single_cut_table(spark):
    mat = StageMaterializer(spark, mode="table", prefix="t")
    a = mat.cut(spark.range(100).toDF("id"), "a")
    b = mat.cut(spark.range(200).toDF("id"), "b")
    pa, pb = mat.paths
    mat.release(a)
    assert not os.path.exists(pa)  # a's scratch table deleted
    assert os.path.exists(pb)
    assert b.count() == 200
    mat.cleanup()
    assert not os.path.exists(pb)


def test_table_entry_pins_frame(spark):
    # the table-mode ownership entry must hold a strong reference to the
    # returned frame: id() keys are only unique while the object lives,
    # and a reused id would let release() delete a live unrelated
    # frame's scratch table (ADVICE r4)
    mat = StageMaterializer(spark, mode="table", prefix="t")
    out = mat.cut(spark.range(10).toDF("id"), "a")
    entry = mat._frames[id(out)]
    assert entry[0] == "table" and entry[2] is out
    mat.cleanup()


def test_cut_iter_persist_truncates_plan(spark):
    # iterative persist-mode cuts must keep Catalyst plans O(1): after
    # a cut the frame's logical plan is a LogicalRDD, not the nested
    # union/join lineage (whose analysis cost doubles per round)
    mat = StageMaterializer(spark, mode="persist", prefix="t")
    df = spark.range(100).toDF("id")
    for i in range(3):
        df = mat.cut_iter(df.withColumn("id", F.col("id") + 1), f"r{i}",
                          eager=False)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan and "Join" not in plan
    assert df.agg(F.sum("id")).collect()[0][0] == sum(range(3, 103))


def test_cut_iter_table_mode_uses_tables(spark):
    mat = StageMaterializer(spark, mode="table", prefix="t")
    out = mat.cut_iter(spark.range(50).toDF("id"), "r0", eager=False)
    assert len(mat.paths) == 1  # table mode ignores eager: real table
    assert out.count() == 50
    mat.release(out)
    assert mat.paths == []


def test_cut_force_false_lazy_persist(spark):
    mat = StageMaterializer(spark, mode="persist", prefix="t")
    out = mat.cut(spark.range(75).toDF("id"), "s", force=False)
    assert out.count() == 75  # first consumer fills the cache
    assert len(mat.cached) == 1
    mat.cleanup()


def test_cleanup_tolerates_stopped_context(spark, monkeypatch):
    # a result's cleanup() can run after spark.stop(); unpersist then
    # raises from the JVM (block manager endpoint gone).
    # cleanup must swallow it and still clear its own state.
    mat = StageMaterializer(spark, mode="persist", prefix="t")
    out = mat.cut(spark.range(100).toDF("id"), "stage1")
    assert out.count() == 100

    def boom(*a, **k):
        raise RuntimeError("SparkContext stopped")

    monkeypatch.setattr(type(out), "unpersist", boom)
    mat.cleanup()  # must not raise
    assert mat.cached == [] and mat.paths == [] and mat._frames == {}


def test_cut_force_false_fills_eagerly_on_non_local_master(spark):
    # a lazy fill is only serialized by ONE block manager's write locks;
    # on a cluster concurrent cold consumers could each recompute it
    mat = StageMaterializer(spark, mode="persist", prefix="t")
    mat._local = False
    sc = spark.sparkContext
    sc.setJobGroup("stage-nonlocal-fill", "t")
    try:
        mat.cut(spark.range(75).toDF("id"), "s", force=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("stage-nonlocal-fill")
    mat.cleanup()


def test_durable_cut_is_a_stage_and_iter_cuts_stay_transient(spark, tmp_path):
    from doppel_spark.checkpoint import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "ck"))
    mat = StageMaterializer(spark, mode="table", prefix="t", store=store)
    out = mat.cut(spark.range(40).toDF("id"), "s1")
    assert out.count() == 40 and store.is_complete("s1")
    it = mat.cut_iter(spark.range(5).toDF("id"), "r0")
    assert it.count() == 5 and len(mat.paths) == 1
    assert not os.path.exists(os.path.join(store.root, "r0"))
    mat.cleanup()
    # the durable stage belongs to the store, not the materializer
    assert mat.paths == [] and store.is_complete("s1")
    assert spark.read.parquet(os.path.join(store.root, "s1")).count() == 40


def test_cut_name_is_unique_per_materializer(spark, tmp_path):
    # under a store a reused name would resume the first stage's table
    from doppel_spark.checkpoint import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "ck"))
    mat = StageMaterializer(spark, mode="persist", prefix="t", store=store)
    assert mat.cut(spark.range(3).toDF("id"), "x").count() == 3
    with pytest.raises(ValueError, match="'x' is already cut"):
        mat.cut(spark.range(7).toDF("id"), "x")
    mat.cleanup()


# --- plan mode: a small input plans the pipeline's actions statically ---

AQE = "spark.sql.adaptive.enabled"


@pytest.fixture()
def aqe_prior(spark, request):
    """Sets ``spark.sql.adaptive.enabled`` to the parametrized prior and
    puts the session default back afterwards."""
    before = spark.conf.get(AQE)
    spark.conf.set(AQE, request.param)
    yield request.param
    spark.conf.set(AQE, before)


@pytest.mark.parametrize("aqe_prior", ["true", "false"], indirect=True)
def test_neardup_restores_aqe_after_return_and_raise(spark, aqe_prior,
                                                     monkeypatch):
    from doppel_spark.operators import neardup

    pages = synth_pages(spark, 120)
    res = neardup.near_dup_pipeline(pages, NearDupConfig())
    assert spark.conf.get(AQE) == aqe_prior
    res.cleanup()

    seen = []

    def boom(edges, mat=None, **kw):
        seen.append(spark.conf.get(AQE))
        raise RuntimeError("components failed")

    monkeypatch.setattr(neardup, "connected_components", boom)
    with pytest.raises(RuntimeError, match="components failed"):
        neardup.near_dup_pipeline(pages, NearDupConfig())
    assert seen == ["false"]  # the scope covers connected components
    assert spark.conf.get(AQE) == aqe_prior
    spark.catalog.clearCache()


def _cut_plans(spark, monkeypatch, mat, use_simhash):
    """Physical plans of every frame cut during one pipeline run."""
    plans = []
    real_cut = StageMaterializer.cut

    def spy(self, df, name, force=True):
        plans.append(physical_plan(df))
        return real_cut(self, df, name, force=force)

    monkeypatch.setattr(StageMaterializer, "cut", spy)
    res = near_dup_pipeline(synth_pages(spark, 120), NearDupConfig(),
                            use_simhash=use_simhash, mat=mat)
    res.clusters.collect()
    res.cleanup()
    assert any("Exchange" in p for p in plans)  # non-vacuous
    return plans


def test_small_persist_run_plans_statically(spark, monkeypatch):
    mat = StageMaterializer(spark, mode="persist", prefix="neardup")
    plans = _cut_plans(spark, monkeypatch, mat, use_simhash=True)
    assert not any("AdaptiveSparkPlan" in p for p in plans)
    # every join still broadcasts: the corpus text never shuffles
    assert any("BroadcastHashJoin" in p for p in plans)
    assert not any("SortMergeJoin" in p for p in plans)


@pytest.mark.parametrize("policy", ["table", "durable"])
def test_table_and_durable_policies_keep_aqe(spark, tmp_path, monkeypatch,
                                             policy):
    from doppel_spark.checkpoint import CheckpointStore

    store = (CheckpointStore(spark, str(tmp_path / "ck"))
             if policy == "durable" else None)
    mode = "table" if policy == "table" else "persist"
    mat = StageMaterializer(spark, mode=mode, prefix="neardup", store=store)
    plans = _cut_plans(spark, monkeypatch, mat, use_simhash=False)
    assert all("AdaptiveSparkPlan" in p for p in plans if "Exchange" in p)


def test_non_local_fallback_persists_with_aqe(spark, monkeypatch):
    # a LARGE input on a cluster without spark.doppel.scratchDir falls
    # back to persist cuts; its joins can still be skewed, so AQE stays
    assert spark.conf.get("spark.doppel.scratchDir", None) is None
    monkeypatch.setattr(spark.sparkContext, "master", "spark://cluster:7077")
    with pytest.warns(RuntimeWarning, match="falling back to persist"):
        mat = StageMaterializer(spark, mode="table", prefix="neardup")
    monkeypatch.undo()
    assert mat.mode == "persist" and not mat.small_input
    plans = _cut_plans(spark, monkeypatch, mat, use_simhash=False)
    assert all("AdaptiveSparkPlan" in p for p in plans if "Exchange" in p)


def test_narrow_answers_for_the_static_plan(spark):
    # a 1000-row aggregate: AQE would coalesce its exchange to one
    # partition (narrow); a static plan keeps shuffle.partitions (= par)
    from pyspark.sql import Window

    from doppel_spark.operators.neardup import _narrow

    def agg():
        return spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()

    def stem():
        # the shape of the entry module's planted-stem input: a hash
        # aggregate under an orderBy().limit() and an unpartitioned
        # window, which leave one partition, not shuffle.partitions
        return (agg().orderBy("k").limit(5)
                .withColumn("rk", F.row_number().over(Window.orderBy("k"))))

    def stems():
        sel = stem()
        return sel.filter("rk < 3").union(sel.filter("rk >= 3"))

    par = spark.sparkContext.defaultParallelism
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == par
    assert _narrow(agg(), par)
    with StageMaterializer(spark, mode="persist").static_plan(agg()):
        assert "AdaptiveSparkPlan" not in physical_plan(agg())
        assert not _narrow(agg(), par)
        assert _narrow(agg(), par + 1)
        for frame in (stem, stems):
            assert "Exchange hashpartitioning" in physical_plan(frame())
            assert frame().rdd.getNumPartitions() < par
            assert _narrow(frame(), par)
    assert _narrow(agg(), par)


@pytest.mark.parametrize("threshold", ["1k", "-1"])
def test_static_plan_needs_input_within_broadcast_threshold(spark, threshold):
    # without AQE a join broadcasts only from planner estimates, which
    # scale with the input's: past the threshold the scope keeps AQE
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    mat = StageMaterializer(spark, mode="persist")
    small = spark.range(1000)  # estimate 8000 B
    try:
        with mat.static_plan(small):
            assert spark.conf.get(AQE) == "false"
        spark.conf.set(key, threshold)
        with mat.static_plan(small):
            assert spark.conf.get(AQE) == "true"
    finally:
        spark.conf.set(key, before)
    assert spark.conf.get(AQE) == "true"
