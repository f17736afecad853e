"""StageMaterializer: strategy selection, cut semantics, cleanup."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from doppel_spark.operators.stage import (
    SMALL_INPUT_BYTES,
    StageMaterializer,
    plan_size_bytes,
)


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
    df = spark.range(10).toDF("id")
    assert StageMaterializer.for_input(df, small_input=False).mode == "table"
    assert StageMaterializer.for_input(df, small_input=True).mode == "persist"


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
    # atexit-registered ad-hoc materializers can fire after spark.stop();
    # unpersist then raises from the JVM (block manager endpoint gone).
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
