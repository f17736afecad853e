"""IVF ANN variant + streaming windowed aggregation."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from doppel_spark.corpus import synth_pages
from doppel_spark.operators.similarity import (
    brute_force_topk,
    ivf_ann_topk,
    ivf_assign,
    ivf_centroids,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def test_ivf_centroids_deterministic(spark):
    emb = spark.read.parquet(EMB)
    c1 = ivf_centroids(emb, 8)
    c2 = ivf_centroids(emb, 8)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, 64)
    norms = np.linalg.norm(c1, axis=1)
    assert np.allclose(norms, 1.0, atol=1e-9)


def test_ivf_assign_matches_numpy(spark):
    emb = spark.read.parquet(EMB).limit(50)
    cent = ivf_centroids(spark.read.parquet(EMB), 8)
    got = {r["vec_id"]: r["ivf_cell"]
           for r in ivf_assign(emb, cent).select("vec_id", "ivf_cell").collect()}
    pdf = emb.toPandas()
    for r in pdf.itertuples():
        v = np.array(r.embedding, dtype=np.float64)
        assert got[r.vec_id] == int((cent @ v).argmax())


def test_ivf_ann_overlaps_exact(spark):
    emb = spark.read.parquet(EMB)
    qids = [0, 1, 2]
    exact = brute_force_topk(emb, qids, k=10).toPandas()
    approx = ivf_ann_topk(emb, qids, k=10, n_centroids=8, n_probe=3).toPandas()
    e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    a = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
    assert len(a) > 0
    assert len(e & a) / len(e) >= 0.3  # cell-probed search, sane overlap


def test_windowed_event_counts_append_watermark(spark, tmp_path):
    """The guaranteed side of the watermark contract, cross-batch:
    a late row inside the watermark updates its already-seen window;
    append mode emits each closed window exactly once; a window the
    watermark never passes is withheld in state."""
    import time

    from doppel_spark.streaming.windows import windowed_event_counts

    def planted(ts, kind, n=1):
        return spark.range(n).select(
            F.to_timestamp(F.lit(ts)).alias("ts"),
            F.lit(kind).alias("event_type"))

    # batch 0: two rows in the 10:00 window + the anchor that will set
    # the post-batch watermark to 2024-03-01 11:00
    b0 = planted("2024-01-05 10:15:00", "click", 2).union(
        planted("2024-03-01 12:00:00", "anchor"))
    # batch 1: a late arrival inside the guarantee — watermark is
    # 11:00 after batch 0, and 11:30's window end (12:00) > 11:00
    b1 = planted("2024-03-01 11:30:00", "late_ok").union(
        planted("2024-06-01 00:00:00", "sentinel"))
    b0.coalesce(1).write.parquet(str(tmp_path / "in" / "b0"))
    time.sleep(1.1)  # distinct mtimes fix the file-source batch order
    b1.coalesce(1).write.parquet(str(tmp_path / "in" / "b1"))
    stream = (spark.readStream.schema("ts timestamp, event_type string")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(tmp_path / "in" / "*")))
    q = (windowed_event_counts(stream, watermark="1 hour")
         .writeStream.trigger(availableNow=True)
         .format("parquet").option("path", str(tmp_path / "out"))
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.awaitTermination()
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    got = {(str(r["window"]["start"]), r["event_type"]): r["n_events"]
           for r in rows}
    assert got[("2024-01-05 10:00:00", "click")] == 2
    assert got[("2024-03-01 12:00:00", "anchor")] == 1
    assert got[("2024-03-01 11:00:00", "late_ok")] == 1
    # exactly-once append: no window/key appears twice
    assert len(got) == len(rows)
    # the sentinel's window never closed — withheld, not emitted
    assert not any(k for k in got if k[1] == "sentinel")
