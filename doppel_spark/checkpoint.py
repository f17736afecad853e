"""Per-stage checkpointing with lineage + metrics — resumable pipelines.

North-rule requirement: "checkpoint per-partition lineage + metrics to
Iceberg so any stage resumes idempotently". Iceberg jars are not in
this environment, so the store is a directory of parquet stage tables
plus a JSON manifest per stage — the same commit protocol Iceberg
gives us (write data, then atomically publish metadata; readers only
trust published stages). Swapping ``_publish``/``is_complete`` for
Iceberg table commits is a sink-level change only.

Manifest contents per stage:
* ``config_hash`` — stages are keyed by their configuration; a resume
  with different config invalidates the checkpoint instead of silently
  reusing it
* ``rows`` + ``partition_counts`` — per-partition lineage: row count
  by ``spark_partition_id`` at write time, letting an auditor tie each
  output partition back to a task
* wall-clock duration + stage name ≈ the reference's per-run Stats
  (/root/reference/internal/model/model.go:51-78)

The near-dup pipeline checkpoints through a durable ``StageMaterializer``
(one stage per cut); :func:`run_exact_dedup_checkpointed` runs the exact
funnel with one stage per step.

Idempotency contract (tested): re-running a completed stage is a no-op
read; killing between data-write and publish re-runs the stage; outputs
are byte-identical given the same seed/config.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_STAGE_MANIFEST.json"


def config_hash(obj: object) -> str:
    """Stable hash of any repr-able config object."""
    return hashlib.sha256(repr(obj).encode()).hexdigest()[:16]


@dataclass
class CheckpointStore:
    spark: SparkSession
    root: str
    run_config: object = None
    _cfg: str = field(init=False)

    def __post_init__(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        self._cfg = config_hash(self.run_config)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), MANIFEST)

    def is_complete(self, stage: str) -> bool:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return False
        with open(p) as f:
            m = json.load(f)
        return m.get("config_hash") == self._cfg

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as f:
            return json.load(f)

    def run(self, stage: str, build: Callable[[], DataFrame],
            sort_cols: list[str] | None = None) -> DataFrame:
        """Run (or resume) a stage; returns the stage's DataFrame.

        ``build`` is only invoked when the stage isn't already complete
        under the current config. Data is written first; the manifest is
        published last (atomic rename), so a crash mid-write re-runs.
        """
        path = self._dir(stage)
        if self.is_complete(stage):
            return self.spark.read.parquet(path)

        t0 = time.time()
        df = build()
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        df.write.mode("overwrite").parquet(path)

        out = self.spark.read.parquet(path)
        pc = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .count().orderBy("partition_id").collect()
        )
        manifest = {
            "stage": stage,
            "config_hash": self._cfg,
            "rows": int(sum(r["count"] for r in pc)),
            "partition_counts": {int(r["partition_id"]): int(r["count"]) for r in pc},
            "duration_s": round(time.time() - t0, 3),
            "schema": out.schema.simpleString(),
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest_path(stage))  # atomic publish
        return out

    def invalidate(self, stage: str) -> None:
        p = self._manifest_path(stage)
        if os.path.exists(p):
            os.remove(p)

    def metrics(self) -> list[dict]:
        """All published stage manifests (the run's metrics table)."""
        out = []
        if not os.path.isdir(self.root):
            return out
        for stage in sorted(os.listdir(self.root)):
            p = self._manifest_path(stage)
            if os.path.exists(p):
                with open(p) as f:
                    out.append(json.load(f))
        return out


def run_exact_dedup_checkpointed(
    store: CheckpointStore, pages: DataFrame,
    id_col: str = "url", text_col: str = "text", size_col: str | None = None,
    sequential_ids: bool = False,
) -> dict[str, DataFrame]:
    """The exact-dup pipeline with a checkpoint after every stage.

    Stage graph: candidates → survivors → groups. Any prefix can be
    reused on resume; each stage reads its parent's *published* output,
    so a resumed run never recomputes upstream shuffles.
    """
    from doppel_spark.operators.exact import (
        dup_groups,
        length_candidates,
        quick_candidates,
    )

    candidates = store.run(
        "s1_length_candidates",
        lambda: length_candidates(pages, text_col=text_col,
                                  size_col=size_col, id_col=id_col),
    )
    survivors = store.run(
        "s2_quick_candidates",
        lambda: quick_candidates(candidates, text_col=text_col),
    )
    groups = store.run(
        "s3_dup_groups",
        lambda: dup_groups(survivors, text_col=text_col, id_col=id_col,
                           sequential_ids=sequential_ids),
    )
    return {"candidates": candidates, "survivors": survivors, "groups": groups}

