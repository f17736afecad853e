"""Connected components over verified-pair edges.

Replaces the reference's implicit in-memory union of hash groups (each
full-digest bucket IS a component, /root/reference/internal/finder/
finder.go:114-143) with the general graph case the near-dup tier needs:
verified pairs form an arbitrary graph whose components are the dup
clusters.

One algorithm, **hash-min label propagation**: every node starts
labeled with the min of itself and its neighbors (fused round 1); each
further round every node takes the min of its own label and its
neighbors' labels; converged when no label changes. Iteration count is
bounded by the component diameter, and near-dup clusters are dense
(LSH buckets emit stars/cliques), so 2–5 rounds dominate in practice.

Two executions of it, picked per call:

* **Driver** — small graphs in a persist-mode run (the materializer's
  ``SMALL_INPUT_BYTES`` decision): one bounded
  ``limit(BOUND + 1).collect()`` of the edge list; if it holds at most
  :data:`BOUND` edges, the same rounds run as vectorized numpy over
  rank-encoded node ids (``np.unique`` order is Spark's string and
  long order, so the min rank is the min node). One bounded collect in
  place of a fingerprint action (several Spark jobs under AQE) and a
  re-planned join per round.
* **Spark** — table-mode runs and graphs over the bound: rounds are
  plain shuffled joins, so the work distributes.

Both return the same rows, and share ``max_iter``/``strict`` and the
partial labels of :class:`ComponentsNotConverged`. That is why the
driver path is not a union-find: union-find reaches the fixed point in
one pass, so it could neither fail at ``max_iter`` nor return the
same partial labels.

The caller owns the materializer: it builds the
:class:`~doppel_spark.operators.stage.StageMaterializer`, passes it as
``mat`` and calls its ``cleanup()`` once the result is consumed; this
module never builds one.

Spark execution, scale hygiene:
* Every round is cut through the caller's materializer's ``cut_iter``
  — the iteration-aware cut. Without any cut the logical
  plan doubles per round and the driver dies on plan explosion long
  before data size matters; with a plain data cut (``persist``) the
  plan STILL doubles and analyzer time explodes (measured: 0.6 → 22.7 s
  per round on a 9-row chain — see ``cut_iter``'s docstring).
  ``cut_iter`` picks the truncation that fits the run's scale: small
  inputs get ``localCheckpoint`` (plan truncated; its stats loss is
  harmless when everything is tiny), large inputs get per-round scratch
  parquet tables (plan truncated AND size stats preserved, so the AQE
  broadcasts in the propagate join survive — the stage.py measurements
  that ruled localCheckpoint out at scale). Round i−1's table is
  released the moment round i lands, so scratch usage stays O(1) in
  the iteration count.
* Convergence test is an unchanged (count, hash-sum) fingerprint of
  the labels frame — one cheap agg action per round (labels only ever
  decrease, so an unchanged fingerprint ⇒ fixed point).
* Labels are the node keys themselves (min = lexicographic for string
  urls), so the final cluster representative is deterministic and the
  cluster id is ``xxhash64(representative)``.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from doppel_spark.operators.stage import StageMaterializer

#: Largest edge list finished on the driver. Sized against the smallest
#: ``spark.driver.memory`` a session can have (Spark's 1g default, which
#: is also ``spark.driver.maxResultSize``'s): a collected url edge is
#: ~130 B of serialized rows in the JVM and ~300 B of Python objects
#: plus numpy arrays, so 2^18 edges stay under ~80 MB, and the numpy
#: rounds over them take well under a second. A constant, not a knob.
BOUND = 1 << 18

#: node types whose ``np.unique`` order equals Spark's ordering (UTF-8
#: byte order is code point order; a collated string type is not here)
_DRIVER_TYPES = (T.StringType(), T.LongType(), T.IntegerType())


class ComponentsNotConverged(RuntimeError):
    """Label propagation still changing at ``max_iter`` — returning the
    partial labels would silently split true clusters (the repo's
    no-silent-caps rule forbids that)."""


def _driver_labels(
    edges: DataFrame, src: str, dst: str, max_iter: int,
) -> tuple[DataFrame, bool] | None:
    """Label propagation on the driver: (labels frame, converged), or
    None when the edge list is over :data:`BOUND`, holds a null, or has
    a node type whose order numpy does not share with Spark."""
    dtype = edges.schema[src].dataType
    if dtype != edges.schema[dst].dataType or dtype not in _DRIVER_TYPES:
        return None
    rows = edges.select(src, dst).limit(BOUND + 1).collect()
    if len(rows) > BOUND or any(x is None for r in rows for x in r):
        return None
    ends = np.array([x for r in rows for x in r],
                    dtype=object if dtype == T.StringType() else np.int64)
    nodes, rank = np.unique(ends, return_inverse=True)
    # both orientations of every edge: label(u) takes label(v) along (u, v)
    u = np.concatenate([rank[0::2], rank[1::2]])
    v = np.concatenate([rank[1::2], rank[0::2]])
    # fused round 1: label(u) = min(u, min(neighbors(u)))
    labels = np.arange(len(nodes))
    np.minimum.at(labels, u, v)
    converged = False
    for _ in range(max_iter):
        new_labels = labels.copy()
        np.minimum.at(new_labels, u, labels[v])
        converged = np.array_equal(new_labels, labels)
        labels = new_labels
        if converged:
            break
    schema = T.StructType([T.StructField("node", dtype),
                           T.StructField("label", dtype)])
    frame = edges.sparkSession.createDataFrame(
        pd.DataFrame({"node": nodes, "label": nodes[labels]}), schema)
    return frame, converged


def _spark_labels(
    edges: DataFrame, src: str, dst: str, max_iter: int,
    mat: StageMaterializer,
) -> tuple[DataFrame, bool]:
    """Label propagation as Spark jobs: (labels frame, converged)."""
    # sym joins into EVERY round's plan, so its cut must truncate the
    # LOGICAL plan (cut_iter), not just cache the data: a persist-only
    # cut leaves sym's full upstream lineage (the entire near-dup
    # pipeline when called from there) nested inside each round's plan,
    # and every round's toRdd re-analyzes/re-optimizes it — measured
    # +1.4–1.7 s of pure driver planning per round on a cold JVM, the
    # round-4 bench regression (BENCH/NOTES_r4.md)
    # One-scan symmetrization (r6): explode of the two orientations
    # reads the (potentially large) pairs input once where the old
    # self-union read it twice — measured −64 executed tasks per run at
    # bench scale, same distinct row set. eager=False: the round-0
    # fingerprint action below evaluates the labels0 plan, whose single
    # path through sym materializes this truncation in the same job —
    # one driver action instead of two.
    sym = mat.cut_iter(
        edges.select(F.explode(F.array(
            F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
            F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
        )).alias("_e"))
        .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
        .distinct(),
        "cc_sym", eager=False,
    )
    # fused round 1: label(u) = min(u, min(neighbors(u))) straight from
    # the edge list — one aggregation instead of init + propagate.
    # eager=False: the fingerprint action right below materializes the
    # truncation in the same job — one job per round, not two
    labels = mat.cut_iter(
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("label"))
        .select(F.col("u").alias("node"), "label"),
        "cc_labels0", eager=False,
    )

    def _fingerprint(lab: DataFrame) -> tuple[int, int, int]:
        row = lab.agg(
            F.count("*").alias("n"),
            # decimal sum: exact and overflow-free under ANSI mode
            F.sum(F.xxhash64("node", "label").cast("decimal(38,0)")).alias("h"),
            # second, independent statistic (reversed column order ⇒ an
            # unrelated hash function of the same pair): a silent early
            # stop now requires an exact sum collision in BOTH streams
            # simultaneously (~2⁻¹²⁸), not one (~2⁻⁶⁴) — ADVICE r4
            F.sum(F.xxhash64("label", "node").cast("decimal(38,0)")).alias("h2"),
        ).collect()[0]
        return int(row["n"]), int(row["h"] or 0), int(row["h2"] or 0)

    fp = _fingerprint(labels)
    converged = False
    for i in range(max_iter):
        # propagate each node's label to its neighbors, keep the min
        prop = (
            sym.join(labels, sym.v == labels.node)
            .select(sym.u.alias("node"), "label")
        )
        new_labels = mat.cut_iter(
            labels.select("node", "label").union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label")),
            f"cc_labels{i + 1}", eager=False,
        )
        mat.release(labels)  # round i−1 is dead once round i landed
        labels = new_labels
        # labels only ever decrease, so an unchanged (count, hash-sum)
        # fingerprint ⇒ converged — one cheap agg action per round
        # instead of a join + isEmpty
        new_fp = _fingerprint(labels)
        if new_fp == fp:
            converged = True
            break
        fp = new_fp
    mat.release(sym)
    return labels, converged


def connected_components(
    edges: DataFrame,
    src: str = "url_a",
    dst: str = "url_b",
    max_iter: int = 25,
    strict: bool = True,
    *,
    mat: StageMaterializer,
) -> DataFrame:
    """Components of the undirected graph given by ``edges``.

    Returns (url, cluster_rep, cluster_id long), url and cluster_rep of
    the node type; every node appearing in any edge gets a row.
    Deterministic: the cluster representative is the smallest member.

    ``mat`` — the caller's materializer: it picks the execution (below)
    and owns every round's cut, so the caller frees them with
    ``mat.cleanup()`` once the returned frame is consumed (the near-dup
    pipeline passes its own, so CC rounds inherit the strategy picked
    for the whole run).

    In a persist-mode run an edge list of at most :data:`BOUND` rows is
    collected once and the rounds run on the driver; otherwise every
    round is a Spark job (module docstring). Both give the same rows.

    Convergence needs ~diameter rounds (hash-min propagation); long
    near-dup drift chains can exceed ``max_iter``. Non-convergence
    **raises** :class:`ComponentsNotConverged` by default; with
    ``strict=False`` it warns and returns the partial labels instead.
    """
    found = (_driver_labels(edges, src, dst, max_iter)
             if mat.mode == "persist" else None)
    labels, converged = found or _spark_labels(edges, src, dst, max_iter, mat)

    if not converged:
        msg = (f"connected_components: labels still changing after "
               f"{max_iter} rounds (component diameter > max_iter); "
               f"returned clusters would be silently split")
        if strict:
            # the partial labels are dead — nothing is returned, so the
            # last round's scratch table must not wait for cleanup()
            mat.release(labels)
            raise ComponentsNotConverged(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)

    return labels.select(
        F.col("node").alias("url"),
        F.col("label").alias("cluster_rep"),
        F.xxhash64("label").alias("cluster_id"),
    )


def clusters_with_singletons(
    components: DataFrame, all_docs: DataFrame, id_col: str = "url",
) -> DataFrame:
    """Left-join components onto the full doc set: docs in no edge become
    singleton clusters of themselves (cluster_rep = own url)."""
    joined = all_docs.select(F.col(id_col).alias("url")).join(
        components, "url", "left"
    )
    return joined.select(
        "url",
        F.coalesce("cluster_rep", F.col("url")).alias("cluster_rep"),
        F.xxhash64(F.coalesce("cluster_rep", F.col("url"))).alias("cluster_id"),
    )
