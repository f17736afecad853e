"""Host-graph rank (PageRank) — the domain-quality stage of web curation.

Document-level quality signals (Gopher filters, perplexity buckets)
miss coordinated spam: a link farm's individual pages can look fine.
The standard corpus-level complement — used by Common-Crawl-derived
pipelines for domain filtering and crawl prioritization — is PageRank
over the HOST link graph: hosts linked to by many well-linked hosts
rank up, isolated farms rank down. The scores then feed the curation
funnel as one more keep/weight column (e.g. via
:func:`doppel_spark.operators.dedup.keep_best` or the Gopher composite
filter).

Built as iterative DataFrame jobs on the same discipline as
:mod:`doppel_spark.operators.components`: every round is a shuffled
equi-join of the (pre-cut, weight-aggregated) edge table with the
current score frame, plan-truncated per round through
``StageMaterializer.cut_iter`` with round i−1 released as round i
lands — O(1) scratch in the iteration count, O(T) jobs total.

**Exact integer arithmetic** (the lm.py micro-nat trick applied to
ranks): scores live in integer micro-units of rank mass and every
step is integer multiply + floor division —
``contrib(u→v) = score(u)·w(u,v) div out_w(u)``,
``score'(v)    = teleport + d_num·Σcontrib(v) div d_den`` —
so results are bit-identical across partitionings, engines, and
re-runs; the contract query hash-matches a chained-CTE DuckDB mirror
of the same arithmetic. (Float PageRank would differ in the last ulp
per shuffle order; an engine whose dedup tier guarantees byte-identical
re-runs should not ship a nondeterministic ranker.)

Semantics notes, both deliberate:
* Floor division leaks ≤1 micro-unit of mass per edge per round and
  DANGLING hosts (no out-edges) leak their whole mass — standard
  power-iteration simplifications; rank ORDER is what curation
  consumes, and both effects are deterministic.
* Fixed iteration count, no convergence test: T=5–10 covers the rank
  stability real pipelines use, keeps the oracle expressible as T
  chained CTEs, and bounds the job count.

Reference tie: the reference has no graph stage (its unit is the
file); this extends SURVEY §2.9's connected-components machinery from
boolean reachability to weighted mass propagation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from doppel_spark.operators.stage import StageMaterializer

#: rank mass is expressed in millionths (micro-units) of the total
RANK_SCALE = 1_000_000


def host_rank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = RANK_SCALE,
    n_nodes: int | None = None,
    *,
    mat: StageMaterializer,
) -> DataFrame:
    """Integer PageRank over ``edges``; returns (host, rank_micros).

    ``edges`` rows are directed links; multi-edges are aggregated into
    weights first (pass ``weight`` if already aggregated — re-grouping
    an aggregated table is a no-op shuffle-wise since (src, dst) is
    then unique). Every host appearing on either side gets a row.

    ``n_nodes`` avoids the one calibration ``count()`` when the caller
    already knows the host count (a table property in production, same
    contract as IVF's centroid calibration, similarity.py).

    ``mat`` — the caller's materializer; it owns the edge and
    final-round cuts, which the caller frees with ``mat.cleanup()``
    once the returned frame is consumed.

    Scale shape: the weighted edge table is cut ONCE (with its
    per-source out-weight already joined on) and re-read every round;
    per-round traffic is the (node, score) frame — hosts are ~10⁴×
    fewer than pages, so even a 10¹²-page corpus propagates ~10⁸
    16-byte score rows per round. Overflow headroom: score ≤ scale and
    Σ contributions ≤ total mass ≈ scale, so int64 holds for any graph
    size at the default scale.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")

    w_expr = F.col(weight) if weight is not None else F.lit(1)
    ew = (edges.groupBy(F.col(src).alias("src"), F.col(dst).alias("dst"))
          .agg(F.sum(w_expr).alias("w")))
    nodes = (ew.select(F.col("src").alias("node"))
             .union(ew.select(F.col("dst").alias("node")))
             .distinct())
    out_w = ew.groupBy("src").agg(F.sum("w").alias("out_w"))
    # one cut, reused by every round's join: edge weight + its source's
    # out-weight in one row, so rounds touch exactly two tables
    edge_t = mat.cut_iter(ew.join(out_w, "src"), "rank_edges")
    nodes = mat.cut_iter(nodes, "rank_nodes")

    if n_nodes is None:
        n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select(F.col("node").alias("host"),
                            F.lit(0).cast("long").alias("rank_micros"))
    init = scale // n_nodes
    teleport = ((damping_den - damping_num) * scale) // (damping_den * n_nodes)

    scores = mat.cut_iter(
        nodes.select("node", F.lit(init).cast("long").alias("score")),
        "rank_r0")
    for i in range(iterations):
        contrib = (
            edge_t.join(scores, edge_t.src == scores.node)
            .select(F.col("dst").alias("node"),
                    F.expr("score * w div out_w").alias("c"))
            .groupBy("node").agg(F.sum("c").alias("s")))
        new_scores = mat.cut_iter(
            nodes.join(contrib, "node", "left").select(
                "node",
                (F.lit(teleport)
                 + F.expr(f"{damping_num} * coalesce(s, 0L) div "
                          f"{damping_den}")).cast("long").alias("score")),
            f"rank_r{i + 1}")
        mat.release(scores)
        scores = new_scores
    mat.release(edge_t)

    return scores.select(F.col("node").alias("host"),
                         F.col("score").alias("rank_micros"))
