"""Dedup operator family for training-data pipelines.

One entry per dedup modality a 100 TB text pipeline needs, each built
on the engine's primitives:

* exact dedup (hash-groupBy keep-canonical) — built-in expressions
* MinHash+LSH near-dup — :mod:`doppel_spark.operators.neardup`
* SimHash near-dup — :mod:`doppel_spark.functions.simhash`
* substring dedup — :mod:`doppel_spark.operators.suffix`
* embedding-cosine near-dup — :mod:`doppel_spark.operators.similarity`

"Keep-canonical" is deterministic everywhere: the survivor of a dup
group is the minimum id, so re-runs produce byte-identical outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from doppel_spark.config import NearDupConfig
from doppel_spark.functions.digests import full_digest
from doppel_spark.operators.lsh import _cross_pairs, _cut_signatures
from doppel_spark.operators.stage import StageMaterializer


def _digest_or_sentinel(text_col: str, id_col: str):
    return F.coalesce(
        full_digest(text_col),
        F.concat(F.lit("__null_text__:"), F.col(id_col).cast("string")),
    )


def exact_dedup(df: DataFrame, id_col: str = "url",
                text_col: str = "text") -> DataFrame:
    """One row per distinct text content; survivor = min id per digest.

    **The scale path**: groupBy(digest) → min(id) survivor ids
    → left-semi join back on the id. The digest shuffle carries only
    (id, digest) — the text/full row never moves; the semi-join
    shuffles ids (and with AQE the survivor-id side broadcasts whenever
    it fits). The digest is computed twice (slim pass + output column),
    which at 100 TB is far cheaper than shuffling every text byte once.

    NULL text never dedups: rows with missing content get a per-row
    sentinel digest (≈ the reference's log-and-skip for unreadable
    files, /root/reference/internal/scanner/scanner.go:38-52 — an
    error row must not be merged with other error rows).
    """
    slim = df.select(F.col(id_col),
                     _digest_or_sentinel(text_col, id_col).alias("digest"))
    keep = slim.groupBy("digest").agg(F.min(id_col).alias(id_col)).select(id_col)
    return (
        df.join(keep, id_col, "left_semi")
        .withColumn("digest", _digest_or_sentinel(text_col, id_col))
    )


def dedup_assignments(df: DataFrame, id_col: str = "url",
                      text_col: str = "text") -> DataFrame:
    """(id, canonical_id) for every row — the dedup decision as data.

    canonical_id == id for survivors; group losers point at the
    survivor. Join-friendly form for downstream lineage.
    """
    w = Window.partitionBy("digest")
    return (
        df.select(F.col(id_col), _digest_or_sentinel(text_col, id_col).alias("digest"))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .select(id_col, "canonical_id")
    )


def keep_best(df: DataFrame, cluster_col, score_col,
              id_col: str = "url") -> DataFrame:
    """One full-width row per cluster: the member with the HIGHEST score
    (ties broken by minimum id — fully deterministic).

    The training-cut variant of keep-canonical: where the reference
    keeps the first/minimum member of a duplicate group
    (/root/reference/internal/finder/finder.go:116-121), a data
    pipeline keeps the *best* member — highest quality score, longest
    form, newest fetch — and ``score_col`` is whatever expression
    encodes that policy (e.g. ``quality_score_micros(text)``).

    Scale shape: the per-cluster argmax runs as a ``row_number`` window
    over a slim ``(id, cluster, score)`` projection — dup clusters are
    small by construction, so the window partitions are too — and the
    winners join back by id via left-semi (AQE broadcasts the winner
    ids when they fit), so text/full rows never enter the window
    shuffle. ``cluster_col`` / ``score_col`` accept column expressions,
    so the score need never be materialized on the input.
    """
    slim = df.select(
        F.col(id_col),
        _colexpr(cluster_col).alias("_cluster"),
        _colexpr(score_col).alias("_score"),
    )
    w = Window.partitionBy("_cluster").orderBy(
        F.desc_nulls_last("_score"), F.asc(id_col))
    winners = (
        slim.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col)
    )
    return df.join(winners, id_col, "left_semi")


def _colexpr(c) -> "F.Column":
    return F.col(c) if isinstance(c, str) else c


def cross_snapshot_new(incoming: DataFrame, seen: DataFrame,
                       id_col: str = "url",
                       text_col: str = "text") -> DataFrame:
    """Incoming rows whose content was never seen in a prior snapshot.

    The incremental-crawl workhorse: a 100 TB corpus is not deduped
    from scratch per crawl — each new snapshot is anti-joined against
    the accumulated content-digest set and only genuinely-new content
    proceeds down the funnel (≈ the reference's "skip files already in
    a known group" early exit, /root/reference/internal/scanner/
    finder.go:84-96, across *runs* instead of within one).

    Scale shape: both sides project to digests before anything moves —
    the seen side shuffles 32-byte digests only (pre-distinct'd, so a
    snapshot with heavy internal duplication contributes each digest
    once), the incoming side shuffles (id, digest), and the anti-join
    output semi-joins back to the full incoming rows by id. In
    production the seen side is a maintained digest table (Iceberg),
    not a re-scan; this function takes whatever frame represents it.

    NULL incoming text is always "new" (per-row sentinel digest — an
    unreadable row must not be swallowed by another error row);
    NULL seen text never blocks anything.
    """
    inc = incoming.select(F.col(id_col),
                          _digest_or_sentinel(text_col, id_col).alias("digest"))
    seen_digests = (
        seen.select(full_digest(text_col).alias("digest"))
        .filter(F.col("digest").isNotNull())
        .distinct()
    )
    new_ids = inc.join(seen_digests, "digest", "left_anti").select(id_col)
    return incoming.join(new_ids, id_col, "left_semi")


def cross_snapshot_neardup_pairs(
    incoming: DataFrame, seen: DataFrame, cfg: NearDupConfig | None = None,
    id_col: str = "url", text_col: str = "text",
    seen_signed: bool = False, *, mat: StageMaterializer,
) -> DataFrame:
    """(``{id}_new``, ``{id}_seen``, jaccard_est) for incoming docs that
    near-duplicate prior-snapshot content — :func:`cross_snapshot_new`
    lifted from exact digests to the MinHash tier (a re-crawled page
    with a rotated banner or fresh timestamp defeats the digest
    anti-join; its shingle set barely moves).

    Cross-table join DIRECTION is the scale decision, and it is the
    opposite of eval-set decontamination
    (:func:`doppel_spark.operators.contamination
    .fuzzy_contamination_pairs`): there the eval side is benchmark-sized
    and broadcasts, so the corpus never shuffles; here the SEEN side is
    the accumulated corpus — far too big to broadcast — so candidates
    come from a plain shuffled equi-join of 16-byte (id, band_hash)
    rows on both sides. Nothing wider moves: verification joins packed
    signatures onto the candidate trickle with each side semi-join
    pruned to candidate ids first. Text never moves at all.

    At production scale the seen side's signatures are MAINTAINED, not
    recomputed per crawl: pass ``seen_signed=True`` with ``seen`` being
    the signature table (``id, signature, band_hashes`` — the exact
    output of :func:`doppel_spark.operators.lsh.signature_stage`,
    appended to Iceberg each snapshot), and only the incoming snapshot
    pays the signature stage.

    ``mat`` — the caller's materializer, sized over both ``(id, text)``
    sides (the incoming side alone with ``seen_signed``); it cuts the
    signed sides, and the caller frees it with ``mat.cleanup()`` once
    the pairs are consumed.

    Reference tie: the cross-*run* reading of doppel's "skip files
    already in a known group" early exit
    (/root/reference/internal/scanner/finder.go:84-96), at near-dup
    rather than exact-hash granularity.
    """
    cfg = cfg or NearDupConfig()
    new_id, seen_id = f"{id_col}_new", f"{id_col}_seen"
    inc_in = incoming.select(F.col(id_col).alias(new_id), F.col(text_col))
    if seen_signed:
        (inc_sig,) = _cut_signatures([inc_in], cfg, text_col, mat=mat)
        seen_sig = seen.select(F.col(id_col).alias(seen_id),
                               "signature", "band_hashes")
    else:
        inc_sig, seen_sig = _cut_signatures(
            [inc_in, seen.select(F.col(id_col).alias(seen_id),
                                 F.col(text_col))],
            cfg, text_col, mat=mat)
    return _cross_pairs(inc_sig, seen_sig, new_id, seen_id, cfg,
                        broadcast_right=False)


def dedup_stats(assignments: DataFrame, id_col: str = "url") -> DataFrame:
    """One-row summary: total, kept, removed, dup groups (>1 member)."""
    agg = assignments.agg(
        F.count("*").alias("total_docs"),
        F.countDistinct("canonical_id").alias("kept_docs"),
    )
    grp = (
        assignments.groupBy("canonical_id").count()
        .agg(F.sum(F.when(F.col("count") > 1, 1).otherwise(0)).alias("dup_groups"))
    )
    return agg.crossJoin(grp).withColumn(
        "removed_docs", F.col("total_docs") - F.col("kept_docs")
    )
