"""LSH banding, candidate-pair generation, and Jaccard verification.

Pipeline (north-rule extension of the reference's staged funnel):

    signatures → band keys → bucket groupBy → pair explosion
    → signature-agreement verify (≥ threshold) → verified pairs

Scale decisions, explicitly:

* **Pair generation never moves signatures or builds per-bucket
  state.** The exploded (key, id) band keys are windowed ONCE into a
  colliding-bucket membership table (m = 1 rows dropped early), and
  combination pairs stream out of a codegen'd equi self-join of that
  slim table — no ``collect_set`` (its ObjectHashAggregate was a
  measured GC bomb under many executor threads), no signature or text
  movement, O(cap²) bounded blow-up per bucket.
* **Hot buckets (boilerplate templates) are the skew hazard.** A
  bucket of m docs yields m(m−1)/2 pairs — one 10⁶-doc boilerplate
  bucket would emit 5·10¹¹ pairs. Buckets over ``bucket_cap`` switch
  to *star pairing* around the smallest member: n−1 pairs, connectivity
  for connected-components preserved, recall within the bucket
  delegated to the cluster step. Capped-bucket counts are surfaced in
  ``lsh_bucket_stats`` — never silently truncated.
* **Verification never leaves the JVM** — agreement fraction of stored
  signatures (:func:`~doppel_spark.functions.minhash.signature_agreement`);
  the optional exact-Jaccard audit (pandas UDF over pair texts) is for
  audits and sampling, not the hot path. The same verify runs across
  two tables (:func:`_cross_pairs`) for cross-snapshot near-dups and
  fuzzy decontamination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from doppel_spark.config import NearDupConfig
from doppel_spark.functions.minhash import exact_jaccard_udf, signature_agreement
from doppel_spark.operators.stage import StageMaterializer


def signature_stage(df: DataFrame, cfg: NearDupConfig, id_col: str = "url",
                    text_col: str = "text", simhash: bool = False) -> DataFrame:
    """(id, signature binary, band_hashes array<long>) via
    ``mapInArrow`` — the flagship's signature stage with zero
    pandas/Python-object traffic in EITHER direction. ``simhash`` adds
    a ``simhash`` long from the same batch (one read of each text;
    :func:`~doppel_spark.functions.simhash.simhash_arrow_column`).

    Round-4 profiling showed the stage is bound by the Arrow worker
    round trip, not the (already whole-batch-vectorized) kernel: the
    pandas-UDF path materializes a PyUnicode per document on the way in
    (Arrow → pd.Series of str) and a Python object per document on the
    way back. Here the kernel reads Spark's Arrow string buffer AS IS
    (minhash._as_string_array); the signature returns as ONE packed
    binary buffer (the kernel's numpy output, zero-copy) and the band
    column is assembled O(1) per batch
    (minhash.sig_bands_arrow_columns). It is the library's one
    signature transport; every signature byte and fingerprint is
    checked against the per-document spec in tests.

    Only (id, text) pass through the worker; callers needing more
    columns join on ``id_col`` afterwards.
    """
    from pyspark.sql import types as T

    from doppel_spark.functions.minhash import (
        _BufPool,
        perm_constants,
        sig_bands_arrow_columns,
    )
    from doppel_spark.functions.simhash import simhash_arrow_column

    consts = perm_constants(cfg.num_perm, cfg.seed)
    num_perm, k, bands = cfg.num_perm, cfg.shingle_k, cfg.bands
    in_df = df.select(F.col(id_col), F.col(text_col))
    fields = [
        in_df.schema[id_col],
        T.StructField("signature", T.BinaryType()),
        T.StructField("band_hashes", T.ArrayType(T.LongType())),
    ]
    if simhash:
        fields.append(T.StructField("simhash", T.LongType()))

    def gen(batches):
        import pyarrow as pa

        pool = _BufPool()
        for batch in batches:
            cols = [batch.column(0), *sig_bands_arrow_columns(
                batch.column(1), pool, consts, num_perm, k, bands)]
            if simhash:
                cols.append(simhash_arrow_column(batch.column(1)))
            yield pa.RecordBatch.from_arrays(
                cols, names=[f.name for f in fields])

    return in_df.mapInArrow(gen, T.StructType(fields))


def band_keys(sig_df: DataFrame, cfg: NearDupConfig, id_col: str = "url") -> DataFrame:
    """Explode per-doc band hashes into (id, band_hash) bucket keys.

    The band index is folded INTO each hash (band_hashes is salted per
    band inside the UDF), so the exploded output is exactly
    (id, band_hash): 32 rows × 16 bytes per doc through the shuffle and
    nothing else. A cross-band hash collision merely merges two buckets
    — extra candidates that verification discards — so no correctness
    rides on the fold.
    """
    return sig_df.select(F.col(id_col), F.explode("band_hashes").alias("band_hash"))


def bucket_membership(
    exploded: DataFrame, key_cols: list[str], id_col: str = "url",
) -> DataFrame:
    """Colliding-bucket membership: (key…, id, m, min_id), rows only for
    buckets with ≥ 2 members.

    Plan: aggregate per-bucket (m, min_id) first — map-side partial
    aggregation shrinks the shuffle from every exploded row to one row
    per bucket per map partition — filter to m > 1 (the colliding
    minority), and join the stats back onto the exploded rows. At
    bench scale AQE turns that join into a broadcast (the colliding-
    bucket stats are a few MB), so the exploded frame itself is NEVER
    shuffled; at cluster scale, where the stats outgrow the broadcast
    threshold, AQE falls back to a plain shuffled equi-join — still
    one shuffle of 16-byte rows. A windowed variant (partition by key,
    count/min over the window) always pays the full shuffle plus a
    sort; this shape lets the optimizer skip both when the data allows.
    """
    slim = exploded.select(*key_cols, id_col)
    stats = (
        slim.groupBy(*key_cols)
        .agg(F.count("*").alias("m"), F.min(id_col).alias("min_id"))
        .filter(F.col("m") > 1)
    )
    return slim.join(stats, key_cols)


def pairs_from_membership(
    memb: DataFrame, key_cols: list[str], id_col: str = "url",
    bucket_cap: int = 256,
) -> DataFrame:
    """Distinct unordered candidate pairs from ``bucket_membership``.

    Small buckets (≤ cap): all C(m,2) pairs via a codegen'd equi
    self-join on the bucket key with an ``id_a < id_b`` filter.
    Oversized buckets: star pairs around the minimum id (connectivity
    for every member, recall inside the bucket delegated to the
    cluster step). Output: (url_a, url_b) with url_a < url_b.

    **No collected arrays anywhere.** An earlier shape aggregated each
    bucket's ids with ``collect_set`` and exploded combination pairs
    from the array; the ObjectHashAggregate behind ``collect_set``
    allocates per-bucket JVM collections and was measured spending
    478 s of a 558 s stage in GC at local[16] (300k docs). The
    self-join streams pairs out of whole-stage codegen with no
    per-bucket state at all, and the ``m ≤ cap`` filter bounds its
    blow-up to C(cap, 2) per bucket. Callers should materialize
    ``memb`` first (it has three consumers here).
    """
    small = memb.filter(F.col("m") <= bucket_cap)
    a = small.select(*key_cols, F.col(id_col).alias("url_a"))
    b = small.select(*key_cols, F.col(id_col).alias("url_b"))
    combos = (
        a.join(b, key_cols)
        .where(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b")
    )
    stars = (
        memb.filter((F.col("m") > bucket_cap) & (F.col(id_col) != F.col("min_id")))
        .select(F.col("min_id").alias("url_a"), F.col(id_col).alias("url_b"))
    )
    return combos.union(stars).distinct()


def pairs_from_buckets(
    exploded: DataFrame, key_cols: list[str], id_col: str = "url",
    bucket_cap: int = 256, *, mat: StageMaterializer,
) -> DataFrame:
    """Distinct unordered candidate pairs straight from exploded band
    keys — ``bucket_membership`` + ``pairs_from_membership`` with the
    membership stage **materialized between them** (it feeds three
    consumers inside pair generation; un-cut, the whole subtree above —
    including any fingerprint/banding UDF — re-executes per consumer,
    the round-2 bench's 2-6× recompute bug). The cut goes through the
    caller's :class:`~doppel_spark.operators.stage.StageMaterializer`
    ``mat``, which the caller frees with ``mat.cleanup()`` once the
    pairs are consumed. Note the subtree above ``exploded`` is
    still evaluated twice while *building* the membership table
    (bucket stats + join-back), so callers should cut their UDF stage
    first — see ``substring_dup_pairs`` / ``embedding_neardup_pairs``."""
    memb = mat.cut(bucket_membership(exploded, key_cols, id_col=id_col), "memb")
    return pairs_from_membership(
        memb, key_cols, id_col=id_col, bucket_cap=bucket_cap)


def lsh_bucket_stats(exploded: DataFrame, key_cols: list[str],
                     bucket_cap: int = 256) -> DataFrame:
    """Skew accounting: bucket-size histogram + capped-bucket count.

    The no-silent-caps rule: every run can report how many buckets fell
    back to star pairing and how many pairs that skipped.
    """
    sizes = exploded.groupBy(*key_cols).count().withColumnRenamed("count", "m")
    return sizes.agg(
        F.count("*").alias("buckets"),
        F.sum(F.when(F.col("m") > 1, 1).otherwise(0)).alias("colliding_buckets"),
        F.max("m").alias("max_bucket"),
        F.sum(F.when(F.col("m") > bucket_cap, 1).otherwise(0)).alias("capped_buckets"),
        F.sum(
            F.when(F.col("m") > bucket_cap,
                   (F.col("m") * (F.col("m") - 1) / 2 - (F.col("m") - 1)).cast("long"))
            .otherwise(0)
        ).alias("pairs_skipped_by_cap"),
    )


def verify_pairs(
    pairs: DataFrame, sig_df: DataFrame, cfg: NearDupConfig, id_col: str = "url",
) -> DataFrame:
    """Join signatures onto pairs and keep those with estimated Jaccard
    ≥ threshold − verify_margin (the margin absorbs estimator noise so
    true-positives at the threshold boundary aren't dropped — recall
    target is 0.99). Output: (url_a, url_b, jaccard_est double).

    The signature table is first pruned to pair participants via a
    semi-join (the participant id list is tiny relative to the corpus,
    so AQE turns it into a broadcast — the full signature table is
    never shuffled); the pruned side is then usually small enough for
    AQE to broadcast into the pair joins too. The text column never
    moves anywhere in this stage.
    """
    participants = (
        pairs.select(F.col("url_a").alias(id_col))
        .union(pairs.select(F.col("url_b").alias(id_col)))
        .distinct()
    )
    needed = sig_df.join(participants, id_col, "left_semi")
    a = needed.select(F.col(id_col).alias("url_a"), F.col("signature").alias("sig_a"))
    b = needed.select(F.col(id_col).alias("url_b"), F.col("signature").alias("sig_b"))
    return (
        pairs.join(a, "url_a").join(b, "url_b")
        .withColumn("jaccard_est",
                    signature_agreement("sig_a", "sig_b", cfg.num_perm))
        .filter(F.col("jaccard_est") >= cfg.jaccard_threshold - cfg.verify_margin)
        .select("url_a", "url_b", "jaccard_est")
    )


def _cut_signatures(sides: list[DataFrame], cfg: NearDupConfig,
                    text_col: str, *,
                    mat: StageMaterializer) -> list[DataFrame]:
    """:func:`signature_stage` of each ``(id, text)`` frame, cut once
    through the caller's ``mat`` (each signed side feeds banding AND
    verification). The caller sizes ``mat`` over every side and frees
    it once the frames built on these cuts are consumed."""
    return [mat.cut(signature_stage(df, cfg, id_col=df.columns[0],
                                    text_col=text_col), f"sig{i}")
            for i, df in enumerate(sides)]


def _cross_pairs(
    left: DataFrame, right: DataFrame, left_id: str, right_id: str,
    cfg: NearDupConfig, broadcast_right: bool,
) -> DataFrame:
    """:func:`verify_pairs` across two signed tables:
    (``left_id``, ``right_id``, jaccard_est) for every pair that shares
    a band hash and whose signature agreement is ≥ threshold −
    verify_margin. Both sides are ``signature_stage`` rows.

    Candidates come from an equi-join of 16-byte (id, band_hash) rows;
    verification joins packed signatures onto that trickle, each
    shuffled side semi-join pruned to its candidate ids first. Text
    never moves.

    ``broadcast_right`` is the join direction, fixed by each caller: a
    benchmark-sized right side (an eval set) broadcasts its band keys
    and signatures, so the left side never shuffles; an accumulated
    corpus on the right is far too big for that, so both sides shuffle
    and both are pruned.
    """
    right_keys = band_keys(right, cfg, id_col=right_id)
    if broadcast_right:
        right_keys = F.broadcast(right_keys)
    cands = (
        band_keys(left, cfg, id_col=left_id).join(right_keys, "band_hash")
        .select(left_id, right_id)
        .distinct()
    )

    def sigs(signed: DataFrame, id_col: str, alias: str, prune: bool):
        if prune:
            signed = signed.join(
                cands.select(id_col).distinct(), id_col, "left_semi")
        return signed.select(id_col, F.col("signature").alias(alias))

    right_sig = sigs(right, right_id, "_sig_r", prune=not broadcast_right)
    return (
        cands
        .join(sigs(left, left_id, "_sig_l", prune=True), left_id)
        .join(F.broadcast(right_sig) if broadcast_right else right_sig,
              right_id)
        .withColumn("jaccard_est",
                    signature_agreement("_sig_l", "_sig_r", cfg.num_perm))
        .filter(F.col("jaccard_est")
                >= cfg.jaccard_threshold - cfg.verify_margin)
        .select(left_id, right_id, "jaccard_est")
    )


def verify_pairs_exact(
    pairs: DataFrame, docs: DataFrame, cfg: NearDupConfig,
    id_col: str = "url", text_col: str = "text",
) -> DataFrame:
    """Audit path: true shingle Jaccard on pair texts (pandas UDF)."""
    jac = exact_jaccard_udf(cfg.shingle_k)
    a = docs.select(F.col(id_col).alias("url_a"), F.col(text_col).alias("text_a"))
    b = docs.select(F.col(id_col).alias("url_b"), F.col(text_col).alias("text_b"))
    return (
        pairs.join(a, "url_a").join(b, "url_b")
        .withColumn("jaccard", jac(F.col("text_a"), F.col("text_b")))
        .select("url_a", "url_b", "jaccard")
    )
