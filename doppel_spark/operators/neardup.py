"""End-to-end near-duplicate clustering — the north-rule flagship.

Chain (cheap signal → expensive confirmation, the reference's funnel
generalized):

    pages → exact-dedup pre-pass (sha256 digest, keep min-id rep)
          → MinHash signatures over REPRESENTATIVES ONLY
            [optional] + SimHash fingerprints, in the same Arrow pass
          → LSH band keys → bucket pair explosion (skew-capped)
          → signature-agreement verification (JVM-only)
          [optional] ∪ SimHash Hamming pairs (short docs / fallback)
          ∪ exact-group (rep → member) edges
          → connected components (hash-min label propagation)
          → clusters + skew/recall metrics

One ``StageMaterializer`` cuts every stage; with a ``CheckpointStore``
the cuts are durable and a rerun recomputes only connected components.

The exact-dedup pre-pass is the web-scale move: real crawls are
30–60 % byte-identical, and an exact duplicate would otherwise collide
in *every* LSH band (maximal pair-explosion pressure) only to be
confirmed by the far cheaper digest equality. Signatures are computed
once per distinct text; duplicate docs rejoin the graph as
(representative → member) edges with Jaccard 1.0, so cluster
assignments are identical to the naive pipeline.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from doppel_spark.config import NearDupConfig
from doppel_spark.functions.digests import full_digest
from doppel_spark.functions.simhash import simhash_near_pairs
from doppel_spark.operators.components import connected_components
from doppel_spark.operators.lsh import (
    band_keys,
    bucket_membership,
    lsh_bucket_stats,
    pairs_from_membership,
    signature_stage,
    verify_pairs,
)
from doppel_spark.operators.stage import StageMaterializer, plan_size_bytes
from doppel_spark.plans.inspect import physical_plan


@dataclass
class NearDupResult:
    signatures: DataFrame   # (url, rid, signature, band_hashes[, simhash]) of reps
    pairs: DataFrame        # verified (url_a, url_b, jaccard_est)
    clusters: DataFrame     # (url, cluster_rep, cluster_id) — multi-doc clusters
    bucket_stats: DataFrame  # skew accounting (capped buckets, skipped pairs)
    materializer: StageMaterializer  # the run's one: every cut, SimHash's too

    def cluster_summary(self) -> DataFrame:
        """(cluster_id, n_docs, urls sorted) for multi-doc clusters."""
        return (
            self.clusters.groupBy("cluster_id", "cluster_rep")
            .agg(F.count("*").alias("n_docs"),
                 F.sort_array(F.collect_list("url")).alias("urls"))
            .filter(F.col("n_docs") > 1)
        )

    def cleanup(self) -> None:
        """Reclaim the run's materialized stages (caches AND scratch
        parquet tables). Call only after the result frames are fully
        consumed: in table mode this DELETES the files backing
        ``signatures``/``pairs``/``clusters``, so later reads raise —
        deliberately not named ``unpersist``, whose Spark contract
        (safe to call anytime, frames recompute) this does not honor."""
        self.materializer.cleanup()


def _narrow(df: DataFrame, par: int) -> bool:
    """Whether ``df`` runs on fewer than ``par`` tasks, without running a
    job, under the plan mode in force when it is asked. A plan without an
    exchange reports its splits from planning; one with an exchange would
    run it, so the plan's own rules stand in. A static plan states its
    root's partitioning: a hash exchange yields exactly its declared
    count (``spark.sql.shuffle.partitions`` unless repartitioned), while
    a limit, a global sort-limit or an unpartitioned window above it
    yields one. When the plan cannot tell (a union of unlike children, a
    scan-rooted join side) and under AQE the size estimate stands in:
    AQE coalesces a shuffle below ``par`` partitions only when it holds
    less than ``coalescePartitions.minPartitionSize`` per core."""
    plan = physical_plan(df)
    if "Exchange" not in plan:
        return df.rdd.getNumPartitions() < par
    spark = df.sparkSession
    if "AdaptiveSparkPlan" not in plan:
        n = df._jdf.queryExecution().executedPlan().outputPartitioning() \
            .numPartitions()
        if n > 0:
            return n < par
    min_part = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"))
    size = plan_size_bytes(df)
    return size is not None and size < par * min_part


def near_dup_pipeline(
    pages: DataFrame,
    cfg: NearDupConfig | None = None,
    id_col: str = "url",
    text_col: str = "text",
    use_simhash: bool = False,
    mat: StageMaterializer | None = None,
) -> NearDupResult:
    """Flagship near-dup clustering. ``mat`` cuts the five stages
    (digests, sigs, memb, cand, pairs), with ``use_simhash`` SimHash's
    block membership (``simhash_memb``; its fingerprints ride in
    ``sigs``), and the CC rounds; by default it is picked from the
    input's size estimate: small corpora persist — a scratch table's
    fixed cost (~10 s across the run) only pays for itself at ≳300 k
    docs, where it took local[16] from 185 s to 44 s. One built with a
    ``CheckpointStore`` makes the cuts durable, and a rerun on that
    store recomputes only CC. See
    :class:`~doppel_spark.operators.stage.StageMaterializer`.

    The run's own actions (the cuts, connected components) plan under
    ``mat.static_plan(base)``: a small input without a store, whose
    size estimate is within ``spark.sql.autoBroadcastJoinThreshold``,
    turns AQE off for them, halving their Spark jobs; the session's
    setting is restored on return, and the returned frames plan under
    it."""
    cfg = cfg or NearDupConfig()
    base = pages.select(F.col(id_col), F.col(text_col))
    if mat is None:
        mat = StageMaterializer.for_input(base, prefix="neardup")
    with mat.static_plan(base):
        return _run(base, cfg, id_col, text_col, use_simhash, mat)


def _run(base: DataFrame, cfg: NearDupConfig, id_col: str, text_col: str,
         use_simhash: bool, mat: StageMaterializer) -> NearDupResult:
    """The body of :func:`near_dup_pipeline`, under its plan scope."""
    _materialize = mat.cut  # stage cuts below; see class docstring

    # exact-dedup pre-pass: one representative (min id) per distinct text.
    # The digest groupBy ships only (id, digest) — the text never
    # shuffles; representatives are fetched back with a semi-join whose
    # build side (the rep-id list) is broadcast: from the planner's size
    # estimate under a small input's static plan, by AQE at scale.
    # (id, digest) is consumed by three branches (rep_ids groupBy, the
    # exact-edge join, and — via the semi-join — the representatives
    # scan), two of which run as concurrent broadcast jobs: without a
    # materialization each re-scans the corpus and re-hashes every text.
    # The projection is ~40 B/row; a table policy writes it instead.
    # force=False (local persist mode only): the sigs cut below is the next
    # blocking action and its rep_ids broadcast build scans every
    # digest partition, filling this cache in that job; later
    # concurrent consumers are serialized per-partition by the block
    # manager's write locks, so the eager fill count was pure overhead.
    digests = _materialize(base.select(F.col(id_col), full_digest(text_col)),
                           "digests", force=False)
    rep_ids = digests.groupBy("digest").agg(F.min(id_col).alias(id_col))
    exact_edges = (
        digests.join(rep_ids.withColumnRenamed(id_col, "rep"), "digest")
        .filter(F.col(id_col) != F.col("rep"))
        .select(F.col("rep").alias("url_a"), F.col(id_col).alias("url_b"))
    )
    reps = base.join(rep_ids.select(id_col), id_col, "left_semi")
    # Scale-adaptive width for the signature stage (guide §2.2): a
    # low-partition input (single-row-group parquet cannot be split
    # below one task) would funnel the MinHash kernel through one core.
    # The spread happens HERE — after the exact-dedup pre-pass, on the
    # distinct-text representatives, whose lineage is evaluated exactly
    # once (the sigs cut) — not on the pipeline input: spreading `base`
    # re-pays the shuffle per consumer (digests + sigs; measured +1-4 s
    # at sf1.0). At cluster scale the input has >= parallelism splits
    # and this is a no-op.
    par = base.sparkSession.sparkContext.defaultParallelism
    if _narrow(base, par):
        reps = reps.repartition(par)

    # Materialize signatures: they feed band-key explosion AND both
    # sides of the verification join — otherwise the (expensive) MinHash
    # UDF re-runs 3× (and a durable resume never re-runs it at all).
    #
    # The stage runs via `signature_stage` (mapInArrow): Spark's Arrow
    # string buffer is read in place and the packed-binary signature
    # returns as one buffer — zero per-document Python in either
    # direction (the pandas-UDF transport paid a PyUnicode in and a
    # Python object out per document; round-4 profiling showed that
    # round trip, not the kernel, bounds the stage at 3.6M docs).
    #
    # The LSH path runs on 64-bit surrogate ids (`rid = xxhash64(url)`):
    # the band explosion multiplies row count ×bands, so shuffling a
    # ~45-byte url string there dominates the wire cost — 16-byte
    # (rid, band_hash) rows cut it ~3×. A rid collision only creates a
    # spurious candidate pair that signature verification discards
    # (expected spurious pairs ≈ n²/2⁶⁴ — a handful even at 10¹² docs);
    # true-pair loss requires both members to collide, ~2⁻⁶⁴ per pair.
    sigs = _materialize(
        signature_stage(reps, cfg, id_col=id_col, text_col=text_col,
                        simhash=use_simhash)
        .select(id_col, F.xxhash64(id_col).alias("rid"), "signature",
                "band_hashes", *(["simhash"] if use_simhash else [])),
        "sigs", force=False)
    # (sigs force=False: the memb cut right below scans every signature
    # partition through band_keys, filling the cache in that job — the
    # signature kernel still runs exactly once; see digests note above.
    # memb/cand/pairs KEEP their forced fills: lazifying the
    # multi-consumer cuts measured strictly worse, 46 jobs / 922
    # executed tasks vs 44 / 827 — OPTIMIZATION_r06.md second pass.)

    # Bucket membership is cut as its own scratch table: it has three
    # consumers inside pair generation (combo self-join ×2 + star
    # projection), and materializing only the colliding rows keeps the
    # table ~10× smaller than the exploded band keys.
    memb = _materialize(
        bucket_membership(
            band_keys(sigs.select(F.col("rid"), "band_hashes"), cfg, id_col="rid"),
            ["band_hash"], id_col="rid"), "memb")
    # Materialize the candidate stage too: verification evaluates it
    # three times (two participant-list branches + the pair join) and
    # the CC edge union twice more — recomputing the pair join per
    # evaluation multiplies the most expensive shuffle in the job.
    cand_rid = _materialize(
        pairs_from_membership(memb, ["band_hash"], id_col="rid",
                              bucket_cap=cfg.bucket_cap), "cand")
    verified_rid = verify_pairs(cand_rid, sigs.select("rid", "signature"),
                                cfg, id_col="rid")
    # map rids back to urls (pairs are small; both plan modes broadcast them)
    rid_url = sigs.select("rid", F.col(id_col))
    verified = (
        verified_rid
        .join(rid_url.select(F.col("rid").alias("url_a"),
                             F.col(id_col).alias("_ua")), "url_a")
        .join(rid_url.select(F.col("rid").alias("url_b"),
                             F.col(id_col).alias("_ub")), "url_b")
        .select(F.col("_ua").alias("url_a"), F.col("_ub").alias("url_b"),
                "jaccard_est")
    )

    # duplicate docs rejoin as rep→member edges with Jaccard 1.0.
    # Materialized ONCE: connected components and the caller (the
    # result's `pairs`) both read it, and each un-cut read would re-run
    # the full verify + exact-edge lineage (incl. the sha256 corpus
    # scan). CC itself reads it once: small graphs in the one bounded
    # collect of its driver execution, larger ones in the one-scan
    # symmetrization its Spark rounds start from.
    pairs = _materialize(verified.union(
        exact_edges.withColumn("jaccard_est", F.lit(1.0))), "pairs")
    # everything downstream (CC, bucket stats) reads the sigs/pairs
    # scratch tables; the digest table has no remaining consumer
    edges = pairs.select("url_a", "url_b")
    if use_simhash:
        # the fingerprints ride in the sigs cut
        sh_pairs = simhash_near_pairs(sigs, mat, id_col=id_col,
                                      hamming_t=cfg.simhash_hamming,
                                      bucket_cap=cfg.bucket_cap)
        edges = edges.union(sh_pairs.select("url_a", "url_b")).distinct()

    # CC rounds cut through the SAME materializer — one strategy for
    # the whole run (round-3 verdict: the repo documented
    # localCheckpoint as harmful in stage.py while CC still used it)
    comps = connected_components(edges, mat=mat)
    stats = lsh_bucket_stats(
        band_keys(sigs.select(F.col("rid"), "band_hashes"), cfg, id_col="rid"),
        ["band_hash"], bucket_cap=cfg.bucket_cap)
    return NearDupResult(signatures=sigs, pairs=pairs,
                         clusters=comps, bucket_stats=stats,
                         materializer=mat)
