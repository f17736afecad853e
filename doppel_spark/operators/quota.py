"""Per-host document quotas — the docs-per-domain cap.

Web corpora are Zipfian in hosts: a handful of domains (SEO farms,
parked-domain templates, giant forums) contribute wildly more pages
than their marginal value to a training cut. The standard control is a
deterministic cap: keep at most ``k`` pages per host, chosen uniformly
but REPRODUCIBLY (same pages every run, every partitioning, every
engine) — never ``ORDER BY rand()``.

Reference tie: doppel's deterministic keep-canonical convention —
a stable function of the row decides membership, never arrival order
(/root/reference/internal/finder/finder.go:116-121) — applied as
"keep the k smallest hash-buckets per host" instead of "keep min id
per digest".

Selection rule: rank pages within a host by ``(uniform_bucket(id),
id)`` (md5-based 60-bit bucket from :mod:`doppel_spark.functions.
splits` — engine-portable, so the DuckDB oracle can mirror the exact
choice) and keep ranks ≤ k.

Scale shape (100 TB): the exact rank is a per-host window — one
shuffle keyed on host, the classic skewed key. The scale path bounds
the skew BEFORE the window with a statistical prefilter: per-host
counts (slim agg over (host) only, broadcast back under AQE) set a
per-row bucket threshold ``min(BUCKETS, ceil(BUCKETS·f·k/n))`` — a
pure predicate that cuts a 10⁹-page host to ~f·k rows before any
window sees it, while hosts already at ≤ f·k pages pass untouched.
The prefilter is OFF by default because it is approximate at small
``k``: the binomial draw can leave fewer than ``k`` survivors with
probability ≤ exp(−(f−1)²·k/(2f)) (Chernoff lower tail, δ=(f−1)/f,
μ=f·k; check it for a given ``k`` before turning the prefilter on) —
negligible for ``f·k ≳ 200``, not for k=1. Exact mode is always exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from doppel_spark.functions.splits import BUCKETS, uniform_bucket
from doppel_spark.functions.urls import host_of

#: seed namespace for the per-host selection bucket
HOST_CAP_SEED = "hostcap"


def cap_per_host(df: DataFrame, k: int, url_col: str = "url",
                 id_col: str = "doc_id", seed: str = HOST_CAP_SEED,
                 prefilter_factor: float | None = None) -> DataFrame:
    """At most ``k`` rows per host, chosen deterministically.

    Returns the input rows (all columns) of the winners. A host with
    ≤ k pages keeps all of them; a larger host keeps exactly ``k``
    (exact mode) — the k smallest ``(bucket, id)`` pairs, a
    reproducible uniform draw.

    ``prefilter_factor`` (e.g. 4.0) enables the statistical skew
    prefilter described in the module docstring; leave ``None`` for
    exact semantics at any ``k``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    host = host_of(url_col).alias("_host")
    bucket = uniform_bucket(F.col(id_col), seed).alias("_bucket")
    slim = df.select(F.col(id_col), host, bucket)

    if prefilter_factor is not None:
        if prefilter_factor <= 1:
            raise ValueError(
                f"prefilter_factor must be > 1, got {prefilter_factor}")
        counts = slim.groupBy("_host").agg(F.count(F.lit(1)).alias("_n"))
        thr = F.least(
            F.lit(BUCKETS),
            F.ceil(F.lit(float(BUCKETS) * prefilter_factor * k) / F.col("_n"))
            .cast("long"),
        )
        slim = (
            slim.join(F.broadcast(counts), "_host")
            .filter(F.col("_bucket") < thr)
            .drop("_n")
        )

    w = Window.partitionBy("_host").orderBy("_bucket", id_col)
    winner_ids = (
        slim.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(id_col)
    )
    return df.join(winner_ids, id_col, "left_semi")
