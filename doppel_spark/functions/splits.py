"""Deterministic hash splits and stratified sampling — pure Catalyst.

Training pipelines need corpus cuts that are (a) deterministic across
runs and engines, (b) stable under repartitioning and insertion order,
(c) disjoint and exhaustive. All three fall out of hashing a stable
per-row key instead of using ``df.sample``/``rand()`` (which are
seed-AND-partitioning dependent, so a repartition reshuffles the split
— useless for reproducible train/val/test cuts).

The hash is **md5 of ``"seed:key"``, top 15 hex digits as a 60-bit
integer, modulo ``BUCKETS``** — chosen over ``xxhash64`` deliberately:
md5 is bit-identical in every engine (Spark, DuckDB, Python), so the
assignment is portable and oracle-checkable, and a 60-bit uniform
bucket is far more resolution than any split ratio needs. Cost: one
md5 over a short key per row, JVM-side whole-stage codegen — noise
next to the scan at 100 TB. No shuffle anywhere in this module: split
assignment and sampling are per-row expressions; a filter on them
composes with pushdown and partition pruning like any other predicate.

Reference tie: doppel's deterministic keep-canonical convention
(/root/reference/internal/finder/finder.go:116-121) — same principle
(stable function of the row decides, never arrival order) applied to
corpus cutting rather than group representatives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bucket resolution for split ratios (ppm — matches the repo's integer
#: micros convention for exact cross-engine comparison)
BUCKETS = 1_000_000


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def hash60(key: Column | str, seed: str) -> Column:
    """The raw 60-bit integer under the buckets: ``conv(substr(md5(seed
    || ':' || key), 1, 15), 16, 10)`` — engine-portable (DuckDB mirror:
    ``CAST('0x' || substr(md5(...), 1, 15) AS BIGINT)``), always ≥ 0
    (60 bits < the sign bit)."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(seed),
                              _col(key).cast("string"))), 1, 15),
        16, 10).cast("long")


def uniform_bucket(key: Column | str, seed: str,
                   buckets: int = BUCKETS) -> Column:
    """Deterministic uniform bucket in ``[0, buckets)`` from ``key``
    — :func:`hash60` mod ``buckets``."""
    return F.pmod(hash60(key, seed), F.lit(buckets)).alias("bucket")


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """``(name, exclusive upper bucket)`` per split, cumulative over
    normalized ``weights`` in dict order; the last entry is pinned to
    ``BUCKETS``. Split out so oracles/manifests can embed the EXACT
    integer boundaries :func:`assign_split` uses (float rounding at the
    boundary is then shared, not re-derived)."""
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError(f"weights must be positive, got {weights}")
    total = float(sum(weights.values()))
    out: list[tuple[str, int]] = []
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        out.append((name, int(cum * BUCKETS)))
    out.append((names[-1], BUCKETS))
    return out


def assign_split(key: Column | str, weights: dict[str, float],
                 seed: str = "split") -> Column:
    """Named split (``'train'``/``'valid'``/…) from cumulative bucket
    ranges over :func:`uniform_bucket`.

    ``weights`` values must be positive; they are normalized, so
    ``{"train": 9, "valid": 0.5, "test": 0.5}`` works. Boundaries are
    ``floor(cum_fraction * BUCKETS)`` with the LAST split taking every
    remaining bucket — splits are disjoint and exhaustive by
    construction, and each row's split depends only on (seed, key).
    Dict insertion order fixes the bucket layout; reordering the dict
    is a different (still valid) assignment.
    """
    bounds = split_thresholds(weights)
    b = uniform_bucket(key, seed)
    expr = None
    for name, hi in bounds[:-1]:
        branch = b < F.lit(hi)
        expr = (F.when(branch, F.lit(name)) if expr is None
                else expr.when(branch, F.lit(name)))
    last = F.lit(bounds[-1][0])
    out = last if expr is None else expr.otherwise(last)
    return out.alias("split")


def stratified_sample(df: DataFrame, fractions: dict[str, float],
                      key_col: str, by: str,
                      seed: str = "sample") -> DataFrame:
    """Per-stratum deterministic sampling: row kept iff its bucket <
    ``floor(fractions[row.by] * BUCKETS)``. Strata missing from
    ``fractions`` are DROPPED (fraction 0) — pass an explicit 1.0 to
    keep a stratum whole. Pure per-row predicate: no shuffle, no
    per-group pass, arbitrarily many strata."""
    for g, f_ in fractions.items():
        if not 0.0 <= f_ <= 1.0:
            raise ValueError(f"fraction for {g!r} must be in [0, 1], got {f_}")
    thr = None
    for g, f_ in fractions.items():
        branch = _col(by) == F.lit(g)
        lim = F.lit(int(f_ * BUCKETS))
        thr = (F.when(branch, lim) if thr is None
               else thr.when(branch, lim))
    thr = thr.otherwise(F.lit(0))
    return df.filter(uniform_bucket(key_col, seed) < thr)


def assign_shards(df: DataFrame, n_shards: int, key_col: str,
                  seed: str = "shard") -> DataFrame:
    """Deterministic training-shard layout: adds ``shard`` (long in
    ``[0, n_shards)``) and ``order_key`` (independent 60-bit long) to
    every row.

    The output layout a training loader wants from a 100 TB cut: which
    shard a document lands in and where it sits inside the shard are
    both pure functions of (seed, key) — reproducible across runs,
    engines, partitionings, and insertion orders, and the hash order
    within a shard IS the global pseudo-random document shuffle
    (no ``rand()``, no global sort). ``order_key`` uses an independent
    seed (``{seed}:order``) so within-shard order is uncorrelated with
    shard assignment. Per-row expressions only — no shuffle until the
    writer groups by shard.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    return df.withColumn(
        "shard", F.pmod(hash60(key_col, seed), F.lit(n_shards))
    ).withColumn("order_key", hash60(key_col, f"{seed}:order"))


def write_training_shards(df: DataFrame, path: str, n_shards: int,
                          key_col: str, seed: str = "shard",
                          mode: str = "overwrite") -> None:
    """Materialize ``df`` as ``n_shards`` hash-ordered parquet shards.

    One shuffle total: ``repartition(n_shards, shard)`` routes whole
    shards to tasks (a shard is never split across files), then
    ``sortWithinPartitions(shard, order_key, key)`` fixes the in-file
    order, and ``partitionBy("shard")`` writes ``shard=K/`` directories
    — so each shard is exactly one sorted file and the directory layout
    is the loader's index. The trailing ``key_col`` in the sort makes
    the file byte-order total even under an (astronomically unlikely)
    order_key tie.
    """
    sharded = assign_shards(df, n_shards, key_col, seed)
    (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "order_key", key_col)
        .write.mode(mode).partitionBy("shard").parquet(path)
    )
