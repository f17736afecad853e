"""Salted two-phase aggregation — explicit skew handling for hot keys.

North-rule operator (SURVEY.md §2.9): AQE's skew handling covers
sort-merge *joins*, but hot-key ``groupBy`` aggregations (boilerplate
LSH bands, ultra-common text lengths, empty-page digests) still funnel
one key's rows into one reducer task. Salting splits each key into S
shards — ``salt = pmod(xxhash64(id), S)`` — aggregates partials per
(key, salt), then combines the partials per key: the hot key's work
spreads over S tasks and the second phase touches only S rows per key.

Worth it only for algebraic aggregates (count/sum/min/max/avg): those
compose from partials. ``collect_list``-style holistic aggregates
cannot be salted without changing semantics — that is exactly why the
LSH pair generation caps bucket membership instead of salting it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, id_col: str, shards: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic shard id in [0, shards) derived from ``id_col``."""
    return df.withColumn(salt_col, F.pmod(F.xxhash64(id_col), F.lit(shards)))


def salted_agg(df: DataFrame, key_cols: list[str], id_col: str,
               aggs: dict[str, tuple[str, str]], shards: int = 16) -> DataFrame:
    """General salted aggregation for algebraic functions.

    ``aggs`` maps output column → (input column, fn) with fn ∈
    {count, sum, min, max}. Two phases: partial fn per (key, salt),
    then the matching combiner per key (count combines with sum).
    """
    _COMBINE = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
    salted = with_salt(df, id_col, shards)

    partials: list[Column] = []
    finals: list[Column] = []
    for out, (col, fn) in aggs.items():
        if fn not in _COMBINE:
            raise ValueError(f"{fn!r} is not algebraic; salting would change semantics")
        partials.append(getattr(F, fn)(col if fn != "count" else F.lit(1))
                        .alias(f"_p_{out}"))
        finals.append(getattr(F, _COMBINE[fn])(f"_p_{out}").alias(out))

    phase1 = salted.groupBy(*key_cols, "_salt").agg(*partials)
    return phase1.groupBy(*key_cols).agg(*finals)
