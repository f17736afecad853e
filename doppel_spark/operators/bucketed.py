"""Bucketed digest tables — co-located joins with zero data movement.

Every recurring join in the dedup funnel keys on the content digest:
snapshot-vs-snapshot intersection, incremental anti-join, group-member
lookup. Paying a full shuffle of both sides per run is the single
biggest avoidable cost at 100 TB — Spark's answer is BUCKETED tables:
``bucketBy(n, key)`` at write time hash-partitions rows into ``n``
files per partition and records the layout in the catalog; a
sort-merge join of two tables bucketed on the join key with the SAME
bucket count then reads bucket *i* of each side in one task — **no
Exchange node at all**, verified mechanically by
:func:`doppel_spark.plans.inspect.assert_no_exchange`. With
``sortBy`` the per-bucket sort is pre-paid at write time too.

This is the batch-layout twin of the durable checkpoint stages'
digest tables: pay one shuffle when the snapshot lands, then every later
join against it is free. (On Iceberg the same contract is a
``bucket(n, digest)`` partition transform + storage-partitioned
joins; the parquet ``saveAsTable`` here is the stand-in this
environment supports, same as checkpoint.py's manifest protocol.)

Reference tie: the reference re-derives its hash groups from scratch
every run (/root/reference/internal/scanner/finder.go:84-143); a
bucketed digest table is what "keep the groups around between runs"
means on a cluster.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doppel_spark.functions.digests import full_digest

#: default bucket count — on a real cluster size this to target
#: bucket files of 128-512 MB (n ≈ table_bytes / 256 MB), NOT to the
#: core count; buckets are a storage layout, parallelism comes from
#: bucket-file splits.
DEFAULT_BUCKETS = 16


def write_bucketed(df: DataFrame, table: str, path: str,
                   bucket_col: str = "digest",
                   n_buckets: int = DEFAULT_BUCKETS,
                   sort: bool = True) -> None:
    """Save ``df`` as an external parquet table bucketed (and
    optionally sorted) on ``bucket_col``.

    The table is registered in the session catalog (bucketed reads
    need the catalog's layout metadata — a plain ``read.parquet`` of
    the same files would NOT know the bucketing and would shuffle).
    ``path`` keeps the data out of the default warehouse so callers
    control its lifetime.
    """
    writer = df.write.mode("overwrite").option("path", path) \
        .bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table, format="parquet")


def digest_table(pages: DataFrame, id_col: str = "url",
                 text_col: str = "text") -> DataFrame:
    """(digest, min-id survivor, n_docs) per distinct content — the
    frame a snapshot's bucketed digest table stores."""
    return (pages
            .select(F.col(id_col), full_digest(text_col).alias("digest"))
            .filter(F.col("digest").isNotNull())
            .groupBy("digest")
            .agg(F.min(id_col).alias(id_col),
                 F.count(F.lit(1)).alias("n_docs")))


def snapshot_intersection(spark: SparkSession, pages_a: DataFrame,
                          pages_b: DataFrame, scratch_dir: str,
                          id_col: str = "url", text_col: str = "text",
                          n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Content present in BOTH snapshots, via bucketed digest tables.

    Writes each snapshot's digest table bucketed on digest (the
    pay-once shuffle), then joins them co-located. Returns one row per
    shared content: (digest, ``{id}_a``, ``{id}_b``, n_docs_a,
    n_docs_b). Table names are uniqued per call; the data lives under
    ``scratch_dir`` (caller-owned lifetime — the returned frame reads
    it lazily).

    The ``merge`` hint pins a sort-merge join: without it the
    session's 64 MB auto-broadcast threshold would turn a small side
    into a BroadcastExchange — correct, but it would stop exercising
    (and stop proving) the zero-Exchange co-located path this module
    exists for. Callers assert the property with
    :func:`~doppel_spark.plans.inspect.assert_no_exchange`.
    """
    tag = uuid.uuid4().hex[:8]
    ta, tb = f"doppel_bkt_a_{tag}", f"doppel_bkt_b_{tag}"
    write_bucketed(digest_table(pages_a, id_col, text_col), ta,
                   f"{scratch_dir}/{ta}", n_buckets=n_buckets)
    write_bucketed(digest_table(pages_b, id_col, text_col), tb,
                   f"{scratch_dir}/{tb}", n_buckets=n_buckets)
    a, b = spark.table(ta), spark.table(tb)
    return (a.hint("merge")
            .join(b.withColumnRenamed(id_col, f"{id_col}_b")
                   .withColumnRenamed("n_docs", "n_docs_b"), "digest")
            .select(F.col("digest"), F.col(id_col).alias(f"{id_col}_a"),
                    F.col(f"{id_col}_b"),
                    F.col("n_docs").alias("n_docs_a"), F.col("n_docs_b")))
