"""Broadcast Bloom-filter prefilter for cross-snapshot dedup.

The incremental-crawl anti-join (:func:`doppel_spark.operators.dedup
.cross_snapshot_new`) shuffles every incoming (id, digest) row. On a
real crawl most incoming content is NEW — those rows pay the shuffle
only to match nothing. The classic fix (used by every large-scale text
pipeline since GPT-3's dedup) is a Bloom filter over the seen-digest
set, broadcast to the scan: rows the filter rejects are *definitely*
new (Bloom filters have no false negatives) and skip the join
entirely; only the "maybe seen" trickle — true dups plus an
``fpr``-sized sliver of false positives — proceeds to the exact
anti-join. False positives therefore cost extra join rows, never
correctness: the operator's output is row-identical to
``cross_snapshot_new`` at ANY false-positive rate, which is exactly
what the DuckDB oracle checks.

Scale honesty: one global Bloom for 10^12 seen digests at 1 % FPR is
~1.4 TB — not broadcastable. The production shape is a bloom per
bounded window (the last K crawls; ~10^9 digests → 1.4 GB, within
Spark's broadcast ceiling) or per digest-range partition, with the
exact anti-join as the unconditional authority behind it. This module
implements the single-broadcast building block; windowing is table
layout, not operator logic. Bitmaps COMPOSE by bitwise OR (same
n_bits/n_hashes), so production maintenance is incremental: each crawl
builds a bloom over only its own new digests and the window's filter
is the OR of the last K crawl bitmaps — the accumulated digest set is
never re-scanned.

Hashing: positions come from double hashing (Kirsch–Mitzenmacher,
"Less Hashing, Same Performance", 2006) over two independent JVM-side
``xxhash64`` values of the digest string — ``pos_i = h1 + i·h2 mod m``
with ``h2`` forced odd so the stride never degenerates. The Python
side only ever sees two int64 columns; membership tests and bit
setting are whole-batch numpy (no per-row Python anywhere, matching
the engine-wide vectorized-only rule, plans/inspect.py).

The one multi-consumer frame (the hashed incoming projection) is cut
through the caller's :class:`~doppel_spark.operators.stage
.StageMaterializer`; the caller frees it once the result is consumed.

Reference tie: this is the cross-run generalization of the
reference's "skip files already in a known group" early exit
(/root/reference/internal/scanner/finder.go:84-96) — a cheap
membership summary consulted before the expensive comparison.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from doppel_spark.operators.stage import StageMaterializer

#: second-hash salt (any fixed literal independent of the plain hash)
_H2_SALT = "doppel-bloom-h2"

#: bitmap bytes above which build/broadcast is refused (driver safety;
#: Spark's own broadcast ceiling is 8 GB, we stop well short)
MAX_BITMAP_BYTES = 1 << 30


def bloom_params(expected_items: int, fpr: float) -> tuple[int, int]:
    """Optimal (n_bits, n_hashes) for ``expected_items`` at ``fpr``.

    n_bits = ceil(-n·ln p / ln²2) rounded up to a multiple of 64;
    n_hashes = round(m/n·ln 2), clipped to [1, 16].
    """
    if not 0.0 < fpr < 1.0:
        raise ValueError(f"fpr must be in (0, 1), got {fpr}")
    n = max(1, int(expected_items))
    m = int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2)))
    m = max(64, (m + 63) // 64 * 64)
    k = max(1, min(16, round(m / n * math.log(2))))
    return m, k


def _hash_cols(digest_col):
    """(h1, h2) int64 columns for a digest expression — JVM-side."""
    return (F.xxhash64(digest_col).alias("h1"),
            F.xxhash64(digest_col, F.lit(_H2_SALT)).alias("h2"))


def _positions(h1: np.ndarray, h2: np.ndarray, n_bits: int,
               n_hashes: int) -> Iterator[np.ndarray]:
    """Yield the probe-position vector for each of the k hash rounds.

    uint64 views of the int64 inputs: two's-complement reinterpretation
    is a bijection, so uniformity is preserved; ``h2 | 1`` keeps the
    double-hashing stride odd (never collapses to a single position).
    """
    u1 = h1.astype(np.int64, copy=False).view(np.uint64)
    u2 = h2.astype(np.int64, copy=False).view(np.uint64) | np.uint64(1)
    m = np.uint64(n_bits)
    for i in range(n_hashes):
        yield ((u1 + np.uint64(i) * u2) % m).astype(np.int64)


def build_digest_bloom(digests: DataFrame, n_bits: int, n_hashes: int,
                       max_build_partitions: int = 64) -> bytes:
    """Distributed Bloom build over a one-column ``digest`` frame.

    Each task folds its whole partition into one local bitmap
    (`mapInArrow`, whole-batch numpy ``bitwise_or.at``) and emits that
    single row; the driver ORs the per-partition bitmaps. Driver bytes
    = partitions × n_bits/8, so the build side is coalesced to at most
    ``max_build_partitions`` tasks first — the reduce is the cheap
    part, the scan stays as parallel as the source.
    """
    import pyarrow as pa

    if n_bits % 64 or n_bits <= 0:
        raise ValueError(f"n_bits must be a positive multiple of 64: {n_bits}")
    n_bytes = n_bits // 8
    if n_bytes > MAX_BITMAP_BYTES:
        raise ValueError(
            f"bitmap {n_bytes}B exceeds MAX_BITMAP_BYTES ({MAX_BITMAP_BYTES}B) "
            "— window the seen set (module docstring) instead of one bloom")
    bits, hashes = n_bits, n_hashes

    slim = digests.select(*_hash_cols(F.col("digest")))
    if slim.rdd.getNumPartitions() > max_build_partitions:
        slim = slim.coalesce(max_build_partitions)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        local = np.zeros(bits // 8, dtype=np.uint8)
        saw = False
        for b in batches:
            saw = True
            h1 = b.column(0).to_numpy(zero_copy_only=False)
            h2 = b.column(1).to_numpy(zero_copy_only=False)
            for pos in _positions(h1, h2, bits, hashes):
                np.bitwise_or.at(local, pos >> 3,
                                 np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8)))
        if saw:
            yield pa.record_batch([pa.array([local.tobytes()], pa.binary())],
                                  names=["bitmap"])

    parts = slim.mapInArrow(fold, "bitmap binary").collect()
    out = np.zeros(n_bytes, dtype=np.uint8)
    for row in parts:
        out |= np.frombuffer(row.bitmap, dtype=np.uint8)
    return out.tobytes()


def bloom_maybe_seen(bitmap_bc, n_bits: int, n_hashes: int):
    """Vectorized membership pandas_udf over (h1, h2) int64 columns.

    ``bitmap_bc`` is a ``SparkContext.broadcast`` of the bitmap bytes —
    shipped once per executor, not per task (closure capture of the
    raw bytes would re-pickle the bitmap into every task binary).
    True = possibly in the set; False = DEFINITELY absent.
    """
    import pandas as pd
    from pyspark.sql import types as T

    bits, hashes = n_bits, n_hashes

    # no type hints: `from __future__ import annotations` stringifies
    # them and pandas_udf's hint inference can't resolve the local
    # `pd` import; hint-less defaults to the SCALAR eval type we want
    @F.pandas_udf(T.BooleanType())
    def maybe(h1, h2):
        bm = np.frombuffer(bitmap_bc.value, dtype=np.uint8)
        a1 = h1.to_numpy(dtype=np.int64)
        a2 = h2.to_numpy(dtype=np.int64)
        ok = np.ones(len(a1), dtype=bool)
        for pos in _positions(a1, a2, bits, hashes):
            ok &= (bm[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1 > 0
        return pd.Series(ok)

    return maybe


def cross_snapshot_new_bloom(
    incoming: DataFrame,
    seen: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    fpr: float = 0.01,
    expected_items: int | None = None,
    n_bits: int | None = None,
    n_hashes: int | None = None,
    max_build_partitions: int = 64,
    *,
    mat: StageMaterializer,
) -> DataFrame:
    """Bloom-accelerated :func:`~doppel_spark.operators.dedup
    .cross_snapshot_new` — row-identical output, join traffic cut to
    the maybe-seen trickle.

    Plan shape: the seen side is scanned ONCE to build the broadcast
    bloom (digest-distinct first, so internal duplication is free) and
    once more lazily for the exact anti-join — but that join's left
    side now holds only incoming rows the bloom could not rule out
    (true refetches + ~``fpr`` of the new rows) instead of the whole
    crawl. Rows the bloom rejects are provably new and bypass the
    shuffle entirely. Output = bloom-definite-new ∪ exact-new(maybe).

    Sizing: pass ``n_bits``/``n_hashes`` explicitly, or ``fpr`` (+
    optional ``expected_items``). Without ``expected_items`` the seen
    digest frame is counted once at build time — same honest, cheap
    calibration action as IVF's (similarity.py): a count over a
    digest projection is parquet-stats-cheap, and in production the
    digest table's row count is a table property, not a job.

    NULL semantics match ``cross_snapshot_new`` exactly: NULL incoming
    text gets a per-row sentinel digest (always new), NULL seen text
    never blocks anything.

    The hashed incoming projection feeds three consumers (the two
    bloom branches and nothing else reads it twice — but Spark has no
    common-subtree elimination, so without a cut each branch would
    re-scan incoming and re-hash every text). It is cut through the
    caller's ``mat`` (a :class:`~doppel_spark.operators.stage
    .StageMaterializer`), which the caller frees with
    ``mat.cleanup()`` once the returned frame is consumed.
    """
    from doppel_spark.operators.dedup import _digest_or_sentinel
    from doppel_spark.functions.digests import full_digest

    seen_digests = (seen.select(full_digest(text_col).alias("digest"))
                    .filter(F.col("digest").isNotNull())
                    .distinct())
    if n_bits is None or n_hashes is None:
        n = expected_items if expected_items is not None else seen_digests.count()
        auto_bits, auto_hashes = bloom_params(n, fpr)
        n_bits = n_bits if n_bits is not None else auto_bits
        n_hashes = n_hashes if n_hashes is not None else auto_hashes

    bitmap = build_digest_bloom(seen_digests, n_bits, n_hashes,
                                max_build_partitions=max_build_partitions)
    spark = incoming.sparkSession
    bc = spark.sparkContext.broadcast(bitmap)
    maybe_udf = bloom_maybe_seen(bc, n_bits, n_hashes)

    inc = incoming.select(
        F.col(id_col),
        _digest_or_sentinel(text_col, id_col).alias("digest"))
    inc = inc.select(id_col, "digest", *_hash_cols(F.col("digest")))
    inc = inc.withColumn("_maybe", maybe_udf(F.col("h1"), F.col("h2")))

    inc = mat.cut(inc, "bloom_flags")

    definite_new = inc.filter(~F.col("_maybe")).select(id_col)
    maybe_rows = inc.filter(F.col("_maybe")).select(id_col, "digest")
    exact_new = (maybe_rows.join(seen_digests, "digest", "left_anti")
                 .select(id_col))
    new_ids = definite_new.unionByName(exact_new)
    return incoming.join(new_ids, id_col, "left_semi")
