"""Token-budget corpus cut — a deterministic "take the first B tokens".

Training runs are sized in tokens, not documents: "cut me a 500 B-token
corpus from this 2 T-token pool, uniformly at random, reproducibly".
The selection rule here is the exact prefix semantics every re-run and
every engine can agree on: order all documents by ``(uniform_bucket(id),
id)`` — a reproducible uniform shuffle (:mod:`doppel_spark.functions.
splits`; never ``rand()``) — and keep the maximal prefix whose running
token total stays ≤ the budget.

Reference tie: doppel's deterministic keep-canonical convention — a
stable function of the row decides membership, never arrival order
(/root/reference/internal/finder/finder.go:116-121) — extended from
set membership to an *ordered* prefix.

Scale shape (100 TB): the naive plan is a global-order running sum — a
single-partition window, the textbook scale-killer. This module runs
the classic two-level distributed prefix sum instead:

1. bucket space is range-cut into ``blocks`` contiguous blocks (a pure
   per-row expression — no shuffle);
2. one map-side-combinable agg produces per-block token sums — tiny
   (``blocks`` rows) — whose driver-side cumulative sum locates the ONE
   boundary block where the budget runs out, plus its exact offset;
3. blocks left of the boundary are kept whole by a per-row predicate
   (no window at all — the common case covers budget·(blocks−1)/blocks
   of the selection); only the boundary block's ~n/``blocks`` rows pass
   through an exact within-block running-sum window.

The driver action in step 2 touches ``blocks`` aggregate rows (default
1024) — the same bounded-driver-state pattern as the IVF centroid
sample. Pick ``blocks`` so one block's rows fit an executor's window
sort; the default puts ~0.1% of a corpus in the boundary block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from doppel_spark.functions.splits import BUCKETS, uniform_bucket
from doppel_spark.operators.stage import StageMaterializer

#: seed namespace for the budget-cut ordering bucket
BUDGET_SEED = "tokbudget"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    token_col: Column | str,
    id_col: str = "doc_id",
    seed: str = BUDGET_SEED,
    blocks: int = 1024,
    *,
    mat: StageMaterializer,
) -> DataFrame:
    """Rows of ``df`` forming the maximal budget-respecting prefix.

    Exact semantics (engine-portable, DuckDB-mirrorable as one window):
    sort by ``(uniform_bucket(id, seed), id)``, keep every row whose
    running ``token_col`` total (including itself) is ≤
    ``budget_tokens``. Tokens must be non-negative; NULL counts as 0.

    Returns the winning input rows at full width (left-semi join on
    ``id_col`` — text never enters any shuffle here; the block agg and
    the boundary window both move slim ``(id, bucket, tokens)`` rows).

    ``mat`` — the caller's materializer; it owns the slim-row cut, which
    the caller frees with ``mat.cleanup()`` once the result is consumed.
    """
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    if not 1 <= blocks <= BUCKETS:
        raise ValueError(f"blocks must be in [1, {BUCKETS}], got {blocks}")
    tok = F.coalesce(_col(token_col).cast("long"), F.lit(0))
    slim = df.select(
        F.col(id_col),
        uniform_bucket(F.col(id_col), seed).alias("_bucket"),
        tok.alias("_tok"),
    ).withColumn(
        # contiguous range cut of bucket space: monotone in _bucket, so
        # block order == global order (bucket < 10^6, blocks <= 10^6 —
        # the product stays far inside long range)
        "_block", (F.col("_bucket") * blocks / F.lit(BUCKETS)).cast("long")
    )
    # slim feeds BOTH the block agg and the winner filters; token_col is
    # typically an expression over the full text, so without a cut the
    # corpus would be scanned (and tokenized) twice. ~24-byte rows
    slim = mat.cut(slim, "budget_slim")

    # per-block token totals: `blocks` rows to the driver, never data
    per_block = {
        int(r["_block"]): int(r["_s"])
        for r in slim.groupBy("_block").agg(F.sum("_tok").alias("_s")).collect()
    }
    boundary = None
    offset = 0  # exact token total of all blocks before the boundary
    cum = 0
    for b in sorted(per_block):
        if cum + per_block[b] > budget_tokens:
            boundary = b
            offset = cum
            break
        cum += per_block[b]

    if boundary is None:  # whole corpus fits the budget
        return df
    kept_whole = slim.filter(F.col("_block") < boundary).select(id_col)
    w = (
        Window.partitionBy("_block")
        .orderBy("_bucket", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept_boundary = (
        slim.filter(F.col("_block") == boundary)
        .withColumn("_cum", F.sum("_tok").over(w))
        .filter(F.col("_cum") + F.lit(offset) <= F.lit(budget_tokens))
        .select(id_col)
    )
    return df.join(kept_whole.union(kept_boundary), id_col, "left_semi")


def pack_sequences(
    df: DataFrame,
    budget_tokens: int,
    n_shards: int,
    token_col: Column | str,
    id_col: str = "doc_id",
    seed: str = "shard",
) -> DataFrame:
    """Greedy sequence packing: group documents into training sequences
    of ≤ ``budget_tokens`` tokens, without splitting documents.

    The step after the corpus cut: a training loader wants fixed-budget
    sequences, filled in the reproducible hash order of
    :func:`~doppel_spark.functions.splits.assign_shards` (same seed ⇒
    same shard layout as the shard writer). Greedy first-fit-in-order:
    walk the shard's docs by ``(order_key, id)``; when the running
    total would exceed the budget, start a new sequence. A document
    longer than the whole budget gets a singleton sequence (documents
    are never split — truncation is the loader's policy call, not the
    packer's).

    Output: one row per input doc — ``(id_col, shard, seq_id, seq_pos,
    n_tokens)`` with ``seq_id`` dense from 0 within its shard and
    ``seq_pos`` the doc's position inside its sequence.

    Scale shape: packing is inherently serial *within* a shard (each
    decision depends on the running total), so the unit of parallelism
    is the shard — the same rule the shard writer already imposes
    (size ``n_shards`` so one shard fits one task; at ~1 GB/shard that
    is ~1 M docs, and the per-task packing loop below walks plain numpy
    int64 arrays once). Only the slim ``(id, shard, order_key,
    n_tokens)`` projection enters the shuffle — text never moves.
    """
    import numpy as np
    import pandas as pd  # noqa: F401  (applyInPandas transport)
    from pyspark.sql import types as T

    from doppel_spark.functions.splits import assign_shards

    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    slim = assign_shards(
        df.select(F.col(id_col), _col(token_col).cast("long").alias("n_tokens")),
        n_shards, id_col, seed=seed)
    id_type = slim.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("shard", T.LongType()),
        T.StructField("seq_id", T.LongType()),
        T.StructField("seq_pos", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
    ])

    def pack(pdf):
        pdf = (pdf.sort_values(["order_key", id_col], kind="mergesort")
               .reset_index(drop=True))
        toks = pdf["n_tokens"].to_numpy()
        seq = np.empty(len(toks), dtype=np.int64)
        pos = np.empty(len(toks), dtype=np.int64)
        s = running = p = 0
        for i, t in enumerate(toks):
            if running > 0 and running + t > budget_tokens:
                s += 1
                running = 0
                p = 0
            running += int(t)
            seq[i] = s
            pos[i] = p
            p += 1
        return pdf.assign(seq_id=seq, seq_pos=pos)[
            [id_col, "shard", "seq_id", "seq_pos", "n_tokens"]]

    return slim.groupBy("shard").applyInPandas(pack, schema)
