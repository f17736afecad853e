"""SimHash 64-bit fingerprints + Hamming-pigeonhole candidate keys.

North-rule extension: the fallback near-dup signal for docs where
word-shingle MinHash is weak (short docs, heavy token reuse). A doc's
SimHash is the sign-vector of the weighted sum of its token hashes'
bit-vectors; near-dup docs differ in few bits.

Candidate generation uses the standard pigeonhole trick: split the 64
bits into ``hamming_t + 1`` blocks — two fingerprints within Hamming
distance t must agree **exactly** on at least one block, so grouping by
(block_id, block_value) finds all candidates with equi-join machinery
(same shape as LSH banding; no pairwise scan). Verification is
``bit_count(a ^ b) <= t`` — a single JVM expression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from doppel_spark.functions.minhash import ascii_ws_tokens

SIMHASH_BITS = 64


#: per-bit weights for packing the sign vector into one uint64
_BIT_WEIGHTS = np.uint64(1) << np.arange(SIMHASH_BITS, dtype=np.uint64)


def simhash_arrow_column(texts):
    """Arrow string column → int64 SimHash column over token features —
    the SimHash half of ``lsh.signature_stage``'s ``mapInArrow`` batch.

    Per doc: tokenize (ASCII-whitespace split, the engine-wide class),
    dedupe with counts
    (``np.unique`` — web text is stopword-heavy, so this typically
    shrinks the hash/bit work several-fold), hash the unique features
    (pandas SipHash, C), expand hash bits with ``unpackbits`` (uint8 —
    little-endian view, so row bit j IS value bit j), and take the
    count-weighted bit sums as one integer matvec. The 64-bit sign pack
    runs once per Arrow batch as a vectorized multiply-sum.

    Deliberately NOT flattened into one batch-wide matrix: the per-doc
    (n_feat × 64) intermediates stay cache-resident, while a
    batch-flattened formulation streams hundreds of MB of bit matrix
    through DRAM per batch and measured 3-10× *slower* on this
    memory-bandwidth-bound host (and loses the per-doc ``unique``
    compression on repetitive text). The weighted ±1 sum uses the
    identity ``v = 2·(counts·bits) − n_tokens``.
    """
    n = len(texts)
    ones = np.zeros((n, SIMHASH_BITS), dtype=np.int64)
    totals = np.zeros(n, dtype=np.int64)
    for i, t in enumerate(texts.to_pylist()):
        toks = ascii_ws_tokens(t or "")
        if not toks:
            continue
        feats, counts = np.unique(np.asarray(toks, dtype=object),
                                  return_counts=True)
        h = pd.util.hash_array(feats)  # (n_feat,) uint64
        bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1,
                             bitorder="little")  # (n_feat, 64) {0,1}
        ones[i] = counts @ bits
        totals[i] = counts.sum()
    v = 2 * ones - totals[:, None]  # weighted ±1 sums; empty docs → 0
    fp = ((v > 0).astype(np.uint64) * _BIT_WEIGHTS[None, :]) \
        .sum(axis=1, dtype=np.uint64)
    return pa.array(fp.view(np.int64))


def simhash_block_keys(fp: Column, hamming_t: int = 3) -> Column:
    """array of (hamming_t+1) block keys; equal fp block ⇒ same key.

    Each element packs (block_id << 56) | block_bits so a single long
    column can be exploded and grouped on directly.
    """
    n_blocks = hamming_t + 1
    width = SIMHASH_BITS // n_blocks
    keys = []
    for blk in range(n_blocks):
        shift = blk * width
        w = width if blk < n_blocks - 1 else SIMHASH_BITS - shift
        mask = F.lit((1 << w) - 1)
        block_bits = F.shiftrightunsigned(fp, shift).bitwiseAND(mask)
        keys.append(block_bits.bitwiseOR(F.lit(blk << 56)))
    return F.array(*keys)


def hamming_distance(a: Column, b: Column) -> Column:
    """bit_count(a XOR b) — one JVM expression."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame, mat: "StageMaterializer", id_col: str = "url",
    fp_col: str = "simhash", hamming_t: int = 3, bucket_cap: int = 256,
) -> DataFrame:
    """All pairs within Hamming distance t, via pigeonhole block grouping.

    Output: (url_a, url_b, hamming int). Exhaustive for distance ≤ t
    (pigeonhole guarantee). Buckets larger than ``bucket_cap`` fall back
    to star pairing around the smallest member (connectivity preserved,
    O(n) pairs) — the same skew guard as the LSH tier.

    ``df`` is read as given by the block keys and both verify sides,
    so pass it cut (the near-dup pipeline passes its ``sigs``). ``mat``
    cuts the block membership as ``simhash_memb``; the caller frees it.
    """
    from doppel_spark.operators.lsh import bucket_membership, pairs_from_membership

    fps = df.select(F.col(id_col), F.col(fp_col))
    exploded = fps.select(
        F.col(id_col),
        F.explode(simhash_block_keys(F.col(fp_col), hamming_t)).alias("block_key"),
    )
    # named apart from the LSH tier's ``memb``: a cut name is unique per
    # materializer (under a CheckpointStore it is the stage name)
    memb = mat.cut(bucket_membership(exploded, ["block_key"], id_col=id_col),
                   "simhash_memb")
    pairs = pairs_from_membership(memb, ["block_key"], id_col=id_col,
                                  bucket_cap=bucket_cap)
    a = fps.select(F.col(id_col).alias("url_a"), F.col(fp_col).alias("fp_a"))
    b = fps.select(F.col(id_col).alias("url_b"), F.col(fp_col).alias("fp_b"))
    return (
        pairs.join(a, "url_a").join(b, "url_b")
        .withColumn("hamming", hamming_distance(F.col("fp_a"), F.col("fp_b")))
        .filter(F.col("hamming") <= hamming_t)
        .select("url_a", "url_b", "hamming")
    )
