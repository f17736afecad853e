"""Value gates for five rows-only contract queries.

``minhash_lsh_clusters``, ``simhash_fingerprints``,
``simhash_near_pairs``, ``emb_neardup_lsh`` and ``substring_pairs``
have no DuckDB oracle (their values are defined by engine hash
functions), so the contract sweep only checks that they run. These
tests recompute them at sf0.01 from per-document Python/numpy specs —
no Spark, no batch kernel — and compare every row (and, for the
clusters, every stage's values).
"""

from __future__ import annotations

import hashlib
import sys
from collections import defaultdict
from itertools import combinations
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from doppel_spark.config import NearDupConfig  # noqa: E402
from doppel_spark.functions.minhash import (  # noqa: E402
    ascii_ws_tokens,
    band_hashes,
    perm_constants,
)
from doppel_spark.operators.neardup import near_dup_pipeline  # noqa: E402
from doppel_spark.operators.stage import StageMaterializer  # noqa: E402
from doppel_spark.operators.suffix import fingerprint_candidates  # noqa: E402
from minhash_spec import shingle_hashes  # noqa: E402
from test_entry_contract import SF_DIR  # noqa: E402  (the contract's corpus)


def _documents() -> pd.DataFrame:
    return pq.read_table(f"{SF_DIR}/documents.parquet",
                         columns=["doc_id", "text"]).to_pandas()


@pytest.fixture(scope="module")
def spec() -> dict:
    """The near-dup pipeline from its per-document spec: exact-digest
    groups, MinHash signatures of their representatives, LSH bands,
    candidate pairs, signature agreement ≥ threshold − margin, then
    union-find. Holds every stage's values, keyed by url."""
    cfg = NearDupConfig()
    docs = _documents()
    urls = docs["doc_id"].astype(str).tolist()
    texts = dict(zip(urls, docs["text"]))
    by_digest = defaultdict(list)
    for u in urls:
        by_digest[hashlib.sha256(texts[u].encode()).hexdigest()].append(u)
    pairs = {}
    reps = []
    for members in by_digest.values():
        rep = min(members)
        reps.append(rep)
        pairs.update({(rep, m): 1.0 for m in members if m != rep})  # rep < m

    consts = perm_constants(cfg.num_perm, cfg.seed)
    sigs = np.empty((len(reps), cfg.num_perm), dtype=np.int32)
    with np.errstate(over="ignore"):
        for row, u in enumerate(reps):
            h = (shingle_hashes(texts[u], cfg.shingle_k)
                 >> np.uint64(32)).astype(np.uint32)
            sigs[row] = (consts[:, None] * h[None, :]).min(axis=1) \
                .astype(np.int32)
    bands = band_hashes(sigs, cfg.bands, cfg.rows_per_band)
    buckets = defaultdict(list)
    for row, keys in enumerate(bands):
        for key in keys:
            buckets[int(key)].append(row)
    # over-cap buckets star-pair around the min xxhash64(url); none occur
    # here, and the spec does not model them
    assert max(len(b) for b in buckets.values()) <= cfg.bucket_cap
    cand = {p for b in buckets.values() for p in combinations(sorted(b), 2)}
    floor = cfg.jaccard_threshold - cfg.verify_margin
    for a, b in cand:
        est = (sigs[a] == sigs[b]).sum() / cfg.num_perm
        if est >= floor:
            pairs[tuple(sorted((reps[a], reps[b])))] = float(est)

    parent = {u: u for u in urls}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = defaultdict(list)
    for u in urls:
        comps[find(u)].append(u)
    return {
        "signatures": {u: (sigs[i].tobytes(), bands[i].tolist())
                       for i, u in enumerate(reps)},
        "pairs": pairs,
        "clusters": sorted((min(m), len(m), ",".join(sorted(m)))
                           for m in comps.values() if len(m) > 1),
    }


def test_minhash_lsh_clusters_matches_python_spec(spark, spec):
    got = sorted(tuple(r) for r in entrymod.queries()["minhash_lsh_clusters"](
        spark, SF_DIR).collect())
    assert len(spec["clusters"]) > 0  # non-vacuous: sf0.01 plants clusters
    assert got == spec["clusters"]


def test_neardup_stages_match_python_spec(spark, spec):
    """The query's clusters survive many kernel faults (near-duplicates
    stay near under a different hash), so its stages are gated too:
    every signature byte, band hash and verified estimate."""
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .withColumn("url", F.col("doc_id").cast("string")))
    res = near_dup_pipeline(docs, NearDupConfig())
    sigs = {r["url"]: (bytes(r["signature"]), list(r["band_hashes"]))
            for r in res.signatures.collect()}
    pairs = {tuple(sorted((r["url_a"], r["url_b"]))): r["jaccard_est"]
             for r in res.pairs.collect()}
    res.cleanup()
    assert sigs == spec["signatures"]
    assert any(v < 1.0 for v in spec["pairs"].values())
    assert pairs == spec["pairs"]


def _spec_simhash(tokens: list[str], hashes: dict[str, int]) -> int:
    """64-bit SimHash, one bit at a time: bit j is set when more token
    occurrences have bit j set in their hash than clear."""
    fp = 0
    for j in range(64):
        vote = sum(1 if (hashes[t] >> j) & 1 else -1 for t in tokens)
        if vote > 0:
            fp |= 1 << j
    return fp - (1 << 64) if fp >> 63 else fp  # as Spark's signed long


def _spec_fingerprints(texts: list[str]) -> list[int]:
    """``_spec_simhash`` of each text, as Spark's signed long."""
    tokens = [ascii_ws_tokens(t or "") for t in texts]
    vocab = sorted({t for toks in tokens for t in toks})
    # the feature hash (pandas' SipHash) is elementwise: one call for all
    hashes = dict(zip(vocab, (int(h) for h in pd.util.hash_array(
        np.asarray(vocab, dtype=object)))))
    return [_spec_simhash(toks, hashes) for toks in tokens]


def test_simhash_fingerprints_matches_python_spec(spark):
    got = dict(entrymod.queries()["simhash_fingerprints"](
        spark, SF_DIR).collect())
    docs = _documents()
    want = dict(zip(docs["doc_id"], _spec_fingerprints(docs["text"].tolist())))
    assert len(set(want.values())) > 1
    assert got == want


def test_simhash_near_pairs_matches_python_spec(spark):
    """The query's rows are exactly the pairs within Hamming 3 of the
    spec fingerprints, brute-forced over sf0.01 plus the query's 20
    edited copies (doc_id + 3 000 000, text + " zyxq")."""
    hamming_t, bucket_cap = 3, NearDupConfig().bucket_cap
    docs = _documents()
    edited = docs[docs["doc_id"] < 20]
    urls = [str(d) for d in docs["doc_id"]] + \
        [str(d + 3_000_000) for d in edited["doc_id"]]
    texts = docs["text"].tolist() + [t + " zyxq" for t in edited["text"]]
    fps = [fp & (1 << 64) - 1 for fp in _spec_fingerprints(texts)]
    # no pigeonhole block bucket is over the cap, so the query pairs
    # every bucket in full and the brute-force set is its exact spec
    width = 64 // (hamming_t + 1)
    blocks = defaultdict(int)
    for fp in fps:
        for blk in range(hamming_t + 1):
            blocks[blk, fp >> (blk * width) & (1 << width) - 1] += 1
    assert max(blocks.values()) <= bucket_cap
    want = set()
    for i, j in combinations(range(len(urls)), 2):
        d = (fps[i] ^ fps[j]).bit_count()
        if d <= hamming_t:
            want.add((*sorted((urls[i], urls[j])), d))
    got = {tuple(r) for r in entrymod.queries()["simhash_near_pairs"](
        spark, SF_DIR).collect()}
    # non-vacuous: edited copies pair with their originals, and some
    # pairs are near but not identical
    assert any(b == str(int(a) + 3_000_000) for a, b, _ in want)
    assert any(d > 0 for *_, d in want)
    assert got == want


def _star_capped_pairs(buckets, cap: int) -> set:
    """Candidate pairs of ``bucket → member ids``: every pair of a bucket
    of at most ``cap`` members, star pairs around the minimum member of
    a larger one (``lsh.pairs_from_membership``)."""
    out = set()
    for members in buckets.values():
        members = sorted(set(members))
        if len(members) <= cap:
            out.update(combinations(members, 2))
        else:
            out.update((members[0], m) for m in members[1:])
    return out


def test_emb_neardup_lsh_matches_numpy_spec(spark):
    """The 500 sf0.01 vectors plus the query's 50 planted copies
    (``x + 0.03·reverse(x)`` in double, stored as float), 16 bands × 16
    random-hyperplane sign bits, splitmix64 band keys, star-capped
    buckets, then cosine ≥ 0.95 — in numpy."""
    bands, rows, cap, thr = 16, 16, 256, 0.95
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet",
                        columns=["vec_id", "embedding"]).to_pandas()
    ids = emb["vec_id"].to_numpy()
    x = np.stack(emb["embedding"].to_numpy()).astype(np.float32)
    first = x[ids < 50]
    copies = (first.astype(np.float64)
              + 0.03 * first[:, ::-1].astype(np.float64)).astype(np.float32)
    ids = np.concatenate([ids, ids[ids < 50] + 5_000_000])
    vecs = np.concatenate([x, copies]).astype(np.float64)

    planes = np.random.RandomState(42).standard_normal(
        (bands * rows, entrymod.EMB_DIM))
    proj = vecs @ planes.T
    # no projection near 0, so summation order cannot flip a sign bit
    assert np.abs(proj).min() > 1e-12
    mask = (1 << 64) - 1

    def splitmix64(z: int) -> int:
        z = (z + 0x9E3779B97F4A7C15) & mask
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
        return z ^ (z >> 31)

    buckets = defaultdict(list)
    for i, bits in enumerate(proj >= 0):
        for band in range(bands):
            packed = sum(1 << j for j in range(rows)
                         if bits[band * rows + j])
            key = splitmix64((packed + splitmix64(band)) & mask) >> 1
            buckets[key].append(int(ids[i]))
    row = {int(v): i for i, v in enumerate(ids)}
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    want = set()
    for a, b in _star_capped_pairs(buckets, cap):
        cos = float(unit[row[a]] @ unit[row[b]])
        # no cosine near the threshold, so rounding cannot flip a pair
        assert abs(cos - thr) > 1e-9
        if cos >= thr:
            want.add((a, b))
    got = {tuple(r) for r in entrymod.queries()["emb_neardup_lsh"](
        spark, SF_DIR).collect()}
    assert len(want) > 0  # non-vacuous: the planted copies are found
    assert got == want


def _spec_kgram_hashes(data: np.ndarray, k: int) -> np.ndarray:
    """Σ_{m<k} d[i+m]·B^(k−1−m) mod 2⁶⁴ for every k-gram, as the direct
    windowed sum."""
    base = 1099511628211
    powers = np.array([pow(base, k - 1 - m, 1 << 64) for m in range(k)],
                      dtype=np.uint64)
    windows = np.lib.stride_tricks.sliding_window_view(
        data.astype(np.uint64), k)
    with np.errstate(over="ignore"):
        return (windows * powers).sum(axis=1, dtype=np.uint64)


def _spec_lcs_len(a: str, b: str) -> int:
    """Longest common substring length by dynamic programming."""
    xb = np.array([ord(c) for c in b])
    prev = np.zeros(len(b) + 1, dtype=np.int64)
    best = 0
    for c in a:
        cur = np.zeros_like(prev)
        cur[1:] = np.where(xb == ord(c), prev[:-1] + 1, 0)
        best = max(best, int(cur.max()))
        prev = cur
    return best


def test_substring_pairs_matches_python_spec(spark):
    """Winnowed 64-gram fingerprints of the UTF-8 bytes (window 64; a
    text shorter than 64 bytes is zero-padded to one k-gram),
    fingerprint buckets, then the longest common substring ≥ 200 of
    every candidate pair — recomputed per document."""
    k = window = 64
    cap, min_len = 256, 200
    docs = _documents()
    urls = docs["doc_id"].astype(str).tolist()
    texts = dict(zip(urls, docs["text"]))
    buckets = defaultdict(list)
    for u in urls:
        data = np.frombuffer((texts[u] or "").encode("utf-8"), dtype=np.uint8)
        if len(data) < k:
            data = np.pad(data, (0, k - len(data)))
        h = _spec_kgram_hashes(data, k)
        mins = (np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
                if len(h) > window else h.min(keepdims=True))
        for fp in set((mins >> np.uint64(1)).tolist()):
            buckets[fp].append(u)
    # no bucket is over the cap, so every candidate pair is a full pair
    assert max(len(b) for b in buckets.values()) <= cap
    cand = _star_capped_pairs(buckets, cap)
    want = set()
    for a, b in cand:
        n = _spec_lcs_len(texts[a] or "", texts[b] or "")
        if n >= min_len:
            want.add((a, b, n))
    got = {tuple(r) for r in entrymod.queries()["substring_pairs"](
        spark, SF_DIR).collect()}
    # non-vacuous: some candidates share a long substring, some do not
    assert len(want) > 0 and len(cand) > len(want)
    assert got == want
    # the verified pairs survive many fingerprint faults (a long shared
    # substring still shares some fingerprint), so the candidates are
    # gated too
    frame = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
             .withColumn("url", F.col("doc_id").cast("string")))
    mat = StageMaterializer.for_input(frame, prefix="suffix")
    got_cand = {tuple(r) for r in fingerprint_candidates(
        frame, bucket_cap=cap, mat=mat).collect()}
    mat.cleanup()
    assert got_cand == cand
