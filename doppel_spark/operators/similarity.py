"""Similarity search over embedding columns (`array<float>`).

Two tiers, mirroring the engine's cheap-signal-first doctrine:

* **Brute-force cosine top-k** — the exactness baseline. The (small)
  query set is broadcast; each partition of the big side computes
  cosine against every query with JVM-side ``zip_with``/``aggregate``
  arithmetic (no Python), then a per-query window keeps top-k. Cost is
  one pass over the corpus per batch of queries — the right plan when
  queries ≪ corpus, which is the ANN-probe shape.
* **Sign-LSH (random hyperplane) bucketed ANN** — the scale path: a
  deterministic set of hyperplanes maps every vector to a bit-sign
  bucket key; each query's key is expanded driver-side into its full
  Hamming-≤probe neighborhood and **equi-joined** against the corpus
  bucket column, so the probe prunes input through the join key
  instead of filtering a full scan. Recall/latency traded via n_planes
  and probe radius. Hyperplanes are generated from the seed — no
  fit/state.
* **Banded sign-LSH near-dup pairs** — all-pairs near-dup blocking is
  the same OR-construction as text MinHash-LSH: b bands × r
  hyperplane sign bits per band, band key = hash(band, bits),
  candidates from bucket explosion (shared ``pairs_from_buckets``
  machinery, caps included), then one JVM cosine per candidate. No
  non-equi join exists anywhere on the scale path.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from doppel_spark.operators.stage import StageMaterializer


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns (JVM-side)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def brute_force_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query id.

    Output: (query_id, neighbor_id, rank) — rank 1..k by descending
    cosine, ties broken by neighbor_id (fully deterministic).
    """
    base = emb.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(vec_col).alias("vec"))
    queries = (
        base.filter(F.col("neighbor_id").isin(query_ids))
        .select(F.col("neighbor_id").alias("query_id"), F.col("vec").alias("qvec"))
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("vec"), F.col("qvec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def sign_bucket(vec: Column, planes: np.ndarray) -> Column:
    """Pack sign(vec · plane_i) bits into one long bucket key (JVM-side)."""
    key = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(v)) for v in p])
        bit = F.when(dot(vec, plane) >= 0, F.lit(1 << i).cast("long")).otherwise(0)
        key = key + bit
    return key


def _hamming_ball(bucket: int, n_planes: int, radius: int) -> list[int]:
    """All bucket keys within Hamming distance ``radius`` of ``bucket``."""
    out = [bucket]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_planes), r):
            mask = 0
            for b in bits:
                mask |= 1 << b
            out.append(bucket ^ mask)
    return out


def lsh_ann_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10, n_planes: int = 12,
    probe_hamming: int = 1, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via a true bucket probe: each query's sign
    bucket is expanded driver-side into its Hamming-≤ ``probe_hamming``
    neighborhood (C(n_planes, ≤probe) keys — tiny for few queries) and
    **equi-joined** against the corpus bucket column. The probe prunes
    candidate rows through the broadcast-hash join key; no full-corpus
    Hamming filter runs. Same output schema as :func:`brute_force_topk`;
    recall < 1 by design.

    ``dim`` (the embedding width) is required: the hyperplane matrix is
    a plan literal, and inferring the width from data would cost a
    driver-side ``.first()`` action at plan-build time — no similarity
    entry point is allowed a driver action before the plan runs.
    """
    if dim is None:
        raise ValueError(
            "lsh_ann_topk requires dim (embedding width): inferring it "
            "would run a driver-side .first() at plan build")
    planes = hyperplanes(dim, n_planes, seed)
    base = emb.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(vec_col).alias("vec"))
    base = base.withColumn("bucket", sign_bucket(F.col("vec"), planes))
    qrows = (
        base.filter(F.col("neighbor_id").isin(query_ids))
        .select(F.col("neighbor_id").alias("query_id"),
                F.col("vec").alias("qvec"), F.col("bucket").alias("qbucket"))
        .collect()
    )
    spark = emb.sparkSession
    probe_rows = [
        (r["query_id"], r["qvec"], key)
        for r in qrows
        for key in _hamming_ball(r["qbucket"], n_planes, probe_hamming)
    ]
    probes = spark.createDataFrame(
        probe_rows, "query_id long, qvec array<double>, bucket long")
    joined = (
        base.join(F.broadcast(probes), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("vec"), F.col("qvec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def topk_recall(approx: DataFrame, exact: DataFrame,
                floor_micros: int | None = None) -> DataFrame:
    """Per-query recall@k of an approximate top-k against the exact one.

    Both inputs use the ``brute_force_topk`` schema (query_id,
    neighbor_id, rank). Output: (query_id, n_true, n_hit,
    recall_micros) — recall floored to integer micros so the value is
    float-repr-proof across engines/runs.

    With ``floor_micros`` set the plan embeds ``assert_true
    (recall_micros ≥ floor)``: any execution of the returned frame
    RAISES when a query's recall drops below the floor, so the
    quantitative gate rides inside the query itself (the no-silent-caps
    rule applied to approximation quality). ``assert_true`` yields NULL
    on success; filtering on ``isNull()`` keeps every row while forcing
    the check to evaluate per row.
    """
    hits = exact.join(approx.select("query_id", "neighbor_id"),
                      ["query_id", "neighbor_id"], "left_semi")
    per_true = exact.groupBy("query_id").agg(F.count("*").alias("n_true"))
    per_hit = hits.groupBy("query_id").agg(F.count("*").alias("n_hit"))
    out = (
        per_true.join(per_hit, "query_id", "left")
        .select("query_id", "n_true",
                F.coalesce("n_hit", F.lit(0)).alias("n_hit"))
        .withColumn("recall_micros",
                    F.floor(F.col("n_hit") * 1_000_000 / F.col("n_true"))
                    .cast("long"))
    )
    if floor_micros is not None:
        gate = F.assert_true(
            F.col("recall_micros") >= F.lit(floor_micros),
            F.concat(F.lit("ANN recall below floor: query "),
                     F.col("query_id").cast("string"),
                     F.lit(f" < {floor_micros} micros")))
        out = out.filter(gate.isNull())
    return out


def ivf_centroids(emb: DataFrame, n_centroids: int, seed: int = 42,
                  vec_col: str = "embedding", sample_cap: int = 50_000,
                  iters: int = 5) -> np.ndarray:
    """Deterministic IVF coarse quantizer: mini k-means on a seeded sample.

    The sample is tiny relative to the corpus (≤ ``sample_cap`` rows),
    selected by a **deterministic hash-threshold predicate** — a plain
    filter the scan evaluates in place, never a global sort (an
    ``orderBy.limit`` would sort 10¹² rows to pick 50k). The row count
    needed to calibrate the threshold is one columnless count
    (manifest/row-group-stats level on parquet). Driver-side numpy then
    sorts the ≲1.2×cap survivors by hash and truncates — deterministic
    regardless of partition layout. Lloyd iterations run in numpy on
    the driver; the centroid matrix is broadcast as plan literals — no
    ML-library dependency, no fit state to manage.
    """
    from pyspark.sql import functions as F2

    # calibration count: on parquet this resolves at row-group-stats
    # level (no column decode); behind an Iceberg catalog, prefer the
    # snapshot's total-records summary property to skip the job entirely
    n_rows = emb.count()
    frac = min(1.0, sample_cap * 1.2 / max(n_rows, 1))
    denom = 1 << 30
    h = F2.pmod(F2.xxhash64(F2.col(vec_col).cast("string")), F2.lit(denom))
    sample = (
        emb.select(_as_double(vec_col).alias("vec"), h.alias("_h"))
        .filter(F2.col("_h") < int(frac * denom))
        .toPandas()
    )
    sample = sample.sort_values("_h", kind="mergesort").head(sample_cap)
    x = np.array(sample["vec"].tolist(), dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        assign = (x @ cent.T).argmax(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def ivf_assign(emb: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding") -> DataFrame:
    """Add ``ivf_cell`` = argmax-dot-product centroid id (pure Catalyst).

    The centroid matrix rides into the plan as literal arrays; the
    argmax is a fold over per-centroid dot products — JVM-side, no UDF.
    """
    vec = _as_double(vec_col)
    best_id, best_dot = F.lit(0), F.lit(float("-inf"))
    for i, c in enumerate(centroids):
        plane = F.array(*[F.lit(float(v)) for v in c])
        d = dot(vec, plane)
        better = d > best_dot
        best_id = F.when(better, F.lit(i)).otherwise(best_id)
        best_dot = F.when(better, d).otherwise(best_dot)
    return emb.withColumn("ivf_cell", best_id.cast("int"))


def ivf_ann_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10, n_centroids: int = 16,
    n_probe: int = 2, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: search only the ``n_probe`` cells nearest to each
    query. Same output schema as :func:`brute_force_topk`."""
    cent = ivf_centroids(emb, n_centroids, seed, vec_col)
    assigned = ivf_assign(emb, cent, vec_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("vec"),
        "ivf_cell")
    qrows = assigned.filter(F.col("neighbor_id").isin(query_ids)) \
        .select(F.col("neighbor_id").alias("query_id"), F.col("vec").alias("qvec")) \
        .toPandas()
    # driver-side probe-cell selection per query (queries are few)
    probes = []
    for r in qrows.itertuples():
        q = np.array(r.qvec)
        q = q / max(np.linalg.norm(q), 1e-12)
        order = (cent @ q).argsort()[::-1][:n_probe]
        for cell in order:
            probes.append((int(r.query_id), int(cell)))
    spark = emb.sparkSession
    probe_df = spark.createDataFrame(probes, "query_id long, ivf_cell int")
    queries = assigned.filter(F.col("neighbor_id").isin(query_ids)).select(
        F.col("neighbor_id").alias("query_id"), F.col("vec").alias("qvec"))
    cand = (
        assigned.join(F.broadcast(probe_df), "ivf_cell")
        .join(F.broadcast(queries), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("vec"), F.col("qvec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
    )


def sign_band_keys_udf(planes: np.ndarray, bands: int, rows_per_band: int):
    """pandas UDF: vector → array<long> of ``bands`` band-bucket keys.

    One Arrow batch = one numpy matmul against the (bands×r, dim) plane
    matrix; each band's r sign bits pack into an int and mix with the
    band index (splitmix64) so cross-band buckets never merge. Vector
    math never leaves numpy; no per-row Python.
    """
    from doppel_spark.functions.minhash import splitmix64

    pm = planes.astype(np.float64)
    band_salt = splitmix64(np.arange(bands, dtype=np.uint64))
    weights = (np.uint64(1) << np.arange(rows_per_band, dtype=np.uint64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def band_keys(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.array(vecs.tolist(), dtype=np.float64)  # (n, dim)
        bits = (x @ pm.T) >= 0                          # (n, bands*r)
        packed = (bits.reshape(len(x), bands, rows_per_band).astype(np.uint64)
                  * weights[None, None, :]).sum(axis=2, dtype=np.uint64)
        with np.errstate(over="ignore"):
            keys = splitmix64(packed + band_salt[None, :])
        out = (keys >> np.uint64(1)).astype(np.int64)  # non-negative longs
        return pd.Series(list(out))

    return band_keys


def embedding_neardup_pairs(
    emb: DataFrame, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
    bands: int = 16, rows_per_band: int = 16, seed: int = 42,
    bucket_cap: int = 256, brute_force: bool = False,
    dim: int | None = None,
    mat: StageMaterializer | None = None,
) -> DataFrame:
    """Pairs of vectors with cosine ≥ threshold (id_a < id_b, sim).

    ``brute_force=True`` compares all pairs (oracle/test scale only).
    The default is **banded sign-LSH**: b bands × r hyperplane sign
    bits, band key = mix(band, bits), candidates from bucket explosion
    (the same capped ``pairs_from_buckets`` machinery as the text
    tiers — an equi-join shape end to end, no cartesian anywhere),
    then one JVM-side cosine per candidate pair. Candidate probability
    is 1−(1−p^r)^b with p = 1−θ/π; at cosine 0.95 the default 16×16
    catches a pair with P ≈ 0.96 (24 bands → 0.99).

    ``mat`` — the caller's :class:`~doppel_spark.operators.stage
    .StageMaterializer`, required on the LSH path (like ``dim``; the
    brute-force path cuts nothing). It owns the band-key, membership
    and candidate cuts, which the caller frees with ``mat.cleanup()``
    once the returned frame is consumed.
    """
    base = emb.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("vec"))
    if brute_force:
        a = base.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
        b = base.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        return (
            pairs.withColumn("sim", cosine(F.col("vec_a"), F.col("vec_b")))
            .filter(F.col("sim") >= threshold)
            .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
        )
    from doppel_spark.operators.lsh import pairs_from_buckets

    if dim is None:
        raise ValueError(
            "embedding_neardup_pairs (LSH path) requires dim (embedding "
            "width): inferring it would run a driver-side .first() at "
            "plan build")
    if mat is None:
        raise ValueError(
            "embedding_neardup_pairs (LSH path) requires mat: the caller "
            "owns the materializer that cuts its stages")
    planes = hyperplanes(dim, bands * rows_per_band, seed)
    keys = sign_band_keys_udf(planes, bands, rows_per_band)
    # Cut BELOW the banding UDF (id + band keys only — the vectors stay
    # in the parquet scan for the verify joins), then cut the candidate
    # funnel (three consumers: both participant branches + the verify
    # join). Round 2 persisted only ``cand``, ABOVE the un-materialized
    # membership subtree, so the UDF + bucket shuffles still re-ran
    # 2-6× inside cand's first evaluation — 26.5 s for 5 k vectors.
    # force=False: the membership cut inside pairs_from_buckets is the
    # next blocking action and its bucket-stats aggregation scans every
    # partition of this frame, filling the cache in that same job — the
    # separate fill count only added a driver round trip (r6).
    keyed = mat.cut(
        base.select("id", keys(F.col("vec")).alias("band_keys")), "band_keys",
        force=False)
    exploded = keyed.select("id", F.explode("band_keys").alias("band_key"))
    cand = mat.cut(
        pairs_from_buckets(exploded, ["band_key"], id_col="id",
                           bucket_cap=bucket_cap, mat=mat), "cand")
    participants = (
        cand.select(F.col("url_a").alias("id"))
        .union(cand.select(F.col("url_b").alias("id"))).distinct()
    )
    needed = base.join(participants, "id", "left_semi")
    a = needed.select(F.col("id").alias("url_a"), F.col("vec").alias("vec_a"))
    b = needed.select(F.col("id").alias("url_b"), F.col("vec").alias("vec_b"))
    return (
        cand.join(a, "url_a").join(b, "url_b")
        .withColumn("sim", cosine(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("sim") >= threshold)
        .select(F.col("url_a").alias("id_a"), F.col("url_b").alias("id_b"),
                F.round("sim", 6).alias("sim"))
    )


def semantic_dedup(
    emb: DataFrame, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
    bands: int = 16, rows_per_band: int = 16, seed: int = 42,
    bucket_cap: int = 256, brute_force: bool = False,
    dim: int | None = None,
    *,
    mat: StageMaterializer,
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster vectors whose cosine ≥
    ``threshold`` and elect one keeper per cluster.

    The doppel funnel (cheap blocking → exact confirmation → group →
    keep one; /root/reference/internal/finder/finder.go:47-143) applied
    to the embedding space instead of bytes: blocking = banded sign-LSH
    (or brute force at oracle scale), confirmation = JVM-side cosine,
    grouping = the same hash-min connected components the text tiers
    use, keeper = the cluster's smallest id (deterministic, no
    ``rand()``).

    Returns one row per input vector: ``(id_col, cluster_rep, keep)``
    — ``cluster_rep`` is the smallest id in the vector's ≥threshold
    component (its own id for singletons), ``keep`` marks the elected
    representative. Training-cut usage: ``.filter("keep")`` ⇒ the
    semantically-deduplicated corpus.

    Scale shape: pairs come from the capped equi-join blocking of
    :func:`embedding_neardup_pairs` (never all-pairs), components from
    plan-truncated label-propagation rounds; the caller's ``mat`` cuts
    both stages, so the LSH cuts and the CC rounds share a strategy,
    and the caller frees them with ``mat.cleanup()`` once the result
    is consumed.
    """
    from doppel_spark.operators.components import (
        clusters_with_singletons, connected_components)

    base = emb.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("vec"))
    pairs = embedding_neardup_pairs(
        base, threshold=threshold, id_col="id", vec_col="vec",
        bands=bands, rows_per_band=rows_per_band, seed=seed,
        bucket_cap=bucket_cap, brute_force=brute_force, dim=dim, mat=mat)
    comps = connected_components(
        pairs.select("id_a", "id_b"), src="id_a", dst="id_b", mat=mat)
    labeled = clusters_with_singletons(comps, base.select("id"), id_col="id")
    return labeled.select(
        F.col("url").alias(id_col),
        F.col("cluster_rep"),
        (F.col("url") == F.col("cluster_rep")).alias("keep"),
    )
