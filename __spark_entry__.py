"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship exact-dup report on sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2
(+ north-rule extensions). ``oracle_sql()`` — DuckDB-equivalent SQL for
every SQL-expressible query (identical column names/aliases both
sides); genuinely non-SQL ops (MinHash/LSH, SimHash, suffix-array,
winnowing — all hash-function-defined) are rows-only by design.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from doppel_spark.config import FilterConfig, NearDupConfig  # noqa: E402
from doppel_spark.corpus import LANG_STOPWORDS  # noqa: E402
from doppel_spark.functions.extract import (  # noqa: E402
    assert_extraction_identity, extract_pages)
from doppel_spark.functions.fingerprint import fingerprint_udf  # noqa: E402
from doppel_spark.functions.redact import (  # noqa: E402
    EMAIL_PATTERN,
    EMAIL_TOKEN,
    IPV4_PATTERN,
    IPV4_TOKEN,
    email_count,
    ipv4_count,
    redact_pii,
)
from doppel_spark.functions.splits import (  # noqa: E402
    assign_split,
    split_thresholds,
    stratified_sample,
)
from doppel_spark.functions.text import (  # noqa: E402
    SUBTOKEN_PATTERN,
    lang_id,
    quality_score_micros,
    token_count,
    word_token_count,
)
from doppel_spark.functions.urls import (  # noqa: E402
    TRACKING_PARAM_REGEX,
    host_profile,
    url_dup_groups,
)
from doppel_spark.operators.dedup import (  # noqa: E402
    cross_snapshot_new,
    dedup_assignments,
    dedup_stats,
)
from doppel_spark.operators.bloom import cross_snapshot_new_bloom  # noqa: E402
from doppel_spark.operators.bucketed import snapshot_intersection  # noqa: E402
from doppel_spark.operators.graph import RANK_SCALE, host_rank  # noqa: E402
from doppel_spark.functions.links import host_edges  # noqa: E402
from doppel_spark.operators.quota import (  # noqa: E402
    HOST_CAP_SEED,
    cap_per_host,
)
from doppel_spark.operators.budget import (  # noqa: E402
    BUDGET_SEED,
    token_budget_sample,
)
from doppel_spark.operators.dedup import keep_best  # noqa: E402
from doppel_spark.operators.contamination import (  # noqa: E402
    WS_CLASS as CONTAM_WS,
    contamination_report,
    decontaminate,
)
from doppel_spark.operators.exact import exact_dup_pipeline  # noqa: E402
from doppel_spark.operators.blocklist import url_blocklist_filter  # noqa: E402
from doppel_spark.operators.lines import (  # noqa: E402
    boilerplate_line_filter,
    dup_line_char_fraction_micros,
    dup_line_fraction_micros,
    line_dedup,
    line_dedup_within_doc,
    top_ngram_mass,
)
from doppel_spark.operators.lm import ccnet_buckets, doc_xent  # noqa: E402
from doppel_spark.operators.neardup import near_dup_pipeline  # noqa: E402
from doppel_spark.operators.similarity import (  # noqa: E402
    brute_force_topk,
    embedding_neardup_pairs,
    lsh_ann_topk,
    topk_recall,
)
from doppel_spark.operators.stage import StageMaterializer  # noqa: E402
from doppel_spark.operators.suffix import substring_dup_pairs  # noqa: E402
from doppel_spark.session import ship_package  # noqa: E402

# ---------------------------------------------------------------------------
# shared constants (must match oracle SQL literally)

ANN_QUERY_IDS = [0, 5, 10, 15, 20]
ANN_K = 10
#: asserted recall@k floors for the approximate ANN tiers, in micros
#: (1_000_000 = perfect recall vs the oracle-green brute-force top-k
#: over the SAME planted corpus). The queries below EMBED the assertion
#: in the plan (assert_true), so the driver's execution of the contract
#: query fails outright if the default probe configs ever drop below
#: the floor. Ground truth is PLANTED (10 perturbed copies of each
#: query vector, cosine ≥ 0.995 — they are the true top-10 by a wide
#: margin over the random corpus): on raw random vectors the "true"
#: neighbors are statistically indistinguishable from the bulk (measured
#: per-query recall 0.4–0.8 at any sane probe config), which measures
#: the data, not the index. Planted neighbors measure what the tier is
#: for — finding genuinely-near vectors. Measured: both tiers recover
#: 10/10 planted for every query at sf0.001/sf0.01/sf0.1.
ANN_LSH_RECALL_FLOOR_MICROS = 900_000
ANN_IVF_RECALL_FLOOR_MICROS = 900_000
EMB_NEARDUP_THRESHOLD = 0.5
#: embedding width of the testdata tables (all SFs) — passed to the
#: LSH/banded queries so plan build needs no driver `.first()` probe
EMB_DIM = 64
#: appended to planted n-gram-Jaccard copies: 10 fresh tokens ⇒ a known
#: non-trivial Jaccard against the original (same tokenization both engines)
NGRAM_EDIT_SUFFIX = " qq ww ee rr tt yy uu ii oo pp"
#: planted-substring construction (mirrored literally in the oracle):
#: SUB_N_PAIRS composite pairs, payload lengths SUB_MIN_LEN + i*SUB_LEN_STEP,
#: hosts truncated to SUB_HOST_LEN (< SUB_MIN_LEN so host-host runs can
#: never reach the output threshold). Payload blocks are 14 chars
#: ('«%03d.xxxxxxxx»'); '«'/'»' never occur in the testdata corpus
#: (probed at every SF), so payload↔host common runs are ≤ 12 chars.
SUB_N_PAIRS = 12
SUB_HOST_LEN = 200
SUB_MIN_LEN = 256
SUB_LEN_STEP = 17
SUB_BLOCK_REPS = 40  # 40 × 14-char blocks = 560 ≥ max payload 443
#: planted-cluster construction for the MinHash/LSH/CC and SimHash
#: tiers (mirrored literally in the oracles). Token stems are
#: ``md5(text)`` of the first distinct document texts — grounded in the
#: table yet whitespace-free, so tokenization is identical everywhere.
PLANT_TOKENS = 12          # tokens per base sequence (≥ shingle_k = 5)
MHP_GROUPS = 15            # planted LSH cluster count
MHP_SINGLETONS = 10        # planted must-NOT-cluster docs
SHP_PAIRS = 20             # planted SimHash rotation pairs
FCP_HITS = 15              # planted fuzzy-contamination (corpus, eval) hits
FCP_CLEAN = 10             # planted must-NOT-flag corpus docs
FCP_EVAL_ONLY = 5          # eval docs matching nothing in the corpus
XSN_HITS = 12              # planted cross-snapshot (incoming, seen) hits
XSN_CLEAN = 8              # planted genuinely-new incoming docs
XSN_SEEN_ONLY = 5          # seen docs matching nothing incoming
#: skew-stats planting: one hot group of HOT_MEMBERS docs sharing a
#: shingle set (m-fold repetitions of one base, m = 2..HOT_MEMBERS+1) —
#: all HOT_MEMBERS land in the same LSH bucket in every band; HOT_CAP
#: is the bucket_cap variant under which that bucket must be counted
#: as capped (star pairing), with the skipped-pair arithmetic pinned
HOT_MEMBERS = 40
HOT_CAP = 32
#: line-structure planting (mirrored literally in _LINE_DOCS_SQL):
#: documents re-wrapped into LINE_WRAP-token lines; every 5th doc gets
#: a shared boilerplate line (cross-doc dup for line_dedup), every 7th
#: repeats its own first line (intra-doc dup for the repetition
#: signals) — both plants are non-vacuous at every SF
LINE_WRAP = 8
BOILER_LINE = "subscribe now click here to continue reading"
#: shared TWO-LINE paragraph appended to every 3rd doc in the paragraph
#: contract — the internal single newline is the point: it must stay
#: INSIDE the unit (paragraph mode) where line mode would split it
PARA_BLOCK = "verify your email\nto keep reading this article"
#: document-frequency threshold for the boilerplate_lines contract —
#: the planted BOILER_LINE sits in every 5th doc (df ≫ 3 at every SF),
#: so the cut is non-vacuous AND must remove the first occurrence
#: line_dedup deliberately keeps
BOILER_MIN_DF = 3
#: blocklist contract config over the URL-variant corpus: blocking the
#: registrable host 'example.org' must catch blog.example.org (and its
#: cased/port variants) via the subdomain-closed suffix match while the
#: news host passes; the second entry hits nothing (exercises the
#: broadcast list without changing results). The path pattern blocks
#: news articles whose article number ends in 7 (both URL variants).
BLOCK_HOSTS = ("example.org", "tracker.spam.example")
BLOCK_PATH_PATTERN = r"articles/[0-9]*7[/?]"
#: PII planting mods: every 3rd doc gets an email, every 4th an IPv4
PII_EMAIL_MOD = 3
PII_IP_MOD = 4
#: decontamination planting: eval set = the 12-token span starting at
#: token 3 (1-based) of every 6th doc; overlap tested at word-8-grams
DECON_N = 8
DECON_MOD = 6
DECON_POS = 3
DECON_LEN = 12
#: split / sampling configs (seeds pin the md5 bucket space)
SPLIT_WEIGHTS = {"train": 0.9, "valid": 0.05, "test": 0.05}
SPLIT_SEED = "cut-v1"
STRAT_FRACTIONS = {"en": 1.0, "de": 0.5, "fr": 0.25}
STRAT_SEED = "strat-v1"
#: training-shard layout config (shard + order_key from md5 hash60)
N_SHARDS = 16
SHARD_SEED = "shards-v1"
#: sequence-packing budget (tokens per training sequence) — small enough
#: that sf0.01 docs pack several-per-sequence AND some docs oversize
PACK_BUDGET = 300
#: multimodal resize / frame-sampling contract config (fake decoder —
#: dims/frame counts derive from sha256(payload), mirrored in DuckDB)
MEDIA_MAX_SIDE = 96
MEDIA_FRAME_K = 7
#: gopher_quality_filter thresholds for the contract query — tuned so
#: the planted line corpus exercises several reasons, not just 'ok'
GOPHER_CFG = dict(min_tokens=60, max_tokens=10_000,
                  max_dup_line_micros=80_000,
                  max_dup_char_micros=80_000,
                  min_stop_hits=2, max_punct_micros=100_000,
                  min_distinct_micros=300_000)

FILTER_PRESET = FilterConfig(
    exclude_source_globs=("src1*",),
    min_size=100,
    max_size=400,
    langs=("en", "de"),
)

QUICK_SAMPLE_SQL = (
    "CASE WHEN n_chars < 16384 THEN substr(text, 1, 8192) "
    "ELSE substr(text, 1, 8192) || substr(text, n_chars - 8191, 8192) END"
)

_TOKENS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan spread (optimization guide §2.2/§6.1).

    The sf testdata tables are SINGLE-row-group parquet files, so the
    scan cannot be split below one task: every per-row stage above it
    (tokenization, UDF kernels, gram explosion) funnels through one
    core no matter how many the session has — measured r6 baseline:
    whole-stage views stuck at "(1 + 1) / 2" on local[32]. When (and
    only when) the scan yields fewer partitions than the session's
    default parallelism, round-robin repartition to the core count: a
    one-off local shuffle of the (by definition small) input that
    unlocks full-width execution, with column pruning still applied
    below the exchange. On a real table at cluster scale the scan has
    >= parallelism splits and this is a no-op — no shuffle is added.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unspread documents scan — for the exact-dedup funnel family and
    the queries whose only per-row work is one ``regexp_count``
    (``packed_sequences``, ``token_budget_cut``: the spread's extra
    shuffle costs more than it saves them, measured 0.86×).

    The funnel's per-row work is bounded-sample hashing by design
    (unique-size docs are never digested; quick digests read ≤16 KiB),
    so widening the scan buys it almost nothing — while its fully lazy
    stacked-semi-join shape evaluates the input subtree ~5× per query,
    so a repartition in the lineage is re-paid per evaluation path
    (measured: the exact_dup_* / dedup_* queries got 0.2–0.8 s SLOWER
    under the spread at sf1.0 while every per-row-heavy query got
    4–50× faster). At cluster scale the distinction vanishes: a real
    table scan is already parallel and `_spread` is a no-op there too.
    """
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _line_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic line-structured corpus for the line-granularity ops.

    The flat word-soup documents carry no newlines, so line structure is
    planted: each doc's tokens are re-wrapped into ``LINE_WRAP``-token
    lines; every 5th doc additionally ends with the shared
    ``BOILER_LINE`` (a cross-document duplicate line — the boilerplate
    line_dedup exists to kill), and every 7th doc repeats its own first
    line (an intra-document duplicate for the repetition signals).
    Mirrored literally by ``_LINE_DOCS_SQL``.
    """
    # the token array is projected once and referenced as an attribute:
    # with ``slice(toks, …)`` inline in the chunk lambda, interpreted
    # HOF evaluation re-split the document once per chunk — O(tokens²)
    # per doc across every line-granularity contract query (the r6
    # per-element re-eval fix, see contamination.word_ngrams)
    toks = F.col("_toks")
    nchunks = F.ceil(F.size(toks) / F.lit(LINE_WRAP)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.array_join(F.slice(toks, i * LINE_WRAP + 1, LINE_WRAP), " "),
    )
    body = F.array_join(chunks, "\n")
    first_line = F.array_join(F.slice(toks, 1, LINE_WRAP), " ")
    text = F.concat(
        body,
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("\n"), F.lit(BOILER_LINE))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit("\n"), first_line)).otherwise(F.lit("")),
    )
    return (_docs(spark, sf_dir)
            .select("doc_id", F.split(F.col("text"), " ").alias("_toks"))
            .select("doc_id", text.alias("text")))


#: DuckDB mirror of :func:`_line_docs` — a CTE named ``line_docs``
_LINE_DOCS_SQL = f"""
    line_docs AS (
      SELECT doc_id,
             b
             || CASE WHEN doc_id % 5 = 0
                     THEN chr(10) || '{BOILER_LINE}' ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN chr(10) || first_line ELSE '' END AS text
      FROM (
        SELECT doc_id,
               array_to_string(
                 list_transform(
                   range(0, CAST(ceil(len(toks) / {LINE_WRAP}.0) AS INT)),
                   i -> array_to_string(
                     list_slice(toks, i * {LINE_WRAP} + 1,
                                i * {LINE_WRAP} + {LINE_WRAP}), ' ')),
                 chr(10)) AS b,
               array_to_string(list_slice(toks, 1, {LINE_WRAP}), ' ')
                 AS first_line
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      )
    )"""


# ---------------------------------------------------------------------------
# entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the exact-duplicate report (metrics row) on sf0.001.

    ≈ ``doppel find`` end-to-end (/root/reference/cmd/find.go:187-229):
    three-stage funnel + Stats report.
    """
    ship_package(spark)
    docs = _docs(spark, "/root/testdata/sf0.001")
    res = exact_dup_pipeline(docs, id_col="doc_id", size_col="n_chars")
    return res.metrics()


# ---------------------------------------------------------------------------
# queries


def _q_exact_dup_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = exact_dup_pipeline(_docs_raw(spark, sf_dir), id_col="doc_id",
                             size_col="n_chars", sequential_ids=True)
    return res.members().withColumnRenamed("url", "doc_id")


def _q_exact_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = exact_dup_pipeline(_docs_raw(spark, sf_dir), id_col="doc_id",
                             size_col="n_chars")
    return res.metrics()


def _q_exact_dup_report_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship funnel WITH the filter preset attached (round-3
    verdict task 5): filter-during-scan (size window + source glob +
    lang allowlist, ≈ doppel's --preset path, cmd/find.go:187-229 +
    filter.go:147-207) feeding the three-stage funnel's stats report.
    Filter and funnel were previously only contract-tested separately."""
    res = exact_dup_pipeline(
        _docs_raw(spark, sf_dir), id_col="doc_id", size_col="n_chars",
        filter_config=FILTER_PRESET, source_col="source", lang_col="lang")
    return res.metrics()


def _q_stream_dedup_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming incremental exact dedup, run to completion
    under an ``availableNow`` trigger (round-3 verdict task 4 — the
    streaming tier's first contract query). The documents table plus a
    re-keyed duplicate copy (identical text, same event time) is staged
    as a file stream; ``dropDuplicatesWithinWatermark`` on the content
    digest must emit each distinct text exactly once — input 2N rows →
    output N digests, which the DuckDB oracle reproduces as
    ``SELECT DISTINCT sha256(text)``. Which doc_id of a duplicate pair
    survives is micro-batch-order-dependent, so the contract output is
    the (deterministic) surviving digest SET, not the row ids."""
    import atexit
    import shutil
    import tempfile

    from doppel_spark.streaming.incremental import incremental_exact_dedup_stream

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.select((F.col("doc_id") + F.lit(6_000_000)).alias("doc_id"),
                          "text")
    # fixed synthetic event times (determinism: no wall clock); a dup
    # pair's two rows share one timestamp, far inside the 1h watermark
    both = docs.union(planted).withColumn(
        "warc_ts",
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("doc_id") % 60))
    tmp = tempfile.mkdtemp(prefix="doppel_stream_")
    # the returned frame lazily reads {tmp}/out, so removal must wait
    # until the driver has consumed it — reclaim at interpreter exit
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    both.write.parquet(f"{tmp}/in")
    stream = spark.readStream.schema(both.schema).parquet(f"{tmp}/in")
    dedup = incremental_exact_dedup_stream(stream, ts_col="warc_ts",
                                           text_col="text")
    q = (dedup.writeStream.trigger(availableNow=True)
         .format("parquet").option("path", f"{tmp}/out")
         .option("checkpointLocation", f"{tmp}/ck").start())
    q.awaitTermination()
    return spark.read.parquet(f"{tmp}/out").select("digest").distinct()


def _q_stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed aggregation (the canonical late-data
    pattern), contract-checked on the GUARANTEED side of the watermark.
    Batch 0 is the events table plus an anchor row at 2024-03-01 00:00
    (beyond every real event) that pins the post-batch watermark at
    anchor − 1h regardless of the data's own max ts. Batch 1 then
    carries ``planted_late_ok`` (2024-02-29 23:30 — a cross-batch late
    arrival whose hour window is still open under that watermark, so it
    MUST be counted) and a far-future ``planted_sentinel`` whose only
    job is to advance the watermark past every real window so append
    mode emits them all; the sentinel's own window (and only it) stays
    unemitted in state. The DuckDB oracle is the hourly group-by over
    events UNION the late row and the anchor — a missed late update, a
    double append emission, or a leaked unclosed window is a row/hash
    mismatch, not a vacuous pass. The DROP side of the watermark is
    deliberately not asserted: Spark documents it as one-sided ("late
    data may be dropped"), and empirically (4.1, offset-log
    batchWatermarkMs verified) a beyond-watermark row forms a fresh
    window and is emitted in its own batch — a deterministic contract
    can only pin the guarantee."""
    import atexit
    import shutil
    import tempfile

    from doppel_spark.streaming.windows import windowed_event_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("ts", "event_type")

    def planted(ts: str, kind: str) -> DataFrame:
        return spark.range(1).select(
            F.to_timestamp(F.lit(ts)).alias("ts"), F.lit(kind).alias("event_type"))

    b0 = ev.union(planted("2024-03-01 00:00:00", "planted_anchor"))
    b1 = (planted("2024-02-29 23:30:00", "planted_late_ok")
          .union(planted("2024-06-01 00:00:00", "planted_sentinel")))
    tmp = tempfile.mkdtemp(prefix="doppel_evstream_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    b0.coalesce(1).write.parquet(f"{tmp}/in/b0")
    b1.coalesce(1).write.parquet(f"{tmp}/in/b1")
    stream = (spark.readStream.schema("ts timestamp, event_type string")
              .option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/*"))
    agg = windowed_event_counts(stream, window="1 hour", watermark="1 hour")
    q = (agg.writeStream.trigger(availableNow=True)
         .format("parquet").option("path", f"{tmp}/out")
         .outputMode("append")
         .option("checkpointLocation", f"{tmp}/ck").start())
    q.awaitTermination()
    return (spark.read.parquet(f"{tmp}/out")
            .select(F.col("window.start").alias("hour"), "event_type",
                    F.col("n_events").cast("long").alias("n_events")))


def _q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs_raw(spark, sf_dir)
        .groupBy(F.col("n_chars").alias("size"))
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def _q_filter_preset_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_raw(spark, sf_dir)
    kept = docs.filter(FILTER_PRESET.keep_predicate(
        url_col="doc_id", size_col="n_chars", source_col="source",
        lang_col="lang"))
    return kept.select("doc_id", "lang", "source", "n_chars")


def _q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_assignments(_docs_raw(spark, sf_dir), id_col="doc_id")


def _q_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    asg = dedup_assignments(_docs_raw(spark, sf_dir), id_col="doc_id")
    return dedup_stats(asg, id_col="doc_id").select(
        F.col("total_docs").cast("long").alias("total_docs"),
        F.col("kept_docs").cast("long").alias("kept_docs"),
        F.col("removed_docs").cast("long").alias("removed_docs"),
        F.col("dup_groups").cast("long").alias("dup_groups"),
    )


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", token_count("text"), word_token_count("text"))


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", lang_id("text"))


def _q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", quality_score_micros("text"))


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brute_force_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, k=ANN_K)


def _q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(
        _emb(spark, sf_dir), threshold=EMB_NEARDUP_THRESHOLD, brute_force=True
    ).select("id_a", "id_b")


def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # text treated as an opaque binary payload: byte length + digest
    docs = _docs(spark, sf_dir)
    payload = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("byte_len"),
        F.sha2(payload, 256).alias("payload_digest"),
    )


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as a media table: text bytes as the opaque payload,
    kind alternating image/video by id parity (so frame sampling sees
    both the single-frame and the fan-out branch)."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image"))
        .otherwise(F.lit("video")).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )


def _q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing over the fake decoder: integer aspect-preserving
    scale-down past MEDIA_MAX_SIDE, byte-identical pass-through below
    it; the resized payload's digest is value-checked (the oracle
    reproduces the fake decoder's dimension/digest math from
    sha256(text))."""
    from doppel_spark.operators.multimodal import resize_media

    out = resize_media(_media(spark, sf_dir), max_side=MEDIA_MAX_SIDE)
    return out.select(
        "asset_id", "kind", "width", "height",
        F.sha2("payload", 256).alias("resized_digest"))


def _q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out: every MEDIA_FRAME_K-th frame of each
    video (images contribute frame 0) — output cardinality ≠ input
    cardinality through one mapInPandas; per-frame digests are
    value-checked against the oracle's replay of the fake decoder."""
    from doppel_spark.operators.multimodal import sample_frames

    return sample_frames(_media(spark, sf_dir), every_k=MEDIA_FRAME_K) \
        .select("asset_id", "frame_no", "frame_digest")


def _q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide line-level exact dedup over the planted
    line corpus: the shared boilerplate line survives exactly once
    (in the smallest (doc_id, line_no)), every other occurrence —
    including the planted intra-doc repeats — is dropped and documents
    are reassembled from their surviving lines."""
    return line_dedup(_line_docs(spark, sf_dir), id_col="doc_id")


def _q_line_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals (duplicate-line
    fraction + duplicate-line character fraction, integer micros) over
    the planted line corpus — non-vacuous via the every-7th-doc
    repeated first line."""
    return _line_docs(spark, sf_dir).select(
        "doc_id",
        dup_line_fraction_micros("text"),
        dup_line_char_fraction_micros("text"),
    )


def _q_line_dedup_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style INTRA-document line dedup over the planted line
    corpus: every 7th doc repeats its own first line, which must be
    dropped (n_lines_dropped = 1) while the cross-document boilerplate
    line (every 5th doc) survives everywhere — within-doc dedup must
    not touch cross-doc sharing. Pure per-row Catalyst, zero shuffle."""
    return line_dedup_within_doc(_line_docs(spark, sf_dir), id_col="doc_id")


def _q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency boilerplate cut over the planted line corpus:
    the shared BOILER_LINE (every 5th doc → df ≫ BOILER_MIN_DF) must be
    removed from EVERY document — including the first occurrence
    line_dedup keeps — while doc-unique lines (and the every-7th-doc
    intra-doc repeat, which never raises document frequency) survive
    intact. The oracle counts df on the line TEXT itself, so the Spark
    side's xxhash64 frequency key is collision-checked, not trusted."""
    return boilerplate_line_filter(_line_docs(spark, sf_dir),
                                   min_df=BOILER_MIN_DF, id_col="doc_id")


def _q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List-based curation gate over the URL-variant corpus: the
    blocklist entry ``example.org`` must block the blog host in all its
    case/port spellings via the subdomain-closed suffix equi-join
    (never a LIKE theta-join), the news host passes the host rule, and
    articles numbered *7 fall to the path pattern — reason precedence
    (host > path) is part of the contract. Dead second entry exercises
    the broadcast blocklist without changing results."""
    bl = spark.createDataFrame([(h,) for h in BLOCK_HOSTS], "host string")
    return url_blocklist_filter(
        _url_pages(spark, sf_dir), bl,
        path_patterns=[BLOCK_PATH_PATTERN],
        url_col="url", id_col="doc_id",
    )


def _q_unigram_xent_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality scoring, step 1: per-document cross-entropy
    under a self-trained unigram LM (corpus token frequencies →
    integer micro-nat log-probs → exact integer per-doc mean). The
    whole chain — training included — is mirrored in the DuckDB oracle;
    log-probs are snapped to integers per VOCAB ENTRY before any
    summation, so scores are engine-order-independent (operators/lm.py)."""
    return doc_xent(_docs(spark, sf_dir).select("doc_id", "text"))


def _q_ccnet_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality scoring, step 2: label every document
    head/middle/tail by exact disc-terciles of the score distribution
    and roll up per-bucket counts + score ranges. Cutoffs come from a
    cumulative window over the (score → count) HISTOGRAM — distinct
    integer scores only, so the global window is safe at any corpus
    size (operators/lm.py scale notes)."""
    b = ccnet_buckets(_docs(spark, sf_dir).select("doc_id", "text"))
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.min("xent_micros").alias("min_xent"),
        F.max("xent_micros").alias("max_xent"),
    )


def _q_top_bigram_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent word-bigram mass per document (count × gram chars,
    plus its micros fraction of the doc) — the tie-break-free form of
    the 'fraction of characters in the most common n-gram' repetition
    filter. Runs over the raw documents (word repetition is natural
    there)."""
    return top_ngram_mass(_docs(spark, sf_dir), n=2, id_col="doc_id")


def _q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a planted corpus (every 3rd doc gets an email,
    every 4th an IPv4): per-doc match counts + the redacted text, with
    the email-then-IP replacement order pinned on both engines."""
    d = _docs(spark, sf_dir)
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % PII_EMAIL_MOD == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                     F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % PII_IP_MOD == 0,
            F.concat(F.lit(" ip 10."), (F.col("doc_id") % 256).cast("string"),
                     F.lit(".0.1 logged")),
        ).otherwise(F.lit("")),
    )
    p = d.select("doc_id", planted.alias("text"))
    return p.select("doc_id", email_count("text"), ipv4_count("text"),
                    redact_pii("text"))


def _decon_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted eval corpus: for every ``DECON_MOD``-th doc, a 12-token
    span (tokens 3–14) lifted verbatim from its text — so contamination
    is non-vacuous at every SF and pinned by construction (every doc
    has ≥ 10 tokens in the testdata)."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % DECON_MOD == 0)
    toks = F.filter(F.split(F.col("text"), CONTAM_WS), lambda x: x != "")
    return d.select(
        F.array_join(F.slice(toks, DECON_POS, DECON_LEN), " ").alias("text"))


def _q_decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style eval-overlap report: word-8-gram hits per document
    against the planted eval set (spans lifted from every 6th doc) —
    every 6th doc is contaminated by construction; any additional hits
    (natural gram repeats, pre-planted exact-dup twins) are computed
    identically by both engines."""
    return contamination_report(_docs(spark, sf_dir),
                                _decon_eval(spark, sf_dir), n=DECON_N)


def _q_decontaminated_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drop-on-any-overlap cut: corpus minus every doc sharing an
    8-gram with the planted eval set (broadcast probe + anti-join)."""
    return decontaminate(_docs(spark, sf_dir), _decon_eval(spark, sf_dir),
                         n=DECON_N).select("doc_id", "lang", "n_chars")


def _q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment per document — md5
    bucket thresholds, engine-portable, stable under repartitioning."""
    return _docs(spark, sf_dir).select(
        "doc_id", assign_split("doc_id", SPLIT_WEIGHTS, seed=SPLIT_SEED))


def _q_stratified_sample_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling (en kept whole, de
    halved, fr quartered, es/zh dropped) — pure per-row predicate."""
    return stratified_sample(_docs(spark, sf_dir), STRAT_FRACTIONS,
                             "doc_id", by="lang",
                             seed=STRAT_SEED).select("doc_id", "lang")


def _q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard layout per document: shard id +
    within-shard order key, both pure md5 functions of (seed, doc_id) —
    the writer's layout (`write_training_shards`) is pytest-covered;
    this value-checks the assignment math itself."""
    from doppel_spark.functions.splits import assign_shards

    return assign_shards(_docs(spark, sf_dir).select("doc_id"),
                         N_SHARDS, "doc_id", seed=SHARD_SEED)


def _q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy fixed-budget sequence packing in shard hash order — the
    training-loader layout step. Deterministic given (seed, budget), so
    the DuckDB oracle replays the same greedy walk as a recursive CTE."""
    from doppel_spark.functions.text import token_count
    from doppel_spark.operators.budget import pack_sequences

    return pack_sequences(_docs_raw(spark, sf_dir), PACK_BUDGET, N_SHARDS,
                          token_count("text"), seed=SHARD_SEED)


def _q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite keep/drop with per-doc first-failing-rule
    reason, over the planted line corpus (so the repetition rules see
    real intra-doc duplicate lines, not just 'ok' rows)."""
    from doppel_spark.operators.lines import gopher_quality_filter

    return gopher_quality_filter(_line_docs(spark, sf_dir), **GOPHER_CFG)


def _q_training_cut_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-cut composition over the planted line corpus:
    PII-bearing lines are appended (every 3rd doc an email line, every
    4th an IP line), redaction rewrites them to IDENTICAL boilerplate
    (``contact <EMAIL> now`` / ``ip <IP> logged``), corpus-wide line
    dedup then collapses each to its single first occurrence — the
    redact→dedup interaction is the point — and finally only the
    ``train`` hash-split survives. Returns the surviving documents'
    reassembled text + line accounting."""
    base = _line_docs(spark, sf_dir)
    planted = base.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % PII_EMAIL_MOD == 0,
                F.concat(F.lit("\ncontact user"),
                         F.col("doc_id").cast("string"),
                         F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % PII_IP_MOD == 0,
                F.concat(F.lit("\nip 10."),
                         (F.col("doc_id") % 256).cast("string"),
                         F.lit(".0.1 logged")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    red = planted.select("doc_id", redact_pii("text").alias("text"))
    dd = line_dedup(red, id_col="doc_id")
    return (
        dd.withColumn("split",
                      assign_split("doc_id", SPLIT_WEIGHTS, seed=SPLIT_SEED))
        .filter(F.col("split") == "train")
        .drop("split")
    )


def _url_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic URL-variant corpus (mirrored by the oracle CTE):
    doc_ids in blocks of 4 map to article ``k = doc_id div 4``; variants
    0/1 are the same news article under case/www/port/fragment/tracking
    /param-order differences, variants 2/3 the same blog post under
    case/port/tracking differences — each block must collapse to
    exactly two canonical pages."""
    k = F.floor(F.col("doc_id") / 4).cast("long")
    ks = k.cast("string")
    ms = (k % 100).cast("string")
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(
            F.lit("HTTPS://WWW.News.Example.COM:443/articles/"), ks,
            F.lit("/?utm_source=feed&z=1&id="), ms, F.lit("#top")))
        .when(v == 1, F.concat(
            F.lit("https://news.example.com/articles/"), ks,
            F.lit("?id="), ms, F.lit("&z=1")))
        .when(v == 2, F.concat(
            F.lit("http://Blog.example.org:80/post/"), ks,
            F.lit("?utm_campaign=x&ref=tw")))
        .otherwise(F.concat(F.lit("http://blog.example.org/post/"), ks))
    )
    # raw scan (r6): per-row work here is a short string concat and,
    # downstream, regexp canonicalization of ~60-char URLs — the spread
    # exchange cost more than it saved on every sf1.0 sweep (best-of
    # 0.63 raw vs 0.76–0.79 spread for url_canonical_dups)
    return _docs_raw(spark, sf_dir).select("doc_id", url.alias("url"), "n_chars")


def _q_host_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host corpus profile over the URL-variant corpus: the
    domain-curation stage (docs-per-domain caps, spam-farm dup ratios).
    Two hosts by construction; every (n_urls, n_pages, n_dup_urls,
    total_size) cell is value-checked against the literally-mirrored
    canonicalization in DuckDB."""
    return host_profile(_url_pages(spark, sf_dir),
                        url_col="url", size_col="n_chars")


def _q_dedup_keep_best_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keep-canonical, non-vacuous by construction: the
    corpus is unioned with a re-keyed copy whose text is doubled
    (``text || ' ' || text``), making every cluster a 2-member group
    with genuinely different quality scores on the two sides: doubling
    halves the repetition signal (copy loses) but also doubles the
    token count, which flips the ≥20-token length gate for short docs
    (copy wins) — at sf0.01 both outcomes occur (457/43), so the query
    value-checks real per-cluster argmax decisions, not a constant
    policy. The oracle mirrors the construction, the clustering key,
    and the full quality formula literally (the raw fixtures have no
    dup groups at all, which would make a straight keep-best query
    vacuous)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text", "n_chars")
    copy = docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat("text", F.lit(" "), "text").alias("text"),
        "n_chars",
    )
    both = docs.union(copy)
    return keep_best(
        both,
        F.pmod(F.col("doc_id"), F.lit(1_000_000)),
        quality_score_micros("text"),
        id_col="doc_id",
    ).select("doc_id", "n_chars")


def _q_token_budget_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-budget prefix cut at 2/5 of the corpus's
    total whitespace-token count (integer math on both sides, so the
    threshold is scale-independent and bit-identical to the oracle).
    The driver-side per-block cumsum makes this non-SQL internally, but
    the SEMANTICS are one window — mirrored exactly in DuckDB."""
    docs = _docs_raw(spark, sf_dir)
    total = int(docs.select(
        F.sum(token_count("text")).alias("t")).collect()[0]["t"] or 0)
    budget = (2 * total) // 5
    return token_budget_sample(
        docs, budget, token_count("text"), id_col="doc_id",
        mat=StageMaterializer.for_input(docs, prefix="tokbudget"),
    ).select("doc_id", "n_chars")


#: docs-per-domain cap for the host_cap_sample contract query
HOST_CAP_K = 30


def _q_host_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs-per-domain cap over the URL-variant corpus: each of the two
    hosts keeps exactly HOST_CAP_K deterministically-chosen pages (the
    k smallest md5-bucket ranks — the engine-portable uniform draw), so
    the oracle value-checks the exact selection, not just the count."""
    return cap_per_host(_url_pages(spark, sf_dir), k=HOST_CAP_K) \
        .select("doc_id", "n_chars")


def _q_url_canonical_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refetch-dup groups by canonical URL: scheme/host case, ``www.``,
    default ports, fragments, tracking params, and param order all
    collapse — the zero-content-bytes first stage of web dedup."""
    return url_dup_groups(_url_pages(spark, sf_dir),
                          url_col="url", id_col="doc_id")


#: offset marking refetched rows in the incremental-crawl plant
INCR_REFETCH_OFFSET = 1_000_000


def _q_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup: the prior crawl is docs with
    ``doc_id % 5 != 0``; the incoming batch is the remaining docs plus
    planted refetches (``doc_id % 5 == 1`` texts under new ids). Only
    content never seen before survives the digest anti-join — every
    refetch must drop, every genuinely-new doc must pass (all sf-table
    texts are distinct, probed at every SF).

    Raw scan, not ``_docs``/_spread (r6): the funnel's per-row work is
    one sha256 over the text (~GB/s, trivial at bench SF) while the
    lineage evaluates the docs subtree three times (incoming digest
    projection, seen digests, final semi-join) — a spread exchange is
    re-paid per path. Measured at sf1.0: raw baseline was a tight
    0.72–0.74 s, the spread version 1.0–2.4 s across two sweeps."""
    docs = _docs_raw(spark, sf_dir)
    seen = docs.filter(F.col("doc_id") % 5 != 0)
    refetch = (docs.filter(F.col("doc_id") % 5 == 1)
               .withColumn("doc_id",
                           F.col("doc_id") + F.lit(INCR_REFETCH_OFFSET)))
    incoming = docs.filter(F.col("doc_id") % 5 == 0).unionByName(refetch)
    return cross_snapshot_new(incoming, seen, id_col="doc_id") \
        .select("doc_id", "lang", "n_chars")


def _q_incremental_new_docs_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same cross-snapshot plant as ``incremental_new_docs``, run
    through the broadcast-Bloom prefilter
    (:func:`doppel_spark.operators.bloom.cross_snapshot_new_bloom`) —
    rows the bloom rejects bypass the anti-join as provably new, the
    maybe-seen trickle gets the exact check. Output is row-identical
    to the exact path at ANY false-positive rate (bloom FPs only cost
    extra join rows, never correctness), so the oracle is the SAME
    anti-join SQL — the contract row proves the prefilter changes
    traffic, not answers. Raw scan for the same reason as the exact
    twin (multi-path lineage over trivial per-row hashing)."""
    docs = _docs_raw(spark, sf_dir)
    seen = docs.filter(F.col("doc_id") % 5 != 0)
    refetch = (docs.filter(F.col("doc_id") % 5 == 1)
               .withColumn("doc_id",
                           F.col("doc_id") + F.lit(INCR_REFETCH_OFFSET)))
    incoming = docs.filter(F.col("doc_id") % 5 == 0).unionByName(refetch)
    mat = StageMaterializer.for_input(incoming, prefix="bloom")
    return cross_snapshot_new_bloom(incoming, seen, id_col="doc_id",
                                    fpr=0.01, mat=mat) \
        .select("doc_id", "lang", "n_chars")


def _q_bucketed_snapshot_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content shared by two snapshots via BUCKETED digest tables
    (:mod:`doppel_spark.operators.bucketed`): each side pays its
    bucket shuffle once at write, then the sort-merge join runs with
    ZERO Exchange nodes — asserted mechanically here (the scale
    property IS part of the contract, not just the values). Snapshots:
    A = doc_id % 2 = 0, B = doc_id % 3 = 0; all sf texts are distinct,
    so the overlap is exactly the multiples of 6."""
    import atexit
    import shutil
    import tempfile

    from doppel_spark.plans.inspect import assert_no_exchange

    docs = _docs(spark, sf_dir)
    scratch = tempfile.mkdtemp(prefix="doppel_bkt_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    out = snapshot_intersection(
        spark, docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 3 == 0), scratch, id_col="doc_id")
    assert_no_exchange(out)
    return out


#: host-rank plant: 37 hosts, link target = affine map of doc_id (11 is
#: coprime to 37, so targets cover every host), 5 power-iteration rounds
HR_HOSTS, HR_MUL, HR_ADD, HR_ITER = 37, 11, 3, 5
HR_DNUM, HR_DDEN = 85, 100


def _q_host_rank_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-quality PageRank over a construction-pinned host link
    graph (:func:`doppel_spark.operators.graph.host_rank`): hosts are
    ``doc_id % 37``, each doc links its host to an affine image, and 5
    integer power-iteration rounds run in exact micro-unit arithmetic —
    so the DuckDB oracle (5 chained CTEs of the SAME multiply +
    floor-divide steps) must hash-match every rank to the last digit,
    across any partitioning. A float ranker could not make this
    contract; see the module docstring for why the engine refuses one."""
    docs = _docs(spark, sf_dir)
    edges = docs.select(
        (F.col("doc_id") % HR_HOSTS).alias("src"),
        ((F.col("doc_id") * HR_MUL + HR_ADD) % HR_HOSTS).alias("dst"))
    return host_rank(edges, iterations=HR_ITER,
                     damping_num=HR_DNUM, damping_den=HR_DDEN,
                     mat=StageMaterializer.for_input(edges, prefix="rank"))


#: outlink plant: 13 hosts; link 1 targets an affine image (self when
#: doc_id % 13 = 2 — must drop), link 2 a www./port/case variant (self
#: when doc_id % 13 = 0), link 3 is relative (always dropped)
HLE_HOSTS = 13


def _q_host_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction → host edge list over deterministic synthetic
    html (:func:`doppel_spark.functions.links.host_edges`). Each page
    carries one plain absolute link, one link hidden behind uppercase
    ``HREF`` + ``https://www.`` + ``:443`` (the canonicalizer must see
    through all three), and one relative link that must be dropped; the
    planted self-link residues must vanish via the dst ≠ src rule. The
    oracle mirrors the extraction REGEXES and host canonicalization
    literally (RE2-subset, the urls.py convention) — a missed HREF,
    kept relative link, or unstripped www./port shows up as a row or
    weight difference."""
    docs = _docs(spark, sf_dir)

    def h(e):
        return F.concat(F.lit("h"), e.cast("string"), F.lit(".example.com"))

    d = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a href="http://'),
        h((d * 7 + 1) % HLE_HOSTS),
        F.lit('/p">x</a><a HREF="https://www.'),
        h((d * 3) % HLE_HOSTS),
        F.lit(':443/q">y</a><a href="/rel/skip">r</a></body></html>'))
    pages = docs.select(
        F.concat(F.lit("http://"), h(d % HLE_HOSTS), F.lit("/d/"),
                 d.cast("string")).alias("url"),
        html.alias("html"))
    return host_edges(pages)


# --- rows-only (hash-function-defined; no ANSI-SQL oracle possible) --------


def _q_quick_digest_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quick-digest collision buckets among length candidates; the digest
    # value is engine-internal, so expose bucket (size, n_docs) stats —
    # the oracle groups by the sample substring (equal sample ⇔ equal
    # digest, which is the piecewise contract under test)
    from doppel_spark.operators.exact import length_candidates, multi_member_keys
    from doppel_spark.functions.digests import quick_digest

    docs = _docs_raw(spark, sf_dir)
    cand = length_candidates(docs, size_col="n_chars", id_col="doc_id")
    qc = cand.withColumn("quick_digest", quick_digest("text"))
    return (
        qc.groupBy("quick_digest")
        .agg(F.count("*").alias("n_docs"), F.min("size").alias("size"))
        .filter(F.col("n_docs") > 1)
        .select("size", "n_docs")
    )


def _q_exact_dup_members_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship grouping path with REAL duplicate groups: the corpus
    is unioned with a re-keyed copy of itself (doc_id + 10⁶, identical
    text) inside the query, so every doc lands in a ≥2-member group and
    the three-stage funnel's membership/size/wasted-space arithmetic is
    value-checked non-vacuously (the raw fixtures contain no duplicate
    texts). Semantics under test: finder.go:114-143 + finder_test.go:86-131.
    """
    docs = _docs_raw(spark, sf_dir).select("doc_id", "text", "n_chars")
    copy = docs.select((F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
                       "text", "n_chars")
    both = docs.union(copy)
    res = exact_dup_pipeline(both, id_col="doc_id", size_col="n_chars",
                             sequential_ids=True)
    return res.members().withColumnRenamed("url", "doc_id")


def _q_quick_digest_buckets_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quick-digest collision buckets with planted 8–16 KiB
    prefix-collision pairs: texts of length 9000 sharing the first 8192
    chars but differing after — the piecewise contract of hasher.go:71-75
    (only the first 8 KiB is hashed below 16384) makes each pair collide
    on the quick digest while full digests differ. Value-checks the
    subtle tier with rows > 0 (the raw fixtures produce 0 buckets)."""
    from doppel_spark.functions.digests import quick_digest
    from doppel_spark.operators.exact import length_candidates

    docs = _docs_raw(spark, sf_dir)
    seeds = docs.filter(F.col("doc_id") < 20).select("doc_id")
    prefix = F.concat(F.repeat(F.lit("x"), 8000),
                      F.lpad(F.col("doc_id").cast("string"), 192, "0"))
    mk = lambda tail, off: seeds.select(  # noqa: E731
        (F.col("doc_id") * 2 + F.lit(off)).alias("doc_id"),
        F.concat(prefix, F.lit(tail), F.repeat(F.lit("y"), 807)).alias("text"),
    )
    both = (
        docs.select("doc_id", "text")
        .union(mk("A", 2_000_000)).union(mk("B", 2_000_001))
        .withColumn("n_chars", F.length("text"))
    )
    cand = length_candidates(both, size_col="n_chars", id_col="doc_id")
    qc = cand.withColumn("quick_digest", quick_digest("text"))
    return (
        qc.groupBy("quick_digest")
        .agg(F.count("*").alias("n_docs"), F.min("size").alias("size"))
        .filter(F.col("n_docs") > 1)
        .select("size", "n_docs")
    )


def _q_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join surface under oracle: fact⋈dim broadcast join + aggregation
    (customer is the small side; per-row floor-to-centis keeps the money
    sum integer-exact and order-independent on both engines)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.join(F.broadcast(cust),
                    orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(F.count("*").alias("n_orders"),
             F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
             .alias("price_centis"))
    )


def _q_customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way dimension join (customer⋈nation⋈region), both dims broadcast."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.count("*").alias("n_customers"),
             F.sum(F.floor(F.col("c_acctbal") * 100).cast("long"))
             .alias("acctbal_centis"))
    )


def _q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan+filter+agg over the widest fact table;
    every money aggregate is per-row floored to integer centis first."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_quantity") > 10)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).alias("qty_centis"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
            .alias("price_centis"),
            F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                  .cast("long")).alias("disc_price_centis"),
            F.count("*").alias("n_items"),
        )
    )


def _q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir).groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").cast("long").alias("total_chars"),
             F.min("n_chars").alias("min_chars"),
             F.max("n_chars").alias("max_chars"))
    )


def _q_lang_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same result as lang_stats via explicit two-phase salted aggregation
    from doppel_spark.operators.salting import salted_agg

    out = salted_agg(_docs(spark, sf_dir), ["lang"], "doc_id",
                     {"n_docs": ("n_chars", "count"),
                      "total_chars": ("n_chars", "sum"),
                      "min_chars": ("n_chars", "min"),
                      "max_chars": ("n_chars", "max")}, shards=8)
    return out.select("lang", F.col("n_docs").cast("long").alias("n_docs"),
                      F.col("total_chars").cast("long").alias("total_chars"),
                      "min_chars", "max_chars")


def _q_longest_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    # top-k per group: window rank, deterministic tie-break on doc_id
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _docs(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("lang", "doc_id", "n_chars", "rank")
    )


def _q_events_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"),
             F.floor(F.sum("value") * 100).cast("long").alias("value_centis"))
    )


def _q_minhash_lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_package(spark)
    # raw read, NOT _docs()/_spread: near_dup_pipeline evaluates its
    # input lineage twice (digest pass + signature pass), so an outer
    # repartition would shuffle the text twice; the pipeline spreads
    # its signature stage internally instead (neardup.py, r6)
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .withColumn("url", F.col("doc_id").cast("string")))
    res = near_dup_pipeline(docs, NearDupConfig())
    return res.cluster_summary().select(
        "cluster_rep", "n_docs", F.array_join("urls", ",").alias("members"))


def _simhashes(df: DataFrame, id_col: str) -> DataFrame:
    """(id, simhash): the signature stage's SimHash kernel alone, in one
    ``mapInArrow`` pass — a SimHash-only query runs no MinHash."""
    from doppel_spark.functions.simhash import simhash_arrow_column

    def gen(batches):
        import pyarrow as pa

        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column(0), simhash_arrow_column(b.column(1))],
                names=[id_col, "simhash"])

    in_df = df.select(id_col, "text")
    id_type = in_df.schema[id_col].dataType.simpleString()
    return in_df.mapInArrow(gen, f"`{id_col}` {id_type}, simhash long")


def _simhash_pairs(df: DataFrame, id_col: str) -> DataFrame:
    """Pairs within Hamming 3 over ``df``'s texts; the fingerprints are
    cut (filled lazily by the membership cut's scan): one kernel run."""
    from doppel_spark.functions.simhash import simhash_near_pairs

    fps = _simhashes(df, id_col)
    mat = StageMaterializer.for_input(fps, prefix="simhash")
    return simhash_near_pairs(mat.cut(fps, "fps", force=False), mat,
                              id_col=id_col, hamming_t=3)


def _q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_package(spark)
    return _simhashes(_docs(spark, sf_dir), "doc_id")


def _q_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_package(spark)
    docs = _docs(spark, sf_dir).withColumn("url", F.col("doc_id").cast("string"))
    mat = StageMaterializer.for_input(docs.select("url", "text"),
                                      prefix="suffix")
    return substring_dup_pairs(docs, min_len=200, mat=mat)


def _q_substring_pairs_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact longest-common-substring — the suffix-array verification
    quantity of ``substring_dup_pairs`` — over planted composites whose
    true LCS is pinned by construction, converting the substring tier
    from rows-only to value-checked (round-3 pattern: like
    ``ngram_jaccard_planted`` did for the Jaccard tier).

    The DuckDB oracle rebuilds the identical composites, *verifies* the
    payload is a common substring of both members (``position(...)``),
    and states ``length(payload)``; a hash match therefore proves the
    generalized-suffix-array LCP machinery (suffix.py:122-139) returns
    the exact maximum on SUB_N_PAIRS pairs with distinct lengths.

    Why the LCS is exactly ``len(payload_i)`` by construction:

    - member texts are ``host || mc || payload || mc`` with mc ∈
      {'a','b'} differing between the two members — the differing
      flanks stop any within-pair common run from extending past the
      payload, and ``'a«'``/``'»a'`` never occur in the b-member (and
      vice versa), so no run can straddle a payload boundary;
    - hosts are SUB_HOST_LEN chars (< payload length), so host-host
      runs can't exceed the payload; payload blocks embed '«'/'»'
      (absent from the corpus) every 14 chars, capping payload↔host
      runs at 12 chars;
    - cross-pair: hosts are distinct-text docs truncated below
      min_len, and payload blocks differ in the zero-padded pair index
      every 14 chars, so no cross-pair output row can appear (extra
      rows would fail the row-count compare — false positives are
      caught too).

    Recall is guaranteed, not probabilistic: min_len = 256 ≥ winnowing
    window + k − 1 = 127 (fingerprint.py guarantee), so every planted
    pair MUST be found — a missed pair fails the compare.
    """
    ship_package(spark)
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).filter(
        F.col("text").isNotNull() & (F.length("text") >= SUB_HOST_LEN))
    sel = (docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
           .select("doc_id").orderBy("doc_id").limit(2 * SUB_N_PAIRS)
           .withColumn("rk",
                       F.row_number().over(Window.orderBy("doc_id")) - 1))
    comp = (sel.join(docs.select("doc_id", "text"), "doc_id")
            .select(F.expr("rk div 2").alias("i"),
                    F.when(F.col("rk") % 2 == 0, "a").otherwise("b")
                    .alias("mc"),
                    F.substring("text", 1, SUB_HOST_LEN).alias("host")))
    payload = F.expr(
        f"substring(repeat(concat('«', lpad(cast(i as string), 3, '0'), "
        f"'.xxxxxxxx»'), {SUB_BLOCK_REPS}), 1, "
        f"{SUB_MIN_LEN} + {SUB_LEN_STEP} * i)")
    composites = comp.select(
        F.concat(F.lit("sub:"), F.lpad(F.col("i").cast("string"), 3, "0"),
                 F.lit(":"), F.col("mc")).alias("url"),
        F.concat(F.col("host"), F.col("mc"), payload, F.col("mc"))
        .alias("text"))
    mat = StageMaterializer.for_input(composites, prefix="suffix")
    return substring_dup_pairs(composites, min_len=SUB_MIN_LEN, mat=mat)


def _q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_package(spark)
    fp = fingerprint_udf()
    return _docs(spark, sf_dir).select(
        "doc_id", F.size(fp(F.col("text"))).cast("long").alias("n_fingerprints"))


def _ann_planted_corpus(emb: DataFrame) -> DataFrame:
    """Corpus ∪ 10 planted near-neighbors per ANN query vector.

    Copy j of query q is ``q + 0.01·j·reverse(q)`` — reverse(q) is
    ~orthogonal to a random q, so cosine(copy, q) ≈ 1/√(1+(0.01j)²)
    ≥ 0.995, far above the random-pair bulk (≲ 0.6): the planted ten
    ARE the true top-10 for every query, and the brute-force ranking
    over this corpus is the ground truth the approximate tiers are
    gated against."""
    from functools import reduce

    qs = emb.filter(F.col("vec_id").isin(ANN_QUERY_IDS)) \
        .select("vec_id", "embedding")

    def _copy(j: int) -> DataFrame:
        coef = F.lit(0.01 * j)
        return qs.select(
            (F.col("vec_id") * 100 + F.lit(7_000_000 + j)).alias("vec_id"),
            F.zip_with("embedding", F.reverse("embedding"),
                       lambda x, y: (x + coef * y).cast("float"))
            .alias("embedding"))

    return reduce(DataFrame.union,
                  [_copy(j) for j in range(1, ANN_K + 1)],
                  emb.select("vec_id", "embedding"))


def _q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN with an ASSERTED recall gate (round-3 verdict task
    1): per-query recall@k vs brute-force top-k over a planted corpus
    (see :func:`_ann_planted_corpus` — the true neighbors are known by
    construction), with ``assert_true(recall ≥ 0.9)`` embedded in the
    plan — executing this query RAISES if the default probe config
    (8 planes, Hamming-3 probe) ever drops below the floor. Output:
    (query_id, n_true, n_hit, recall_micros), 5 rows. Exact recall is
    hash-function-defined → rows-only, but the floor is mechanical."""
    corpus = _ann_planted_corpus(_emb(spark, sf_dir))
    approx = lsh_ann_topk(corpus, ANN_QUERY_IDS, k=ANN_K,
                          n_planes=8, probe_hamming=3, dim=EMB_DIM)
    brute = brute_force_topk(corpus, ANN_QUERY_IDS, k=ANN_K)
    return topk_recall(approx, brute,
                       floor_micros=ANN_LSH_RECALL_FLOOR_MICROS)


def _q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-probed ANN with the same asserted recall gate as
    ``ann_topk_lsh`` (planted ground truth, recall@k vs brute force,
    assert_true ≥ 0.9 inside the plan). Centroids are data-derived
    (deterministic mini k-means) → rows-only, floor mechanical."""
    from doppel_spark.operators.similarity import ivf_ann_topk

    corpus = _ann_planted_corpus(_emb(spark, sf_dir))
    approx = ivf_ann_topk(corpus, ANN_QUERY_IDS, k=ANN_K,
                          n_centroids=8, n_probe=3)
    brute = brute_force_topk(corpus, ANN_QUERY_IDS, k=ANN_K)
    return topk_recall(approx, brute,
                       floor_micros=ANN_IVF_RECALL_FLOOR_MICROS)


def _q_emb_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the banded sign-LSH scale path of embedding_neardup_pairs (the
    # brute path is oracle-checked as emb_neardup). The raw corpus is
    # random — true near-dups are planted IN the query: a perturbed
    # copy of each first-50 vector (cosine ≈ 0.9996 to its original)
    # must come back through the tight default banding. Loosening the
    # bands instead would make most random pairs candidates — a
    # near-cartesian that defeats the point of the scale path.
    # Probabilistic recall (hash-function-defined) → rows-only.
    # raw read + ONE spread over the union (not per branch — r6):
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding"))
    planted = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + F.lit(5_000_000)).alias("vec_id"),
        F.zip_with(
            "embedding", F.reverse("embedding"),
            lambda x, y: (x + F.lit(0.03) * y).cast("float"),
        ).alias("embedding"),
    )
    emb = _spread(emb.union(planted))
    return embedding_neardup_pairs(
        emb, threshold=0.95, dim=EMB_DIM,
        mat=StageMaterializer.for_input(emb, prefix="emblsh"),
    ).select("id_a", "id_b")


#: semantic-dedup planted construction: SEM_GROUPS one-hot directions ×
#: SEM_MEMBERS positive scalings each. Same-direction vectors have
#: cosine EXACTLY 1 and identical hyperplane sign bits — so every
#: within-group pair is a guaranteed LSH candidate at any band config
#: and a guaranteed verify pass at any threshold < 1; cross-group
#: vectors are orthogonal (cosine exactly 0), so even a chance band
#: collision dies at the verify. Clusters are therefore pinned by
#: construction: component g = {g·100+m}, rep = g·100, keep ⇔ m = 0.
SEM_GROUPS = 40
SEM_MEMBERS = 3


def _q_semantic_dedup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full semantic-dedup tier (sign-LSH blocking → cosine verify →
    connected components → keep-canonical) over the pinned one-hot
    construction above — the embedding-space twin of
    ``minhash_clusters_planted``. Runs the REAL scale path (brute_force
    off); the oracle reproduces the construction math, not the
    engine."""
    from doppel_spark.operators.similarity import semantic_dedup

    base = spark.range(SEM_GROUPS * SEM_MEMBERS).select(
        (F.col("id") / SEM_MEMBERS).cast("long").alias("g"),
        (F.col("id") % SEM_MEMBERS).alias("m"))
    emb = base.select(
        (F.col("g") * 100 + F.col("m")).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(EMB_DIM - 1)),
            lambda j: F.when(j == F.col("g"),
                             (F.col("m") + 1).cast("float"))
            .otherwise(F.lit(0.0).cast("float")),
        ).alias("embedding"))
    return semantic_dedup(
        emb, threshold=0.95, dim=EMB_DIM,
        mat=StageMaterializer.for_input(emb, prefix="semdedup"))


def _q_ngram_jaccard_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard (the audit quantity of
    ``lsh.verify_pairs_exact``) over a DETERMINISTIC id-derived pair set —
    not LSH-derived, so a DuckDB oracle can reproduce the shingle sets
    and value-check the Jaccard itself. Pairs: each first-30 doc vs an
    in-query token-appended copy (known mid-range Jaccard) plus each
    consecutive doc pair (near-zero Jaccard). Values are floored to
    integer micros so the hash compare is float-repr-proof."""
    ship_package(spark)
    from doppel_spark.operators.lsh import verify_pairs_exact

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 30) \
        .select("doc_id", "text")
    edited = docs.select((F.col("doc_id") + F.lit(4_000_000)).alias("doc_id"),
                         F.concat(F.col("text"),
                                  F.lit(NGRAM_EDIT_SUFFIX)).alias("text"))
    both = docs.union(edited)
    edit_pairs = docs.select(
        F.col("doc_id").alias("url_a"),
        (F.col("doc_id") + F.lit(4_000_000)).alias("url_b"))
    neighbor_pairs = docs.filter(F.col("doc_id") < 29).select(
        F.col("doc_id").alias("url_a"),
        (F.col("doc_id") + F.lit(1)).alias("url_b"))
    out = verify_pairs_exact(edit_pairs.union(neighbor_pairs), both,
                             NearDupConfig(), id_col="doc_id")
    return out.select(
        F.col("url_a").alias("id_a"), F.col("url_b").alias("id_b"),
        F.floor(F.col("jaccard") * 1_000_000).cast("long")
        .alias("jaccard_micros"))


def _plant_stems(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """(rk, stem) for the first ``n`` distinct document texts: rk is a
    dense 0-based rank over min-doc_id order, stem = ``md5(text)`` — a
    whitespace-free 32-hex token base that DuckDB reproduces exactly
    (both engines order by the same distinct-min doc_ids)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return (
        docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        .orderBy("doc_id").limit(n)
        .withColumn("rk", F.row_number().over(Window.orderBy("doc_id")) - 1)
        .select("rk", F.md5("text").alias("stem"))
    )


#: base token sequence for a stem: "{stem}w0 {stem}w1 … {stem}w11".
#: Every token embeds the stem, so shingle/token sets of different
#: groups are fully disjoint — zero cross-group MinHash agreement and
#: independent SimHash fingerprints by construction.
_PLANT_BASE_SQL = (
    f"concat_ws(' ', transform(sequence(0, {PLANT_TOKENS - 1}), "
    f"j -> concat(stem, 'w', j)))"
)


def _q_minhash_clusters_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash→LSH→verify→connected-components pipeline over a
    corpus whose cluster assignments are pinned by MATH, not by hash
    luck — converting the flagship near-dup tier from rows-only to a
    value-checked oracle row.

    Construction: group i's three members are the SAME 12-token base
    sequence repeated m = 2/3/4 times. For a base of n ≥ k tokens, the
    k-shingle set of the m-fold repetition is the n cyclic windows —
    IDENTICAL for every m ≥ 2 (any window in T^m starts within the
    first cycle and fits inside T², and vice versa) — while the byte
    strings differ in length, so the exact-dedup pre-pass keeps all
    three. Identical shingle sets ⇒ identical signatures ⇒ identical
    band hashes ⇒ guaranteed candidate pairs at agreement 1.0 ⇒ one
    cluster with rep = lexicographic-min url ('mh:%02d:2'). Tokens
    embed the per-group stem, so cross-group shingle sets are DISJOINT
    — a spurious merge would need a full 4-row band-hash collision
    (asserted impossible at the fixed seed by this very compare, since
    it would add/merge output rows). Ten singleton docs with their own
    stems must NOT appear (clusters only contains paired docs — an
    accidental singleton pair would surface as extra rows).

    The analogous guarantee in the reference is hash-blind too: byte-
    equal files land in one group whatever digest is used
    (/root/reference/internal/finder/finder.go:114-143); here the
    invariant is shingle-set equality instead of byte equality.
    """
    ship_package(spark)
    sel = _plant_stems(spark, sf_dir, MHP_GROUPS + MHP_SINGLETONS)
    groups = (
        sel.filter(F.col("rk") < MHP_GROUPS)
        .select("rk", F.expr(_PLANT_BASE_SQL).alias("base"),
                F.explode(F.array(F.lit(2), F.lit(3), F.lit(4))).alias("m"))
        .select(F.format_string("mh:%02d:%d", "rk", "m").alias("url"),
                F.expr("repeat(concat(base, ' '), m)").alias("text"))
    )
    singles = sel.filter(F.col("rk") >= MHP_GROUPS).select(
        F.format_string("s:%02d", "rk").alias("url"),
        F.expr(_PLANT_BASE_SQL).alias("text"))
    res = near_dup_pipeline(groups.union(singles), NearDupConfig())
    return res.clusters.select("url", "cluster_rep")


def _q_simhash_pairs_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pigeonhole pairs over rotation-planted docs whose
    Hamming distance is pinned at exactly 0 by math: a SimHash is a
    count-weighted bag-of-tokens statistic (order-independent), so a
    doc and its token-ROTATION have identical fingerprints while
    differing bytewise. Every planted pair must therefore surface
    (identical fingerprints share all pigeonhole blocks) with
    hamming = 0 — the verification quantity itself is value-checked.
    Cross-pair fingerprints use disjoint stem-salted token sets; a
    spurious row would require two independent 64-bit fingerprints
    within Hamming 3 (P ≈ 2⁻⁴⁸, deterministic at the fixed pandas
    hash key — this compare wires the absence in as an assertion).
    """
    ship_package(spark)
    sel = _plant_stems(spark, sf_dir, SHP_PAIRS)
    rot = _PLANT_BASE_SQL.replace(
        "concat(stem, 'w', j)",
        f"concat(stem, 'w', pmod(j + 1, {PLANT_TOKENS}))")
    a = sel.select(F.format_string("sh:%02d:a", "rk").alias("url"),
                   F.expr(_PLANT_BASE_SQL).alias("text"))
    b = sel.select(F.format_string("sh:%02d:b", "rk").alias("url"),
                   F.expr(rot).alias("text"))
    return _simhash_pairs(a.union(b), "url").select(
        "url_a", "url_b", F.col("hamming").cast("long").alias("hamming"))


def _q_fuzzy_contamination_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table MinHash decontamination with hits pinned by MATH
    (the repetition invariant of ``minhash_clusters_planted``, pointed
    across tables): corpus doc rk = base(rk) repeated 2×, eval doc rk =
    the SAME base repeated 3× — identical k-shingle sets (any window of
    T^m, m ≥ 2, is a cyclic window of T) ⇒ identical signatures ⇒
    every band collides ⇒ a guaranteed candidate at agreement exactly
    1.0. The FCP_CLEAN corpus docs and FCP_EVAL_ONLY eval docs use
    disjoint stems (every token embeds its stem), so a spurious flag
    would need a cross-stem band-hash collision AND ≥(threshold−margin)
    signature agreement — this compare wires its absence in as an
    assertion (an extra row fails the row count). Value-checks the
    whole cross-table tier: banding join direction, broadcast side,
    packed-signature agreement, threshold filter."""
    ship_package(spark)
    from doppel_spark.operators.contamination import fuzzy_contamination_pairs

    sel = _plant_stems(spark, sf_dir, FCP_HITS + FCP_CLEAN + FCP_EVAL_ONLY)
    corp = (
        sel.filter(F.col("rk") < FCP_HITS + FCP_CLEAN)
        .select(F.format_string("fc:%02d", "rk").alias("doc_id"),
                F.expr(f"repeat(concat({_PLANT_BASE_SQL}, ' '), 2)")
                .alias("text"))
    )
    evl = (
        sel.filter((F.col("rk") < FCP_HITS)
                   | (F.col("rk") >= FCP_HITS + FCP_CLEAN))
        .select(F.format_string("ev:%02d", "rk").alias("eval_id"),
                F.expr(f"repeat(concat({_PLANT_BASE_SQL}, ' '), 3)")
                .alias("text"))
    )
    out = fuzzy_contamination_pairs(
        corp, evl, NearDupConfig(),
        mat=StageMaterializer.for_input(corp, evl, prefix="fuzzycontam"))
    return out.select(
        "doc_id", "eval_id",
        F.floor(F.col("jaccard_est") * 1_000_000).cast("long")
        .alias("jaccard_micros"))


def _q_xsnap_neardup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SNAPSHOT near-dup (the incremental funnel's MinHash tier)
    with hits pinned by the same repetition invariant as
    ``fuzzy_contamination_planted`` — but exercising the OPPOSITE scale
    direction: the seen side is the accumulated corpus, too big to
    broadcast, so candidates come from a shuffled equi-join of band
    keys. Incoming doc rk = base(rk)×2, seen doc rk = the same base×3 ⇒
    identical shingle sets ⇒ agreement exactly 1.0 for rk < XSN_HITS;
    XSN_CLEAN incoming docs and XSN_SEEN_ONLY seen docs use disjoint
    stems, so any extra row fails the count. The seen side goes through
    ``seen_signed=True`` (the maintained-signature-table production
    path), so this row also value-checks that the stored signature
    schema round-trips."""
    ship_package(spark)
    from doppel_spark.operators.dedup import cross_snapshot_neardup_pairs
    from doppel_spark.operators.lsh import signature_stage

    sel = _plant_stems(spark, sf_dir, XSN_HITS + XSN_CLEAN + XSN_SEEN_ONLY)
    incoming = (
        sel.filter(F.col("rk") < XSN_HITS + XSN_CLEAN)
        .select(F.format_string("nw:%02d", "rk").alias("doc_id"),
                F.expr(f"repeat(concat({_PLANT_BASE_SQL}, ' '), 2)")
                .alias("text"))
    )
    seen = (
        sel.filter((F.col("rk") < XSN_HITS)
                   | (F.col("rk") >= XSN_HITS + XSN_CLEAN))
        .select(F.format_string("sn:%02d", "rk").alias("doc_id"),
                F.expr(f"repeat(concat({_PLANT_BASE_SQL}, ' '), 3)")
                .alias("text"))
    )
    seen_sig = signature_stage(seen, NearDupConfig(), id_col="doc_id")
    out = cross_snapshot_neardup_pairs(
        incoming, seen_sig, NearDupConfig(), id_col="doc_id",
        seen_signed=True,
        mat=StageMaterializer.for_input(incoming, prefix="xsnapnd"))
    return out.select(
        "doc_id_new", "doc_id_seen",
        F.floor(F.col("jaccard_est") * 1_000_000).cast("long")
        .alias("jaccard_micros"))


def _q_neardup_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH skew accounting surfaced as a contract row (round-4 verdict
    task 6 — the no-silent-caps rule was pytest-visible only): the full
    ``lsh_bucket_stats`` histogram, including ``capped_buckets`` and
    ``pairs_skipped_by_cap``, over a corpus whose bucket structure is
    pinned by the repetition math of ``minhash_clusters_planted``.

    Corpus: MHP_GROUPS triple groups + MHP_SINGLETONS singletons (the
    planted-cluster construction) + ONE hot group of HOT_MEMBERS docs
    sharing a shingle set (m-fold repetitions, m = 2..HOT_MEMBERS+1 —
    identical k-shingle sets for every m ≥ 2, so all HOT_MEMBERS
    members collide in all ``bands`` LSH buckets). Stats are reported
    at two caps: the default (hot bucket under cap → capped_buckets =
    0) and HOT_CAP < HOT_MEMBERS (every one of the hot group's
    ``bands`` buckets capped; pairs_skipped = bands × (C(H,2) − (H−1)),
    the star-pairing arithmetic of lsh.py:pairs_from_membership).
    Cross-group band-hash collisions would merge buckets and change the
    counts — their absence at the fixed seed is wired into the compare,
    exactly like the planted-cluster twin.
    """
    ship_package(spark)
    from doppel_spark.operators.lsh import (band_keys, lsh_bucket_stats,
                                            signature_stage)

    cfg = NearDupConfig()
    sel = _plant_stems(spark, sf_dir, MHP_GROUPS + MHP_SINGLETONS + 1)
    groups = (
        sel.filter(F.col("rk") < MHP_GROUPS)
        .select("rk", F.expr(_PLANT_BASE_SQL).alias("base"),
                F.explode(F.array(F.lit(2), F.lit(3), F.lit(4))).alias("m"))
        .select(F.format_string("mh:%02d:%d", "rk", "m").alias("url"),
                F.expr("repeat(concat(base, ' '), m)").alias("text"))
    )
    singles = sel.filter(
        (F.col("rk") >= MHP_GROUPS) & (F.col("rk") < MHP_GROUPS + MHP_SINGLETONS)
    ).select(F.format_string("s:%02d", "rk").alias("url"),
             F.expr(_PLANT_BASE_SQL).alias("text"))
    hot = (
        sel.filter(F.col("rk") == MHP_GROUPS + MHP_SINGLETONS)
        .select(F.expr(_PLANT_BASE_SQL).alias("base"),
                F.explode(F.sequence(F.lit(2), F.lit(HOT_MEMBERS + 1))).alias("m"))
        .select(F.format_string("hot:%03d", "m").alias("url"),
                F.expr("repeat(concat(base, ' '), m)").alias("text"))
    )
    corpus = groups.union(singles).union(hot)
    exploded = band_keys(signature_stage(corpus, cfg), cfg, id_col="url")

    def stats(cap: int) -> DataFrame:
        return lsh_bucket_stats(exploded, ["band_hash"], bucket_cap=cap) \
            .withColumn("cap", F.lit(cap).cast("long"))

    return stats(cfg.bucket_cap).union(stats(HOT_CAP)).select(
        "cap", "buckets", "colliding_buckets", "max_bucket",
        "capped_buckets", "pairs_skipped_by_cap")


def _q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract-visible checkpoint/resume (round-4 verdict task 3 —
    resumability was the only BASELINE gate with no contract row).

    Runs the checkpointed exact-dedup runner end to end over the
    documents table ∪ a re-keyed duplicate copy, then simulates the
    crash window the store is designed for — killed between stage 3's
    data write and its manifest publish (``invalidate`` removes exactly
    the manifest) — and re-invokes the runner on the same checkpoint
    root from a FRESH store, as a restarted driver would. Stages 1-2
    must resume as published-manifest reads: their manifests are
    compared byte-for-byte before/after the resume and the query raises
    if either was rewritten (a recompute republishes with a new
    duration). The returned frame is the resumed run's duplicate-group
    membership; the oracle is the same computation straight through
    (``exact_dup_members_planted``'s SQL) — a hash match proves
    resume-idempotency: the resumed output equals the never-crashed one.
    """
    import atexit
    import shutil
    import tempfile

    from doppel_spark.checkpoint import (CheckpointStore,
                                         run_exact_dedup_checkpointed)

    docs = _docs_raw(spark, sf_dir).select("doc_id", "text", "n_chars")
    planted = docs.select((F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
                          "text", "n_chars")
    pages = docs.union(planted)
    root = tempfile.mkdtemp(prefix="doppel_ckpt_")
    # the returned frame lazily reads {root}/s3_dup_groups — reclaim at
    # interpreter exit, after the driver has consumed it
    atexit.register(shutil.rmtree, root, ignore_errors=True)

    store = CheckpointStore(spark, root, run_config="exact_resume_v1")
    run_exact_dedup_checkpointed(store, pages, id_col="doc_id",
                                 size_col="n_chars", sequential_ids=True)
    # crash between stage-3 data write and manifest publish
    store.invalidate("s3_dup_groups")
    stages12 = ("s1_length_candidates", "s2_quick_candidates")
    pre = {s: store.manifest(s) for s in stages12}

    resumed = CheckpointStore(spark, root, run_config="exact_resume_v1")
    res = run_exact_dedup_checkpointed(resumed, pages, id_col="doc_id",
                                       size_col="n_chars",
                                       sequential_ids=True)
    post = {s: resumed.manifest(s) for s in stages12}
    if post != pre:
        raise AssertionError(
            "resume recomputed a published stage (manifest rewritten)")
    return res["groups"].select(
        "group_id", "digest", "n_docs", "size", "wasted_space",
        F.explode("urls").alias("doc_id"))


def _q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pigeonhole guarantee under test: every pair within Hamming t among
    # the docs and 1-token-edited copies of the first 20 (15 pair with
    # their original at sf0.01); rows-only, value-gated in tests
    ship_package(spark)
    # raw read + ONE spread over the union: spreading each branch
    # separately would re-pay the repartition per union arm (r6)
    docs = _docs_raw(spark, sf_dir).select("doc_id", "text")
    edited = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zyxq")).alias("text"),
    )
    both = _spread(docs.union(edited)) \
        .withColumn("url", F.col("doc_id").cast("string"))
    return _simhash_pairs(both, "url")


def _q_stream_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming NEAR-dup (streaming/neardup_stream.py) run to
    completion under ``availableNow`` — the streaming tier's second
    contract query, one level above ``stream_dedup_digests``: LSH-band
    groups keep their seen (id, packed signature) members in
    ``applyInPandasWithState`` state and every arriving doc is verified
    against its buckets in-state, so only confirmed pairs leave.

    Corpus = the ``minhash_clusters_planted`` construction (same
    stems, same repetition invariant: identical shingle sets ⇒
    identical signatures ⇒ agreement pinned at num_perm=128), split
    across TWO micro-batches — members ×2/×3 plus all singletons in
    batch 0, members ×4 in batch 1 with ``maxFilesPerTrigger=1`` — so
    a green row proves the ×4 pairs formed against STATE carried from
    the previous micro-batch, not within-batch comparisons. Expected
    pair set is pinned by the construction math, which DuckDB mirrors
    literally: 3 canonical pairs per planted group at agree=128,
    singletons absent.

    Reference tie: doppel's two-stage cheap-signal→confirmation shape
    (/root/reference/internal/finder/finder.go:47-143) carried into a
    stateful stream — band collision is the size-bucket analog,
    in-state signature agreement the full-hash confirmation."""
    import atexit
    import shutil
    import tempfile

    from doppel_spark.streaming.neardup_stream import incremental_neardup_stream

    ship_package(spark)
    sel = _plant_stems(spark, sf_dir, MHP_GROUPS + MHP_SINGLETONS)
    groups = (
        sel.filter(F.col("rk") < MHP_GROUPS)
        .select("rk", F.expr(_PLANT_BASE_SQL).alias("base"),
                F.explode(F.array(F.lit(2), F.lit(3), F.lit(4))).alias("m"))
        .select(F.format_string("mh:%02d:%d", "rk", "m").alias("url"),
                F.expr("repeat(concat(base, ' '), m)").alias("text"),
                F.col("m"))
    )
    singles = sel.filter(F.col("rk") >= MHP_GROUPS).select(
        F.format_string("s:%02d", "rk").alias("url"),
        F.expr(_PLANT_BASE_SQL).alias("text"), F.lit(0).alias("m"))
    both = groups.union(singles)
    tmp = tempfile.mkdtemp(prefix="doppel_ndstream_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    both.filter(F.col("m") != 4).drop("m").coalesce(1) \
        .write.parquet(f"{tmp}/in/b0")
    both.filter(F.col("m") == 4).drop("m").coalesce(1) \
        .write.parquet(f"{tmp}/in/b1")
    stream = (spark.readStream.schema("url string, text string")
              .option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/*"))
    pairs = incremental_neardup_stream(stream, NearDupConfig())
    q = (pairs.writeStream.trigger(availableNow=True)
         .format("parquet").option("path", f"{tmp}/out")
         .outputMode("append")
         .option("checkpointLocation", f"{tmp}/ck").start())
    q.awaitTermination()
    # a pair sharing b bands is emitted up to b times → dedupe, as the
    # batch tier's pairs_from_membership does
    return spark.read.parquet(f"{tmp}/out").distinct()


#: planted extraction traps: an internal ``</body>`` (kills a lazy or
#: first-occurrence capture) and multibyte UTF-8 (kills any non-UTF-8
#: or lossy decode) — appended to every doc_id % 97 == 0 row.
_EXTRACT_TRAP = " x</body>trap é¿"


def _q_extract_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule per-row invariant as a contract query: **extracted
    text byte-identical per url** (BASELINE.json input_hint).

    Pages are built in-plan with the corpus's html construction
    (doppel_spark/corpus.py:226-231): ``html = utf8('<html><body>' ||
    text || '</body></html>')``, with the ``_EXTRACT_TRAP`` suffix
    planted on every 97th doc (6 rows at sf0.01) so a lazy /
    first-match capture or a lossy charset path cannot round-trip.
    ``extract_pages`` (pure Catalyst: decode + greedy regexp_extract,
    doppel_spark/functions/extract.py) recovers the text from the
    binary column and ``assert_extraction_identity`` embeds the
    byte-identity gate in the plan — any divergent row RAISES. The
    DuckDB oracle reruns the identical encode→decode→extract chain, so
    the hash compare checks the extracted VALUES, not just the gate.

    Reference tie: hasher.go hashes file bytes verbatim; the table
    analogue is that the text every dedup tier consumes is exactly the
    text extraction yields (/root/reference/internal/hasher/hasher.go).
    """
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    pages = docs.select(
        F.format_string("d:%06d", "doc_id").alias("url"),
        F.when(F.col("doc_id") % 97 == 0,
               F.concat(F.col("text"), F.lit(_EXTRACT_TRAP)))
        .otherwise(F.col("text")).alias("text"))
    pages = pages.withColumn(
        "html",
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"),
                          F.lit("</body></html>")), "UTF-8"))
    out = assert_extraction_identity(extract_pages(pages))
    return out.select("url", "extracted")


#: number of synthetic archive shards for the warc_ingest contract
WARC_SHARDS = 8
#: epoch for the synthetic WARC-Date stamps (doc_id seconds offset)
WARC_EPOCH = "2020-01-01 00:00:00"


def _q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-WARC ingestion round-trip: the documents table is serialized
    into WARC_SHARDS ``WARC/1.0`` archive files (url ``w:%06d``, date =
    WARC_EPOCH + doc_id seconds, html = the corpus wrapper, HTTP
    envelope included — the construction the fixture writer
    ``sources/warc.py:warc_file_bytes`` pins), then
    :func:`doppel_spark.sources.warc.read_warc` stream-parses them back
    and the contract hash-checks (url, warc_date, n_bytes,
    sha256(html)) against the DuckDB replay of the same construction —
    so header parsing, HTTP-envelope stripping, length-delimited
    framing, AND byte-exact payload recovery are all value-gated.
    Fixture files are written driver-side (contract-scale scaffolding
    only; the SOURCE is distributed — one task per archive file) into a
    tempdir registered for atexit removal."""
    import atexit
    import shutil
    import tempfile
    from datetime import datetime as _dt, timedelta as _td

    from doppel_spark.sources.warc import read_warc, warc_file_bytes

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    rows = docs.select("doc_id", "text").collect()
    epoch = _dt.strptime(WARC_EPOCH, "%Y-%m-%d %H:%M:%S")
    shards: list[list[tuple[str, str, bytes]]] = [[] for _ in range(WARC_SHARDS)]
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        i = int(r["doc_id"])
        date = (epoch + _td(seconds=i)).strftime("%Y-%m-%dT%H:%M:%SZ")
        html = b"<html><body>" + r["text"].encode("utf-8") + b"</body></html>"
        shards[i % WARC_SHARDS].append((f"w:{i:06d}", date, html))
    tmp = tempfile.mkdtemp(prefix="doppel_warc_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    for s, recs in enumerate(shards):
        with open(f"{tmp}/shard-{s:02d}.warc", "wb") as fh:
            fh.write(warc_file_bytes(recs))
    src = read_warc(spark, tmp)
    return src.pages.select(
        "url", "warc_date",
        F.length("html").cast("long").alias("n_bytes"),
        F.sha2("html", 256).alias("digest"),
    )


def _q_script_profile_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script letter ratios (functions/text.py:script_profile),
    value-gated. The ASCII testdata is all-Latin, so Cyrillic and Han
    runs are PLANTED (every 3rd / 4th doc; every 12th gets both). Java
    and RE2 name script properties differently (``\\p{IsLatin}`` vs
    ``\\p{Latin}``) but bind the same Unicode script data — the hash
    match across engines is the point."""
    from doppel_spark.functions.text import script_profile

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    planted = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit(" \u041f\u0440\u0438\u0432\u0435\u0442"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0,
               F.lit(" \u4f60\u597d")).otherwise(F.lit("")))
    return docs.select("doc_id", *script_profile(planted))


def _q_anchor_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled host edges (functions/links.py:anchor_edges) over
    deterministic synthetic html: each page links two hosts under
    distinct labels — one with padding whitespace and one behind the
    uppercase-HREF/www./:443 disguises — plus a relative link that must
    drop; the oracle mirrors the anchor pattern literally with DuckDB's
    lockstep multi-unnest replaying the positional zip."""
    from doppel_spark.functions.links import anchor_edges

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")

    def h(e):
        return F.concat(F.lit("h"), e.cast("string"), F.lit(".example.com"))

    html = F.concat(
        F.lit('<html><body><a href="http://'), h((d * 7 + 1) % HLE_HOSTS),
        F.lit('/p"> read h'), ((d * 7 + 1) % HLE_HOSTS).cast("string"),
        F.lit(' </a><a class="m" HREF="https://www.'), h((d * 3) % HLE_HOSTS),
        F.lit(':443/q">more</a><a href="/rel">skip</a></body></html>'))
    pages = docs.select(
        F.concat(F.lit("http://"), h(d % HLE_HOSTS), F.lit("/d/"),
                 d.cast("string")).alias("url"),
        html.alias("html"))
    return anchor_edges(pages)


def _q_url_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL quality signals (functions/urls.py:
    url_signals) over the URL-variant corpus — length, path depth,
    param count, integer-micros digit ratio, index flag; oracle mirrors
    the component regexes literally over the shared pages CTE."""
    from doppel_spark.functions.urls import url_signals

    return url_signals(_url_pages(spark, sf_dir),
                       url_col="url", id_col="doc_id")


def _q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL pages source round-trip (sources/jsonl.py), value-gated.

    The documents table is serialized to the JSONL wire shape (html as
    base64, ISO timestamps — the ``write_pages_jsonl`` writer) and read
    back through ``read_pages_jsonl``'s PERMISSIVE + pinned-schema
    path; the contract returns (url, ts_iso, sha256(html), text, lang)
    and the oracle replays the same construction straight from
    documents — so json encode/decode, base64 both ways, timestamp
    round-trip, and multibyte text survival are all hash-gated (same
    pattern as ``warc_ingest``). Fixture written driver-side into an
    atexit-reclaimed tempdir; the SOURCE read is distributed."""
    import atexit
    import shutil
    import tempfile

    from doppel_spark.sources.jsonl import read_pages_jsonl, write_pages_jsonl

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    pages = docs.select(
        F.format_string("j:%06d", "doc_id").alias("url"),
        (F.to_timestamp(F.lit(WARC_EPOCH))
         + F.make_interval(secs=F.col("doc_id").cast("double")))
        .alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"),
                          F.lit("</body></html>")), "UTF-8").alias("html"),
        "text", "lang")
    tmp = tempfile.mkdtemp(prefix="doppel_jsonl_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    write_pages_jsonl(pages, tmp)
    src = read_pages_jsonl(spark, tmp)
    return src.pages.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_iso"),
        F.sha2("html", 256).alias("digest"),
        "text", "lang")


#: heavy-hitters contract config: k picks the strict n/k frequency bar;
#: the planted token appears 3× per doc (≈3% of the stream at every SF,
#: comfortably over 1/50) so the sketch has a guaranteed hitter to find
HH_K = 50
HH_TOKEN = "zzclickbait"


def _q_heavy_hitters_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries heavy hitters (operators/sketch.py), value-gated.

    Token stream = the documents' space-split words with HH_TOKEN
    planted 3× per doc. The operator's sketch stage bounds state at
    O(k) per task; its exact-recount stage makes the OUTPUT precisely
    the strict > n/k set with exact counts — so the DuckDB oracle is a
    plain ``HAVING count(*) * k > total`` over the same stream, and a
    hash match proves both the merge guarantee (no true hitter lost)
    and the recount exactness (no false hitter kept, counts exact).
    Split on the literal single space (the corpus construction's
    joiner) so tokenization is parity-trivial in both engines."""
    from doppel_spark.operators.sketch import heavy_hitters

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    planted = F.concat(F.col("text"), F.lit((" " + HH_TOKEN) * 3))
    toks = docs.select(F.explode(F.split(planted, " ")).alias("key")) \
        .filter(F.col("key") != "")
    return heavy_hitters(toks, "key", k=HH_K)


def _q_paragraph_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity corpus dedup (operators/lines.py:
    paragraph_dedup — the CCNet unit), value-gated.

    Construction: the line-structured corpus with every line promoted
    to its own paragraph (``\\n`` → ``\\n\\n``), PLUS a shared TWO-LINE
    paragraph (internal single newline) appended to every 3rd doc —
    non-vacuous both ways: the cross-doc single-line dups still dedup,
    and the two-line block dedups as ONE unit, which line mode could
    not express. The oracle groups by the paragraph TEXT itself, so
    the Spark side's xxhash64 unit key is collision-checked."""
    from doppel_spark.operators.lines import paragraph_dedup

    ld = _line_docs(spark, sf_dir)
    text = F.concat(
        F.regexp_replace(F.col("text"), "\n", "\n\n"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("\n\n"), F.lit(PARA_BLOCK)))
        .otherwise(F.lit("")))
    return paragraph_dedup(ld.select("doc_id", text.alias("text")))


def _q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (operators/compact.py), value-gated.

    The documents digest projection is deliberately written FRAGMENTED
    (64 files for 500 rows — the accreted-appends pathology), compacted
    to the target layout, and read back; the query raises in-plan
    machinery aside if the rewrite didn't happen (rewritten/file-count
    asserted) and returns the compacted VALUES, which must hash-match
    the DuckDB read of the same projection — compaction is layout, not
    content. Production analogue: Iceberg ``rewrite_data_files``."""
    import atexit
    import shutil
    import tempfile

    from doppel_spark.operators.compact import compact_parquet_dir

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    frame = docs.select("doc_id", F.sha2("text", 256).alias("digest"))
    root = tempfile.mkdtemp(prefix="doppel_compact_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    path = f"{root}/digests"
    frame.repartition(64).write.parquet(path)
    stats = compact_parquet_dir(spark, path, target_bytes=1 << 30)
    if not (stats["rewritten"] and stats["files_after"] < 8
            <= stats["files_before"]):
        raise AssertionError(f"compaction did not rewrite: {stats}")
    return spark.read.parquet(path)


def _q_nfc_normalized_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (functions/normalize.py), value-gated.

    The testdata is ASCII, where normalization is the identity — so
    every 7th doc gets a DECOMPOSED suffix planted (" e" + U+0301, the
    combining acute) that NFC must compose to U+00E9. The Spark side is
    the Arrow-batched ``unicode_normalize`` pandas_udf; the oracle is
    DuckDB's native ``nfc_normalize`` over the same construction — two
    independent Unicode implementations agreeing on the composed VALUE,
    plus a length column so an unnormalized pass-through (len one too
    long on planted rows) can't hash-match."""
    from doppel_spark.functions.normalize import unicode_normalize

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    planted = F.when(F.col("doc_id") % 7 == 0,
                     F.concat(F.col("text"), F.lit(" e\u0301"))) \
        .otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        unicode_normalize(planted).alias("text_nfc"),
    ).withColumn("n_chars_nfc", F.length("text_nfc").cast("long"))


def _q_control_stripped_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control-char strip (functions/normalize.py), value-gated.

    Every 5th doc gets a planted suffix mixing strippable controls
    (BEL, DEL) with KEPT structure whitespace (a tab): ``\\x07 x \\t y
    \\x7f`` must clean to ``x \\t y``. Pure Catalyst regexp_replace;
    the oracle reuses the RE2-subset class literally."""
    from doppel_spark.functions.normalize import strip_control_chars

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    planted = F.when(F.col("doc_id") % 5 == 0,
                     F.concat(F.col("text"), F.lit("\x07x\ty\x7f"))) \
        .otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        strip_control_chars(planted).alias("text_clean"),
        (F.length(planted) - F.length(strip_control_chars(planted)))
        .cast("long").alias("n_stripped"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dup_members": _q_exact_dup_members,
        "exact_dup_members_planted": _q_exact_dup_members_planted,
        "exact_dup_report": _q_exact_dup_report,
        "exact_dup_report_filtered": _q_exact_dup_report_filtered,
        "stream_dedup_digests": _q_stream_dedup_digests,
        "stream_events_hourly": _q_stream_events_hourly,
        "stream_neardup_pairs": _q_stream_neardup_pairs,
        "length_buckets": _q_length_buckets,
        "filter_preset_docs": _q_filter_preset_docs,
        "dedup_keep_first": _q_dedup_keep_first,
        "dedup_summary": _q_dedup_summary,
        "token_stats": _q_token_stats,
        "extract_text_roundtrip": _q_extract_text_roundtrip,
        "warc_ingest": _q_warc_ingest,
        "lang_id": _q_lang_id,
        "quality_scores": _q_quality_scores,
        "quick_digest_buckets": _q_quick_digest_buckets,
        "quick_digest_buckets_planted": _q_quick_digest_buckets_planted,
        "orders_by_segment": _q_orders_by_segment,
        "customers_per_region": _q_customers_per_region,
        "lineitem_pricing": _q_lineitem_pricing,
        "lang_stats": _q_lang_stats,
        "lang_stats_salted": _q_lang_stats_salted,
        "longest_docs_per_lang": _q_longest_docs_per_lang,
        "events_by_hour": _q_events_by_hour,
        "ann_topk": _q_ann_topk,
        "emb_neardup": _q_emb_neardup,
        "multimodal_meta": _q_multimodal_meta,
        "media_resize": _q_media_resize,
        "media_frames": _q_media_frames,
        "minhash_lsh_clusters": _q_minhash_lsh_clusters,
        "simhash_fingerprints": _q_simhash_fingerprints,
        "substring_pairs": _q_substring_pairs,
        "substring_pairs_planted": _q_substring_pairs_planted,
        "doc_fingerprints": _q_doc_fingerprints,
        "ann_topk_lsh": _q_ann_topk_lsh,
        "ann_topk_ivf": _q_ann_topk_ivf,
        "emb_neardup_lsh": _q_emb_neardup_lsh,
        "semantic_dedup_planted": _q_semantic_dedup_planted,
        "simhash_near_pairs": _q_simhash_near_pairs,
        "ngram_jaccard_planted": _q_ngram_jaccard_planted,
        "minhash_clusters_planted": _q_minhash_clusters_planted,
        "simhash_pairs_planted": _q_simhash_pairs_planted,
        "neardup_skew_stats": _q_neardup_skew_stats,
        "checkpoint_resume": _q_checkpoint_resume,
        "compaction_roundtrip": _q_compaction_roundtrip,
        "nfc_normalized_planted": _q_nfc_normalized_planted,
        "control_stripped_planted": _q_control_stripped_planted,
        "line_dedup_docs": _q_line_dedup_docs,
        "paragraph_dedup_docs": _q_paragraph_dedup_docs,
        "heavy_hitters_planted": _q_heavy_hitters_planted,
        "jsonl_ingest": _q_jsonl_ingest,
        "url_signals": _q_url_signals,
        "anchor_edges": _q_anchor_edges,
        "script_profile_planted": _q_script_profile_planted,
        "line_dedup_within": _q_line_dedup_within,
        "boilerplate_lines": _q_boilerplate_lines,
        "url_blocklist": _q_url_blocklist,
        "line_repetition_stats": _q_line_repetition_stats,
        "unigram_xent_scores": _q_unigram_xent_scores,
        "ccnet_bucket_stats": _q_ccnet_bucket_stats,
        "top_bigram_mass": _q_top_bigram_mass,
        "pii_redaction": _q_pii_redaction,
        "decontamination_report": _q_decontamination_report,
        "decontaminated_ids": _q_decontaminated_ids,
        "split_assign": _q_split_assign,
        "shard_assign": _q_shard_assign,
        "packed_sequences": _q_packed_sequences,
        "gopher_filter": _q_gopher_filter,
        "stratified_sample_lang": _q_stratified_sample_lang,
        "training_cut_funnel": _q_training_cut_funnel,
        "url_canonical_dups": _q_url_canonical_dups,
        "incremental_new_docs": _q_incremental_new_docs,
        "incremental_new_docs_bloom": _q_incremental_new_docs_bloom,
        "bucketed_snapshot_overlap": _q_bucketed_snapshot_overlap,
        "host_rank_planted": _q_host_rank_planted,
        "host_link_edges": _q_host_link_edges,
        "host_profile": _q_host_profile,
        "host_cap_sample": _q_host_cap_sample,
        "dedup_keep_best_planted": _q_dedup_keep_best_planted,
        "token_budget_cut": _q_token_budget_cut,
        "fuzzy_contamination_planted": _q_fuzzy_contamination_planted,
        "xsnap_neardup_planted": _q_xsnap_neardup_planted,
    }


# ---------------------------------------------------------------------------
# oracles


#: DuckDB mirror of the _url_pages construction + canonicalize_url/host_of
#: pipelines (urls.py) — literal regex-for-regex; shared by the
#: url_canonical_dups and host_profile oracles.
#: just the URL-variant corpus CTE (shared with the url_signals oracle)
_URL_PAGES_CTE = """pages AS (
              SELECT doc_id, n_chars,
                CASE CAST(doc_id % 4 AS INTEGER)
                  WHEN 0 THEN 'HTTPS://WWW.News.Example.COM:443/articles/'
                              || CAST(doc_id // 4 AS VARCHAR)
                              || '/?utm_source=feed&z=1&id='
                              || CAST((doc_id // 4) % 100 AS VARCHAR) || '#top'
                  WHEN 1 THEN 'https://news.example.com/articles/'
                              || CAST(doc_id // 4 AS VARCHAR) || '?id='
                              || CAST((doc_id // 4) % 100 AS VARCHAR) || '&z=1'
                  WHEN 2 THEN 'http://Blog.example.org:80/post/'
                              || CAST(doc_id // 4 AS VARCHAR)
                              || '?utm_campaign=x&ref=tw'
                  ELSE 'http://blog.example.org/post/'
                       || CAST(doc_id // 4 AS VARCHAR)
                END AS url
              FROM documents
            )"""

_URL_CANON_CTES = f"""{_URL_PAGES_CTE}, parts AS (
              SELECT doc_id, n_chars,
                lower(regexp_extract(url,
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                lower(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
                regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
                regexp_extract(url, '\\?([^#]*)', 1) AS rawq
              FROM pages
            ), canon AS (
              SELECT doc_id, n_chars,
                regexp_replace(regexp_replace(hostport, '^www\\.', ''),
                               ':[0-9]+$', '') AS host,
                scheme || '://'
                || CASE scheme
                     WHEN 'http' THEN regexp_replace(
                       regexp_replace(hostport, '^www\\.', ''), ':80$', '')
                     WHEN 'https' THEN regexp_replace(
                       regexp_replace(hostport, '^www\\.', ''), ':443$', '')
                     ELSE regexp_replace(hostport, '^www\\.', '')
                   END
                || regexp_replace(rawpath, '/+$', '')
                || CASE WHEN len(list_filter(string_split(rawq, '&'),
                         p -> p <> '' AND NOT regexp_matches(p,
                           '{TRACKING_PARAM_REGEX}'))) > 0
                        THEN '?' || array_to_string(
                          list_sort(list_filter(string_split(rawq, '&'),
                            p -> p <> '' AND NOT regexp_matches(p,
                              '{TRACKING_PARAM_REGEX}'))), '&')
                        ELSE '' END AS canonical_url
              FROM parts
            )"""


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return (f"len(list_filter({_TOKENS_SQL}, x -> list_contains([{words}], x)))")


def _lang_id_sql() -> str:
    hits = {lang: _lang_hits_sql(lang) for lang in LANG_STOPWORDS}
    cols = ", ".join(f"{expr} AS h_{lang}" for lang, expr in hits.items())
    langs = list(LANG_STOPWORDS)
    m = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    case = f"CASE WHEN {m} <= 0 THEN 'und' " + " ".join(
        f"WHEN h_{lg} = {m} THEN '{lg}'" for lg in langs) + " END"
    return f"""
    WITH t AS (SELECT doc_id, {cols} FROM documents)
    SELECT doc_id, {case} AS lang_pred FROM t
    """


def _quality_sql(source: str = "documents") -> str:
    all_stops = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stops = ", ".join(f"'{w}'" for w in all_stops)
    return f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_TOKENS_SQL}) AS DOUBLE) AS n,
             CAST(len(list_filter({_TOKENS_SQL},
                  x -> list_contains([{stops}], x))) AS DOUBLE) AS stop_hits,
             CAST(len(list_distinct({_TOKENS_SQL})) AS DOUBLE) AS n_distinct,
             CAST(length(text) AS DOUBLE) AS n_chars_d,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                  AS DOUBLE) AS n_punct
      FROM {source}
    ), s AS (
      SELECT doc_id,
             CASE WHEN n >= 20 AND n <= 100000 THEN 1.0 ELSE 0.0 END AS len_ok,
             least(CASE WHEN n = 0 THEN 0.0 ELSE stop_hits / n END * 4.0, 1.0)
               AS stop_sig,
             CASE WHEN n = 0 THEN 1.0 ELSE n_distinct / n END AS rep_sig,
             1.0 - least(CASE WHEN n_chars_d = 0 THEN 0.0
                         ELSE n_punct / n_chars_d END * 5.0, 1.0) AS punct_sig
      FROM t
    )
    SELECT doc_id,
           CAST(floor((0.4 * len_ok + 0.3 * stop_sig + 0.2 * rep_sig
                       + 0.1 * punct_sig) * 1000000) AS BIGINT) AS quality_micros
    FROM s
    """


def _gopher_sql() -> str:
    """DuckDB mirror of ``gopher_quality_filter`` over the planted line
    corpus: same integer-first micros shapes, same rule order (the CASE
    ladder mirrors ``GOPHER_RULES``), thresholds from the SAME
    ``GOPHER_CFG`` dict the Spark query uses."""
    all_stops = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stops = ", ".join(f"'{w}'" for w in all_stops)
    c = GOPHER_CFG
    return f"""
    WITH {_LINE_DOCS_SQL},
    t AS (
      SELECT doc_id,
             {_TOKENS_SQL} AS toks,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> trim(x)), x -> x <> '') AS l,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
               AS n_punct
      FROM line_docs
    ), m AS (
      SELECT doc_id, n_chars, n_punct,
             len(toks) AS n,
             len(list_filter(toks, x -> list_contains([{stops}], x)))
               AS stop_hits,
             len(list_distinct(toks)) AS n_distinct,
             len(l) AS nl, len(list_distinct(l)) AS dl,
             list_aggregate(list_transform(l, x -> length(x)), 'sum')
               AS chars,
             list_aggregate(list_transform(list_distinct(l),
                                           x -> length(x)), 'sum') AS dchars
      FROM t
    ), r AS (
      SELECT doc_id,
        CASE
          WHEN n < {c['min_tokens']} THEN 'too_short'
          WHEN n > {c['max_tokens']} THEN 'too_long'
          WHEN (CASE WHEN nl = 0 THEN 0
                ELSE floor((nl - dl) * 1000000.0 / nl) END)
               > {c['max_dup_line_micros']} THEN 'dup_lines'
          WHEN (CASE WHEN chars IS NULL OR chars = 0 THEN 0
                ELSE floor((chars - dchars) * 1000000.0 / chars) END)
               > {c['max_dup_char_micros']} THEN 'dup_chars'
          WHEN stop_hits < {c['min_stop_hits']} THEN 'low_stopword'
          WHEN (CASE WHEN n_chars = 0 THEN 0
                ELSE floor(n_punct * 1000000.0 / n_chars) END)
               > {c['max_punct_micros']} THEN 'high_punct'
          WHEN (CASE WHEN n = 0 THEN 1000000
                ELSE floor(n_distinct * 1000000.0 / n) END)
               < {c['min_distinct_micros']} THEN 'repetitive'
          ELSE 'ok'
        END AS reason
      FROM m
    )
    SELECT doc_id, reason = 'ok' AS keep, reason FROM r
    """


def _shingles_sql(text_expr: str, k: int) -> str:
    """DuckDB expression reproducing ``minhash.shingle_set`` exactly:
    distinct k-word shingles joined by single spaces; < k tokens → the
    distinct token set; no tokens → [''].

    Tokenization parity is exact on ANY corpus: both sides split on the
    same explicit six-byte ASCII-whitespace class (the kernel's
    ``_WS_BYTES`` LUT == ``minhash.ascii_ws_tokens`` == this regex class
    — RE2's ``\\s`` omits ``\\x0B``, so the class is spelled out);
    NBSP/ideographic/thin spaces are token bytes everywhere."""
    toks = (f"list_filter(string_split_regex({text_expr}, "
            "'[ \\t\\n\\x0B\\x0C\\r]+'), x -> x <> '')")
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_distinct(list_transform(range(len({toks}) - {k - 1}), "
        f"i -> array_to_string(list_slice({toks}, i + 1, i + {k}), ' '))) "
        f"WHEN len({toks}) > 0 THEN list_distinct({toks}) "
        f"ELSE [''] END")


def _nb_lines_sql(src: str) -> str:
    """DuckDB CTEs exploding the ``src`` CTE's ``(doc_id, text)`` rows
    to the trimmed non-blank line table ``nb (doc_id, line_no, line)``,
    ``line_no`` 0-based over the ORIGINAL split (blanks advance it) —
    the mirror of ``operators.lines.split_lines``."""
    return f"""ln0 AS (
              SELECT doc_id, string_split(text, chr(10)) AS l FROM {src}
            ), ln AS (
              SELECT doc_id, unnest(range(len(l))) AS line_no,
                     unnest(l) AS raw
              FROM ln0
            ), nb AS (
              SELECT doc_id, line_no, trim(raw) AS line
              FROM ln WHERE trim(raw) <> ''
            )"""


def _line_dedup_chain_sql(src: str) -> str:
    """DuckDB CTE chain reproducing ``operators.lines.line_dedup`` over
    the ``src`` CTE's ``(doc_id, text)`` rows — the oracle groups by the
    line TEXT itself (the Spark side elects winners on xxhash64(line),
    so a 64-bit collision would fail this compare, not pass silently).
    Terminate with ``_LINE_DEDUP_FINAL_SQL``."""
    return f"""{_nb_lines_sql(src)}, ranked AS (
              SELECT doc_id, line_no, line,
                     row_number() OVER (PARTITION BY line
                                        ORDER BY doc_id, line_no) AS rn
              FROM nb
            ), kept AS (
              SELECT * FROM ranked WHERE rn = 1
            ), tot AS (
              SELECT doc_id, count(*) AS n_total FROM nb GROUP BY 1
            )"""


_LINE_DEDUP_FINAL_SQL = """SELECT k.doc_id,
                   string_agg(k.line, chr(10) ORDER BY k.line_no)
                     AS text_clean,
                   count(*) AS n_lines_kept,
                   any_value(t.n_total) - count(*) AS n_lines_dropped
            FROM kept k JOIN tot t ON k.doc_id = t.doc_id
            GROUP BY k.doc_id"""


#: DuckDB tokens under the engine-wide ASCII-whitespace class,
#: lowercased — mirror of ``contamination.word_ngrams`` tokenization
_CONTAM_TOKS = ("list_filter(string_split_regex(lower({t}), "
                "'[ \\t\\n\\x0B\\x0C\\r]+'), x -> x <> '')")


def _grams_sql(text_expr: str, n: int) -> str:
    """DuckDB mirror of ``contamination.word_ngrams`` (contiguous
    word n-grams WITH multiplicity; < n tokens → empty list)."""
    toks = _CONTAM_TOKS.format(t=text_expr)
    return (f"CASE WHEN len({toks}) >= {n} THEN "
            f"list_transform(range(len({toks}) - {n - 1}), "
            f"i -> array_to_string(list_slice({toks}, i + 1, i + {n}), ' ')) "
            f"ELSE CAST([] AS VARCHAR[]) END")


def _bucket_sql(key_expr: str, seed: str) -> str:
    """DuckDB mirror of ``splits.uniform_bucket``: md5 of ``seed:key``,
    top 15 hex digits as BIGINT, mod BUCKETS. Bit-identical to Spark's
    ``conv(substr(md5(..), 1, 15), 16, 10) % BUCKETS``."""
    return (f"CAST(('0x' || substr(md5('{seed}:' || "
            f"CAST({key_expr} AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000")


def _split_case_sql(key_expr: str, weights: dict[str, float],
                    seed: str) -> str:
    """DuckDB mirror of ``splits.assign_split`` — thresholds come from
    the SAME ``split_thresholds`` call the Spark column uses, so float
    rounding at boundaries is shared, never re-derived."""
    bounds = split_thresholds(weights)
    b = _bucket_sql(key_expr, seed)
    whens = " ".join(f"WHEN {b} < {hi} THEN '{name}'"
                     for name, hi in bounds[:-1])
    return f"CASE {whens} ELSE '{bounds[-1][0]}' END"


#: eval-span CTE for the decontamination oracles (mirror of _decon_eval)
_DECON_EV_SQL = f"""ev AS (
              SELECT array_to_string(list_slice(
                       list_filter(string_split_regex(text,
                         '[ \\t\\n\\x0B\\x0C\\r]+'), x -> x <> ''),
                       {DECON_POS}, {DECON_POS + DECON_LEN - 1}), ' ')
                     AS text
              FROM documents WHERE doc_id % {DECON_MOD} = 0
            ), eg AS (
              SELECT DISTINCT unnest({{g}}) AS gram FROM ev
            ), cg AS (
              SELECT doc_id, unnest(g) AS gram FROM (
                SELECT doc_id, {{g}} AS g FROM documents)
            )"""


def _decon_cte_sql() -> str:
    return _DECON_EV_SQL.replace("{g}", _grams_sql("text", DECON_N))


def _ngram_jaccard_sql() -> str:
    k = NearDupConfig().shingle_k
    jac = ("CAST(len(list_intersect(sa, sb)) AS DOUBLE) / "
           "CAST(len(list_distinct(list_concat(sa, sb))) AS DOUBLE)")
    return f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
    prs AS (
      SELECT doc_id AS id_a, doc_id + 4000000 AS id_b,
             text AS text_a, text || '{NGRAM_EDIT_SUFFIX}' AS text_b
      FROM base
      UNION ALL
      SELECT a.doc_id, b.doc_id, a.text, b.text
      FROM base a JOIN base b ON b.doc_id = a.doc_id + 1
    ), sh AS (
      SELECT id_a, id_b, {_shingles_sql('text_a', k)} AS sa,
             {_shingles_sql('text_b', k)} AS sb
      FROM prs
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(floor({jac} * 1000000) AS BIGINT) AS jaccard_micros
    FROM sh
    """


def _substring_planted_sql() -> str:
    """Rebuilds ``_q_substring_pairs_planted``'s composites literally and
    emits the construction-pinned LCS, verifying payload containment in
    both members so the stated value is a checked common-substring
    length, not an asserted constant (maximality argument in the query
    docstring)."""
    return f"""
    WITH uniq AS (
      SELECT min(doc_id) AS doc_id FROM documents
      WHERE text IS NOT NULL AND length(text) >= {SUB_HOST_LEN}
      GROUP BY text
    ), sel AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rk
      FROM uniq ORDER BY doc_id LIMIT {2 * SUB_N_PAIRS}
    ), comp AS (
      SELECT s.rk // 2 AS i,
             CASE WHEN s.rk % 2 = 0 THEN 'a' ELSE 'b' END AS mc,
             substr(d.text, 1, {SUB_HOST_LEN}) AS host
      FROM sel s JOIN documents d USING (doc_id)
    ), built AS (
      SELECT i, mc, host,
             substr(repeat('«' || lpad(CAST(i AS VARCHAR), 3, '0')
                           || '.xxxxxxxx»', {SUB_BLOCK_REPS}),
                    1, {SUB_MIN_LEN} + {SUB_LEN_STEP} * i) AS payload
      FROM comp
    ), texts AS (
      SELECT 'sub:' || lpad(CAST(i AS VARCHAR), 3, '0') || ':' || mc AS url,
             host || mc || payload || mc AS text, i, mc, payload
      FROM built
    )
    SELECT a.url AS url_a, b.url AS url_b,
           CAST(length(a.payload) AS BIGINT) AS lcs_len
    FROM texts a JOIN texts b ON a.i = b.i AND a.mc = 'a' AND b.mc = 'b'
    WHERE position(a.payload IN a.text) > 0
      AND position(a.payload IN b.text) > 0
    """


#: duplicate-group membership over documents ∪ re-keyed copy — shared by
#: `exact_dup_members_planted` (the straight-through funnel) and
#: `checkpoint_resume` (the same funnel crash-resumed from checkpoint):
#: one computation, two execution disciplines, one contract answer.
_MEMBERS_PLANTED_SQL = """
    WITH unioned AS (
      SELECT doc_id, text, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text, n_chars FROM documents
    ), g AS (
      SELECT sha256(text) AS digest, CAST(count(*) AS BIGINT) AS n_docs,
             min(n_chars) AS size
      FROM unioned GROUP BY 1 HAVING count(*) > 1
    ), gid AS (
      SELECT row_number() OVER (ORDER BY digest) AS group_id, digest,
             n_docs, size,
             CAST(size * (n_docs - 1) AS BIGINT) AS wasted_space
      FROM g
    )
    SELECT gid.group_id, gid.digest, gid.n_docs, gid.size,
           gid.wasted_space, d.doc_id
    FROM gid JOIN unioned d ON sha256(d.text) = gid.digest
"""

_NDCFG = NearDupConfig()


def _host_rank_sql() -> str:
    """Chained-CTE mirror of the 5 integer power-iteration rounds (see
    _q_host_rank_planted): r0 = uniform micro-mass, each rK applies the
    SAME multiply + floor-divide (`//`) steps as the Spark operator's
    `div` expressions, so ranks are exact-integer-equal. Sums are
    CAST to BIGINT at the end (DuckDB integer SUM is HUGEINT)."""
    n_sub = "(SELECT n FROM c)"
    tele = f"({HR_DDEN} - {HR_DNUM}) * {RANK_SCALE} // ({HR_DDEN} * {n_sub})"
    sql = [f"""
        WITH edges AS (
          SELECT doc_id % {HR_HOSTS} AS src,
                 (doc_id * {HR_MUL} + {HR_ADD}) % {HR_HOSTS} AS dst,
                 COUNT(*) AS w
          FROM documents GROUP BY 1, 2
        ), nodes AS (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ), outw AS (
          SELECT src, SUM(w) AS out_w FROM edges GROUP BY 1
        ), c AS (
          SELECT COUNT(*) AS n FROM nodes
        ), r0 AS (
          SELECT node, {RANK_SCALE} // {n_sub} AS score FROM nodes
        )"""]
    for k in range(1, HR_ITER + 1):
        sql.append(f""", r{k} AS (
          SELECT nd.node,
                 {tele} + {HR_DNUM} * COALESCE(i.s, 0) // {HR_DDEN} AS score
          FROM nodes nd LEFT JOIN (
            SELECT e.dst AS node, SUM(r.score * e.w // o.out_w) AS s
            FROM edges e
            JOIN r{k - 1} r ON r.node = e.src
            JOIN outw o ON o.src = e.src
            GROUP BY 1
          ) i ON i.node = nd.node
        )""")
    sql.append(f"""
        SELECT node AS host, CAST(score AS BIGINT) AS rank_micros
        FROM r{HR_ITER}""")
    return "".join(sql)


def _skew_stats_sql() -> str:
    """Construction-pinned bucket histogram (see _q_neardup_skew_stats):
    counts derive from the same distinct-text selection as the Spark
    side, so both shrink consistently on tiny tables; the per-cap rows
    state the repetition-math expectations (identical shingle sets ⇒
    identical band hashes ⇒ group-sized buckets in every band)."""
    b = _NDCFG.bands
    h = HOT_MEMBERS
    star_skip = h * (h - 1) // 2 - (h - 1)
    return f"""
        WITH sel AS (
            SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rk
            FROM (SELECT min(doc_id) AS doc_id
                  FROM documents WHERE text IS NOT NULL
                  GROUP BY text ORDER BY doc_id
                  LIMIT {MHP_GROUPS + MHP_SINGLETONS + 1})
        ), c AS (
            SELECT count(*) FILTER (WHERE rk < {MHP_GROUPS}) AS n_grp,
                   count(*) FILTER (WHERE rk >= {MHP_GROUPS}
                                    AND rk < {MHP_GROUPS + MHP_SINGLETONS})
                     AS n_single,
                   count(*) FILTER (WHERE rk = {MHP_GROUPS + MHP_SINGLETONS})
                     AS n_hot
            FROM sel
        ), caps(cap) AS (VALUES ({_NDCFG.bucket_cap}), ({HOT_CAP}))
        SELECT CAST(cap AS BIGINT) AS cap,
               CAST({b} * (n_grp + n_single + n_hot) AS BIGINT) AS buckets,
               CAST({b} * (n_grp + n_hot) AS BIGINT) AS colliding_buckets,
               CAST(CASE WHEN n_hot > 0 THEN {h}
                         WHEN n_grp > 0 THEN 3
                         WHEN n_single > 0 THEN 1 END AS BIGINT) AS max_bucket,
               CAST(CASE WHEN {h} > cap THEN {b} * n_hot ELSE 0 END
                    + CASE WHEN 3 > cap THEN {b} * n_grp ELSE 0 END
                 AS BIGINT) AS capped_buckets,
               CAST(CASE WHEN {h} > cap THEN {b} * n_hot * {star_skip}
                         ELSE 0 END
                    + CASE WHEN 3 > cap THEN {b} * n_grp * 1 ELSE 0 END
                 AS BIGINT) AS pairs_skipped_by_cap
        FROM c CROSS JOIN caps
    """


def oracle_sql() -> dict[str, str]:
    ann_ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return {
        "exact_dup_members": """
            WITH g AS (
              SELECT sha256(text) AS digest, CAST(count(*) AS BIGINT) AS n_docs,
                     min(n_chars) AS size
              FROM documents GROUP BY 1 HAVING count(*) > 1
            ), gid AS (
              SELECT row_number() OVER (ORDER BY digest) AS group_id, digest,
                     n_docs, size,
                     CAST(size * (n_docs - 1) AS BIGINT) AS wasted_space
              FROM g
            )
            SELECT gid.group_id, gid.digest, gid.n_docs, gid.size,
                   gid.wasted_space, d.doc_id
            FROM gid JOIN documents d ON sha256(d.text) = gid.digest
        """,
        "exact_dup_report": f"""
            WITH cand AS (
              SELECT * FROM documents WHERE n_chars IN (
                SELECT n_chars FROM documents GROUP BY 1 HAVING count(*) > 1)
            ), quick AS (
              SELECT * FROM cand WHERE ({QUICK_SAMPLE_SQL}) IN (
                SELECT {QUICK_SAMPLE_SQL} FROM cand GROUP BY 1 HAVING count(*) > 1)
            ), grp AS (
              SELECT sha256(text) AS digest, count(*) AS n, min(n_chars) AS size
              FROM quick GROUP BY 1 HAVING count(*) > 1
            )
            SELECT (SELECT count(*) FROM documents) AS total_docs,
                   (SELECT count(*) FROM cand) AS processed_docs,
                   (SELECT count(*) FROM quick) AS full_hashed_docs,
                   (SELECT count(*) FROM grp) AS duplicate_groups,
                   CAST(coalesce((SELECT sum(n) FROM grp), 0) AS BIGINT)
                     AS duplicate_docs,
                   CAST(coalesce((SELECT sum(size * (n - 1)) FROM grp), 0) AS BIGINT)
                     AS total_wasted_space
        """,
        "exact_dup_report_filtered": f"""
            WITH base AS (
              SELECT * FROM documents
              WHERE n_chars >= 100 AND n_chars <= 400
                AND lang IN ('en', 'de')
                AND source NOT LIKE 'src1%'
            ), cand AS (
              SELECT * FROM base WHERE n_chars IN (
                SELECT n_chars FROM base GROUP BY 1 HAVING count(*) > 1)
            ), quick AS (
              SELECT * FROM cand WHERE ({QUICK_SAMPLE_SQL}) IN (
                SELECT {QUICK_SAMPLE_SQL} FROM cand GROUP BY 1 HAVING count(*) > 1)
            ), grp AS (
              SELECT sha256(text) AS digest, count(*) AS n, min(n_chars) AS size
              FROM quick GROUP BY 1 HAVING count(*) > 1
            )
            SELECT (SELECT count(*) FROM base) AS total_docs,
                   (SELECT count(*) FROM cand) AS processed_docs,
                   (SELECT count(*) FROM quick) AS full_hashed_docs,
                   (SELECT count(*) FROM grp) AS duplicate_groups,
                   CAST(coalesce((SELECT sum(n) FROM grp), 0) AS BIGINT)
                     AS duplicate_docs,
                   CAST(coalesce((SELECT sum(size * (n - 1)) FROM grp), 0) AS BIGINT)
                     AS total_wasted_space
        """,
        "stream_dedup_digests": """
            SELECT DISTINCT sha256(text) AS digest FROM documents
        """,
        # the watermark contract stated as data: the anchor + the
        # within-watermark late row ARE in the answer; the too-late row
        # and the sentinel are NOT (its window never closes)
        "stream_events_hourly": """
            WITH aug AS (
              SELECT ts, event_type FROM events
              UNION ALL
              SELECT TIMESTAMP '2024-03-01 00:00:00', 'planted_anchor'
              UNION ALL
              SELECT TIMESTAMP '2024-02-29 23:30:00', 'planted_late_ok'
            )
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM aug GROUP BY 1, 2
        """,
        "exact_dup_members_planted": _MEMBERS_PLANTED_SQL,
        # resume-idempotency: the crash-resumed checkpointed runner must
        # produce exactly the straight-through answer
        "checkpoint_resume": _MEMBERS_PLANTED_SQL,
        "neardup_skew_stats": _skew_stats_sql(),
        "quick_digest_buckets_planted": f"""
            WITH seeds AS (SELECT doc_id FROM documents WHERE doc_id < 20),
            planted AS (
              SELECT doc_id * 2 + 2000000 AS doc_id,
                     repeat('x', 8000) || lpad(CAST(doc_id AS VARCHAR), 192, '0')
                       || 'A' || repeat('y', 807) AS text
              FROM seeds
              UNION ALL
              SELECT doc_id * 2 + 2000001,
                     repeat('x', 8000) || lpad(CAST(doc_id AS VARCHAR), 192, '0')
                       || 'B' || repeat('y', 807)
              FROM seeds
            ), unioned AS (
              SELECT doc_id, text, length(text) AS n_chars FROM (
                SELECT doc_id, text FROM documents
                UNION ALL SELECT doc_id, text FROM planted
              )
            ), cand AS (
              SELECT * FROM unioned WHERE n_chars IN (
                SELECT n_chars FROM unioned GROUP BY 1 HAVING count(*) > 1)
            )
            SELECT min(n_chars) AS size, CAST(count(*) AS BIGINT) AS n_docs
            FROM cand GROUP BY ({QUICK_SAMPLE_SQL}) HAVING count(*) > 1
        """,
        "orders_by_segment": """
            SELECT c_mktsegment, o_orderstatus,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     AS price_centis
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2
        """,
        "customers_per_region": """
            SELECT r_name AS region, CAST(count(*) AS BIGINT) AS n_customers,
                   CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                     AS acctbal_centis
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1
        """,
        "lineitem_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
                     AS qty_centis,
                   CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                     AS price_centis,
                   CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS BIGINT) AS disc_price_centis,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem WHERE l_quantity > 10
            GROUP BY 1, 2
        """,
        "length_buckets": """
            SELECT n_chars AS size, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "filter_preset_docs": """
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE n_chars >= 100 AND n_chars <= 400
              AND lang IN ('en', 'de')
              AND source NOT LIKE 'src1%'
        """,
        "dedup_keep_first": """
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY sha256(text)) AS canonical_id
            FROM documents
        """,
        "dedup_summary": """
            WITH asg AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY sha256(text)) AS canonical_id
              FROM documents
            ), grp AS (SELECT canonical_id, count(*) AS c FROM asg GROUP BY 1)
            SELECT CAST((SELECT count(*) FROM asg) AS BIGINT) AS total_docs,
                   CAST((SELECT count(*) FROM grp) AS BIGINT) AS kept_docs,
                   CAST((SELECT count(*) FROM asg) -
                        (SELECT count(*) FROM grp) AS BIGINT) AS removed_docs,
                   CAST((SELECT count(*) FROM grp WHERE c > 1) AS BIGINT)
                     AS dup_groups
        """,
        "token_stats": f"""
            SELECT doc_id,
                   CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '{SUBTOKEN_PATTERN}'))
                        AS BIGINT) AS n_subtokens
            FROM documents
        """,
        "extract_text_roundtrip": f"""
            WITH pages AS (
                SELECT printf('d:%06d', doc_id) AS url,
                       encode('<html><body>' ||
                              CASE WHEN doc_id % 97 = 0
                                   THEN text || '{_EXTRACT_TRAP}'
                                   ELSE text END ||
                              '</body></html>') AS html
                FROM documents WHERE text IS NOT NULL
            )
            SELECT url,
                   regexp_extract(decode(html),
                                  '(?s)<body>(.*)</body>', 1) AS extracted
            FROM pages
        """,
        # replays the warc_ingest fixture construction (never the
        # parser): url/date/wrapper-html from doc_id + text, so the
        # compare gates the whole serialize→stream-parse→strip chain
        "warc_ingest": f"""
            WITH h AS (
              SELECT doc_id,
                     '<html><body>' || text || '</body></html>' AS html
              FROM documents WHERE text IS NOT NULL
            )
            SELECT printf('w:%06d', doc_id) AS url,
                   strftime(TIMESTAMP '{WARC_EPOCH}'
                              + doc_id * INTERVAL 1 SECOND,
                            '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
                   CAST(octet_length(encode(html)) AS BIGINT) AS n_bytes,
                   sha256(html) AS digest
            FROM h
        """,
        "lang_id": _lang_id_sql(),
        "quality_scores": _quality_sql(),
        "quick_digest_buckets": f"""
            WITH cand AS (
              SELECT * FROM documents WHERE n_chars IN (
                SELECT n_chars FROM documents GROUP BY 1 HAVING count(*) > 1)
            )
            SELECT min(n_chars) AS size, CAST(count(*) AS BIGINT) AS n_docs
            FROM cand GROUP BY ({QUICK_SAMPLE_SQL}) HAVING count(*) > 1
        """,
        "lang_stats": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   min(n_chars) AS min_chars, max(n_chars) AS max_chars
            FROM documents GROUP BY lang
        """,
        "lang_stats_salted": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   min(n_chars) AS min_chars, max(n_chars) AS max_chars
            FROM documents GROUP BY lang
        """,
        "longest_docs_per_lang": """
            WITH r AS (
              SELECT lang, doc_id, n_chars,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n_chars DESC, doc_id) AS rank
              FROM documents
            )
            SELECT lang, doc_id, n_chars, CAST(rank AS BIGINT) AS rank
            FROM r WHERE rank <= 3
        """,
        "events_by_hour": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(floor(sum(value) * 100) AS BIGINT) AS value_centis
            FROM events GROUP BY 1, 2
        """,
        "ann_topk": f"""
            WITH q AS (
              SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
              FROM embeddings WHERE vec_id IN ({ann_ids})
            ), scored AS (
              SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec)
                       AS sim
              FROM embeddings e, q WHERE e.vec_id <> q.qid
            ), ranked AS (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= {ANN_K}
        """,
        "emb_neardup": f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))
                  >= {EMB_NEARDUP_THRESHOLD}
        """,
        # pinned by the one-hot construction (cosine exactly 1 within a
        # group, exactly 0 across): the oracle is the construction math
        "semantic_dedup_planted": f"""
            SELECT g * 100 + m AS vec_id,
                   g * 100 AS cluster_rep,
                   (m = 0) AS keep
            FROM range(0, {SEM_GROUPS}) gs(g)
            CROSS JOIN range(0, {SEM_MEMBERS}) ms(m)
        """,
        "multimodal_meta": """
            SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                   sha256(text) AS payload_digest
            FROM documents
        """,
        # fake-decoder replay: dims from sha256(text) bytes 0/1, integer
        # aspect-preserving scale-down, resized digest from the same
        # "{digest16}:{w}x{h}" string the UDF synthesizes
        "media_resize": f"""
            WITH m AS (
              SELECT CAST(doc_id AS VARCHAR) AS asset_id,
                     CASE WHEN doc_id % 2 = 0 THEN 'image'
                          ELSE 'video' END AS kind,
                     64 + CAST(('0x' || substr(sha256(text), 1, 2)) AS INT)
                       % 192 AS w,
                     64 + CAST(('0x' || substr(sha256(text), 3, 2)) AS INT)
                       % 192 AS h,
                     substr(sha256(text), 1, 16) AS d16,
                     text
              FROM documents
            ), r AS (
              SELECT asset_id, kind, w, h, d16, text,
                     greatest(w, h) AS mx FROM m
            )
            SELECT asset_id, kind,
                   CAST(CASE WHEN mx > {MEDIA_MAX_SIDE}
                        THEN greatest(1, w * {MEDIA_MAX_SIDE} // mx)
                        ELSE w END AS INT) AS width,
                   CAST(CASE WHEN mx > {MEDIA_MAX_SIDE}
                        THEN greatest(1, h * {MEDIA_MAX_SIDE} // mx)
                        ELSE h END AS INT) AS height,
                   CASE WHEN mx > {MEDIA_MAX_SIDE}
                        THEN sha256(d16 || ':'
                             || CAST(greatest(1, w * {MEDIA_MAX_SIDE} // mx)
                                     AS VARCHAR)
                             || 'x'
                             || CAST(greatest(1, h * {MEDIA_MAX_SIDE} // mx)
                                     AS VARCHAR))
                        ELSE sha256(text) END AS resized_digest
            FROM r
        """,
        # frame fan-out replay: frame count from sha256(text) byte 2,
        # every MEDIA_FRAME_K-th frame, digest of "{digest16}#{frame}"
        "media_frames": f"""
            WITH m AS (
              SELECT CAST(doc_id AS VARCHAR) AS asset_id,
                     CASE WHEN doc_id % 2 = 0 THEN 1
                          ELSE 1 + CAST(('0x' || substr(sha256(text), 5, 2))
                                        AS INT) % 64 END AS nf,
                     substr(sha256(text), 1, 16) AS d16
              FROM documents
            )
            SELECT asset_id, CAST(f AS INT) AS frame_no,
                   substr(sha256(d16 || '#' || CAST(f AS VARCHAR)), 1, 16)
                     AS frame_digest
            FROM m, unnest(range(0, nf, {MEDIA_FRAME_K})) AS t(f)
        """,
        "ngram_jaccard_planted": _ngram_jaccard_sql(),
        "substring_pairs_planted": _substring_planted_sql(),
        # the planted LSH/SimHash outputs are content-independent given
        # ≥ MHP_GROUPS+MHP_SINGLETONS distinct texts (see the query
        # docstrings for the repetition/rotation math); the oracles
        # still derive the group count from the same distinct-text
        # selection so both sides shrink consistently on tiny tables
        "fuzzy_contamination_planted": f"""
            WITH sel AS (
                SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rk
                FROM (SELECT min(doc_id) AS doc_id
                      FROM documents WHERE text IS NOT NULL
                      GROUP BY text ORDER BY doc_id
                      LIMIT {FCP_HITS + FCP_CLEAN + FCP_EVAL_ONLY})
            )
            SELECT printf('fc:%02d', rk) AS doc_id,
                   printf('ev:%02d', rk) AS eval_id,
                   CAST(1000000 AS BIGINT) AS jaccard_micros
            FROM sel WHERE rk < {FCP_HITS}
        """,
        "xsnap_neardup_planted": f"""
            WITH sel AS (
                SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rk
                FROM (SELECT min(doc_id) AS doc_id
                      FROM documents WHERE text IS NOT NULL
                      GROUP BY text ORDER BY doc_id
                      LIMIT {XSN_HITS + XSN_CLEAN + XSN_SEEN_ONLY})
            )
            SELECT printf('nw:%02d', rk) AS doc_id_new,
                   printf('sn:%02d', rk) AS doc_id_seen,
                   CAST(1000000 AS BIGINT) AS jaccard_micros
            FROM sel WHERE rk < {XSN_HITS}
        """,
        "stream_neardup_pairs": f"""
            WITH sel AS (
                SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rk
                FROM (SELECT min(doc_id) AS doc_id
                      FROM documents WHERE text IS NOT NULL
                      GROUP BY text ORDER BY doc_id
                      LIMIT {MHP_GROUPS + MHP_SINGLETONS})
            ), p(x, y) AS (VALUES (2, 3), (2, 4), (3, 4))
            SELECT printf('mh:%02d:%d', rk, x) AS url_a,
                   printf('mh:%02d:%d', rk, y) AS url_b,
                   CAST(128 AS BIGINT) AS agree
            FROM sel CROSS JOIN p
            WHERE rk < {MHP_GROUPS}
        """,
        "minhash_clusters_planted": f"""
            WITH sel AS (
                SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rk
                FROM (SELECT min(doc_id) AS doc_id
                      FROM documents WHERE text IS NOT NULL
                      GROUP BY text ORDER BY doc_id
                      LIMIT {MHP_GROUPS + MHP_SINGLETONS})
            ), m(m) AS (VALUES (2), (3), (4))
            SELECT printf('mh:%02d:%d', rk, m) AS url,
                   printf('mh:%02d:2', rk) AS cluster_rep
            FROM sel CROSS JOIN m
            WHERE rk < {MHP_GROUPS}
        """,
        "simhash_pairs_planted": f"""
            WITH sel AS (
                SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rk
                FROM (SELECT min(doc_id) AS doc_id
                      FROM documents WHERE text IS NOT NULL
                      GROUP BY text ORDER BY doc_id LIMIT {SHP_PAIRS})
            )
            SELECT printf('sh:%02d:a', rk) AS url_a,
                   printf('sh:%02d:b', rk) AS url_b,
                   CAST(0 AS BIGINT) AS hamming
            FROM sel
        """,
        # RE2 script properties vs Java's over the same planted runs;
        # oracle stays pure-ASCII via chr() codepoints
        "script_profile_planted": """
            WITH p AS (
              SELECT doc_id,
                text
                || CASE WHEN doc_id % 3 = 0 THEN ' ' || chr(1055)
                     || chr(1088) || chr(1080) || chr(1074)
                     || chr(1077) || chr(1090) ELSE '' END
                || CASE WHEN doc_id % 4 = 0 THEN ' ' || chr(20320)
                     || chr(22909) ELSE '' END AS t
              FROM documents WHERE text IS NOT NULL
            ), c AS (
              SELECT doc_id,
                length(t) - length(regexp_replace(t, '\\p{L}', '', 'g'))
                  AS nl,
                length(t) - length(regexp_replace(t, '\\p{Latin}', '', 'g'))
                  AS nlat,
                length(t) - length(regexp_replace(t, '\\p{Cyrillic}', '',
                                                  'g')) AS ncyr,
                length(t) - length(regexp_replace(t, '\\p{Han}', '', 'g'))
                  AS nhan
              FROM p
            )
            SELECT doc_id, CAST(nl AS BIGINT) AS n_letters,
              CAST(CASE WHEN nl = 0 THEN 0
                   ELSE floor(nlat * 1000000 / nl) END AS BIGINT)
                AS latin_micros,
              CAST(CASE WHEN nl = 0 THEN 0
                   ELSE floor(ncyr * 1000000 / nl) END AS BIGINT)
                AS cyrillic_micros,
              CAST(CASE WHEN nl = 0 THEN 0
                   ELSE floor(nhan * 1000000 / nl) END AS BIGINT)
                AS han_micros
            FROM c
        """,
        # anchor pattern mirrored literally; DuckDB's lockstep
        # multi-unnest replays the positional href/label zip
        "anchor_edges": f"""
            WITH pages AS (
              SELECT 'http://h' || CAST(doc_id % {HLE_HOSTS} AS VARCHAR)
                       || '.example.com/d/' || CAST(doc_id AS VARCHAR) AS url,
                     '<html><body><a href="http://h'
                       || CAST((doc_id * 7 + 1) % {HLE_HOSTS} AS VARCHAR)
                       || '.example.com/p"> read h'
                       || CAST((doc_id * 7 + 1) % {HLE_HOSTS} AS VARCHAR)
                       || ' </a><a class="m" HREF="https://www.h'
                       || CAST((doc_id * 3) % {HLE_HOSTS} AS VARCHAR)
                       || '.example.com:443/q">more</a>'
                       || '<a href="/rel">skip</a></body></html>' AS html
              FROM documents
            ), raw AS (
              SELECT url,
                unnest(regexp_extract_all(html,
                  '<[aA][ \t][^>]*[hH][rR][eE][fF]="([^"]*)"[^>]*>([^<]*)</[aA]>',
                  1)) AS link,
                unnest(regexp_extract_all(html,
                  '<[aA][ \t][^>]*[hH][rR][eE][fF]="([^"]*)"[^>]*>([^<]*)</[aA]>',
                  2)) AS anchor
              FROM pages
            ), hosts AS (
              SELECT
                regexp_replace(regexp_replace(lower(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  '^www\\.', ''), ':[0-9]+$', '') AS src,
                regexp_replace(regexp_replace(lower(regexp_extract(link,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  '^www\\.', ''), ':[0-9]+$', '') AS dst,
                trim(anchor) AS anchor
              FROM raw
              WHERE regexp_matches(link, '^[hH][tT][tT][pP][sS]?://')
            )
            SELECT src, dst, anchor, CAST(COUNT(*) AS BIGINT) AS n
            FROM hosts WHERE dst <> '' AND dst <> src
            GROUP BY 1, 2, 3
        """,
        # component regexes mirrored literally over the shared URL CTE
        "url_signals": f"""
            WITH {_URL_PAGES_CTE},
            comp AS (
              SELECT doc_id, url,
                     regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                       AS path,
                     regexp_extract(url, '\\?([^#]*)', 1) AS qs
              FROM pages
            )
            SELECT doc_id,
                   CAST(length(url) AS BIGINT) AS url_len,
                   CAST(len(list_filter(string_split(path, '/'),
                                        x -> x <> '')) AS BIGINT)
                     AS path_depth,
                   CAST(len(list_filter(string_split(qs, '&'),
                                        x -> x <> '')) AS BIGINT)
                     AS n_params,
                   CAST(CASE WHEN length(path) = 0 THEN 0
                        ELSE floor((length(path)
                              - length(regexp_replace(path, '[0-9]', '',
                                                      'g')))
                             * 1000000 / length(path)) END AS BIGINT)
                     AS path_digit_micros,
                   (path = '' OR path = '/') AS is_index
            FROM comp
        """,
        # replays the jsonl fixture construction (never the reader):
        # the compare gates encode→wire→decode end to end
        "jsonl_ingest": f"""
            SELECT printf('j:%06d', doc_id) AS url,
                   strftime(TIMESTAMP '{WARC_EPOCH}'
                              + doc_id * INTERVAL 1 SECOND,
                            '%Y-%m-%dT%H:%M:%SZ') AS ts_iso,
                   sha256('<html><body>' || text || '</body></html>')
                     AS digest,
                   text, lang
            FROM documents WHERE text IS NOT NULL
        """,
        # the sketch's exact-recount output IS the plain HAVING set —
        # the sketch only bounds the memory of finding it
        "heavy_hitters_planted": f"""
            WITH t AS (
              SELECT unnest(list_filter(
                       string_split(text || '{(" " + HH_TOKEN) * 3}', ' '),
                       x -> x <> '')) AS key
              FROM documents WHERE text IS NOT NULL
            ), tot AS (SELECT count(*) AS n FROM t)
            SELECT key, count(*) AS n_exact
            FROM t, tot
            GROUP BY key, n
            HAVING count(*) * {HH_K} > n
        """,
        # compaction is layout, not content: the compacted table's
        # values must equal the straight projection
        "compaction_roundtrip": """
            SELECT doc_id, sha256(text) AS digest
            FROM documents WHERE text IS NOT NULL
        """,
        # DuckDB's NATIVE nfc_normalize vs Spark's unicodedata pandas
        # udf over the same planted decomposed suffix (chr(769) is the
        # combining acute U+0301) — two independent Unicode
        # implementations must agree on the composed values
        "nfc_normalized_planted": """
            WITH p AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                          THEN text || ' e' || chr(769)
                          ELSE text END AS t
              FROM documents WHERE text IS NOT NULL
            )
            SELECT doc_id, nfc_normalize(t) AS text_nfc,
                   CAST(length(nfc_normalize(t)) AS BIGINT) AS n_chars_nfc
            FROM p
        """,
        # the RE2-subset control class reused literally (DuckDB's
        # default strings don't process backslash escapes, so the \\x
        # sequences below reach RE2 verbatim)
        "control_stripped_planted": """
            WITH p AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0
                          THEN text || chr(7) || 'x' || chr(9) || 'y'
                               || chr(127)
                          ELSE text END AS t
              FROM documents WHERE text IS NOT NULL
            )
            SELECT doc_id,
                   regexp_replace(t,
                     '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g')
                     AS text_clean,
                   CAST(length(t) - length(regexp_replace(t,
                     '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'))
                     AS BIGINT) AS n_stripped
            FROM p
        """,
        "line_dedup_docs": f"""
            WITH {_LINE_DOCS_SQL},
            {_line_dedup_chain_sql('line_docs')}
            {_LINE_DEDUP_FINAL_SQL}
        """,
        # paragraph mode: the same keep-first chain over units split on
        # \n{{2,}} (single newlines stay inside their unit), grouped by
        # the paragraph TEXT itself; PARA_BLOCK's internal newline is
        # the semantics line mode could not express
        "paragraph_dedup_docs": f"""
            WITH {_LINE_DOCS_SQL},
            para_docs AS (
              SELECT doc_id,
                     replace(text, chr(10), chr(10) || chr(10))
                     || CASE WHEN doc_id % 3 = 0
                             THEN chr(10) || chr(10)
                                  || '{PARA_BLOCK.replace(chr(10), "' || chr(10) || '")}'
                             ELSE '' END AS text
              FROM line_docs
            ), p0 AS (
              SELECT doc_id,
                     string_split_regex(text, '\\n{{2,}}') AS l
              FROM para_docs
            ), pl AS (
              SELECT doc_id, unnest(range(len(l))) AS line_no,
                     unnest(l) AS raw
              FROM p0
            ), nb AS (
              SELECT doc_id, line_no, trim(raw) AS line
              FROM pl WHERE trim(raw) <> ''
            ), ranked AS (
              SELECT doc_id, line_no, line,
                     row_number() OVER (PARTITION BY line
                                        ORDER BY doc_id, line_no) AS rn
              FROM nb
            ), kept AS (
              SELECT * FROM ranked WHERE rn = 1
            ), tot AS (
              SELECT doc_id, count(*) AS n_total FROM nb GROUP BY 1
            )
            SELECT k.doc_id,
                   string_agg(k.line, chr(10) || chr(10)
                              ORDER BY k.line_no) AS text_clean,
                   count(*) AS n_lines_kept,
                   any_value(t.n_total) - count(*) AS n_lines_dropped
            FROM kept k JOIN tot t ON k.doc_id = t.doc_id
            GROUP BY k.doc_id
        """,
        # the df threshold is counted on the line TEXT (count(DISTINCT
        # doc_id)), so the Spark side's xxhash64 frequency key is
        # collision-checked by the compare, exactly as in line_dedup
        "boilerplate_lines": f"""
            WITH {_LINE_DOCS_SQL},
            {_nb_lines_sql('line_docs')},
            blocked AS (
              SELECT line FROM nb
              GROUP BY line
              HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DF}
            ), kept AS (
              SELECT nb.doc_id, nb.line_no, nb.line
              FROM nb ANTI JOIN blocked USING (line)
            ), tot AS (
              SELECT doc_id, count(*) AS n_total FROM nb GROUP BY 1
            )
            {_LINE_DEDUP_FINAL_SQL}
        """,
        "line_dedup_within": f"""
            WITH {_LINE_DOCS_SQL},
            arrs AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(string_split(text, chr(10)),
                                      x -> trim(x)),
                       x -> x <> '') AS l
              FROM line_docs
            ), kept AS (
              SELECT doc_id, l,
                     list_transform(
                       list_filter(range(1, len(l) + 1),
                                   i -> list_position(l, l[i]) = i),
                       i -> l[i]) AS k
              FROM arrs
            )
            SELECT doc_id,
                   COALESCE(array_to_string(k, chr(10)), '') AS text_clean,
                   CAST(len(k) AS BIGINT) AS n_lines_kept,
                   CAST(len(l) - len(k) AS BIGINT) AS n_lines_dropped
            FROM kept
        """,
        "unigram_xent_scores": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
            ),
            cnt AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
            tot AS (SELECT SUM(n) AS t FROM cnt),
            lm AS (
              SELECT token,
                     CAST(FLOOR(-1000000.0 * ln(CAST(n AS DOUBLE)
                                                / CAST(t AS DOUBLE)))
                          AS BIGINT) AS lpm
              FROM cnt, tot
            ),
            dt AS (SELECT doc_id, token, COUNT(*) AS c
                   FROM tok GROUP BY doc_id, token),
            per AS (SELECT doc_id, SUM(c * lpm) AS sum_lpm,
                           SUM(c) AS n_tokens
                    FROM dt JOIN lm USING (token) GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(sum_lpm, 0) AS BIGINT) AS sum_lpm,
                   CAST(FLOOR(CAST(sum_lpm AS DOUBLE) / n_tokens)
                        AS BIGINT) AS xent_micros
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        "ccnet_bucket_stats": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
            ),
            cnt AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
            tot AS (SELECT SUM(n) AS t FROM cnt),
            lm AS (
              SELECT token,
                     CAST(FLOOR(-1000000.0 * ln(CAST(n AS DOUBLE)
                                                / CAST(t AS DOUBLE)))
                          AS BIGINT) AS lpm
              FROM cnt, tot
            ),
            dt AS (SELECT doc_id, token, COUNT(*) AS c
                   FROM tok GROUP BY doc_id, token),
            per AS (SELECT doc_id, SUM(c * lpm) AS sum_lpm,
                           SUM(c) AS n_tokens
                    FROM dt JOIN lm USING (token) GROUP BY doc_id),
            sc AS (SELECT doc_id,
                          CAST(FLOOR(CAST(sum_lpm AS DOUBLE) / n_tokens)
                               AS BIGINT) AS x
                   FROM per),
            hist AS (SELECT x, COUNT(*) AS c FROM sc GROUP BY x),
            cum AS (SELECT x, SUM(c) OVER (ORDER BY x) AS cum FROM hist),
            n AS (SELECT SUM(c) AS t FROM hist),
            th AS (SELECT MIN(CASE WHEN cum >= (t + 2) // 3 THEN x END)
                            AS t1,
                          MIN(CASE WHEN cum >= (2 * t + 2) // 3 THEN x END)
                            AS t2
                   FROM cum, n)
            SELECT CASE WHEN x <= t1 THEN 'head'
                        WHEN x <= t2 THEN 'middle'
                        ELSE 'tail' END AS bucket,
                   COUNT(*) AS n_docs,
                   MIN(x) AS min_xent, MAX(x) AS max_xent
            FROM sc, th GROUP BY 1
        """,
        "line_repetition_stats": f"""
            WITH {_LINE_DOCS_SQL},
            arrs AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(string_split(text, chr(10)),
                                      x -> trim(x)),
                       x -> x <> '') AS l
              FROM line_docs
            ), m AS (
              SELECT doc_id, len(l) AS n, len(list_distinct(l)) AS d,
                     list_aggregate(list_transform(l, x -> length(x)),
                                    'sum') AS chars,
                     list_aggregate(
                       list_transform(list_distinct(l), x -> length(x)),
                       'sum') AS dchars
              FROM arrs
            )
            SELECT doc_id,
                   CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor((n - d) * 1000000.0 / n) AS BIGINT)
                   END AS dup_line_frac_micros,
                   CASE WHEN chars IS NULL OR chars = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor((chars - dchars) * 1000000.0 / chars)
                                  AS BIGINT)
                   END AS dup_char_frac_micros
            FROM m
        """,
        "top_bigram_mass": """
            WITH t AS (
              SELECT doc_id, length(text) AS tlen,
                     string_split(text, ' ') AS toks
              FROM documents
            ), g0 AS (
              SELECT doc_id,
                     list_transform(range(0, len(toks) - 1),
                       i -> array_to_string(
                         list_slice(toks, i + 1, i + 2), ' ')) AS grams
              FROM t WHERE len(toks) >= 2
            ), g AS (
              SELECT doc_id, unnest(grams) AS gram FROM g0
            ), c AS (
              SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2
            ), p AS (
              SELECT doc_id, max(cnt * length(gram)) AS mass
              FROM c GROUP BY 1
            )
            SELECT t.doc_id,
                   CAST(coalesce(p.mass, 0) AS BIGINT) AS top_gram_mass,
                   CASE WHEN t.tlen = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor(coalesce(p.mass, 0) * 1000000.0
                                        / t.tlen) AS BIGINT)
                   END AS top_gram_frac_micros
            FROM t LEFT JOIN p ON t.doc_id = p.doc_id
        """,
        "pii_redaction": f"""
            WITH p AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % {PII_EMAIL_MOD} = 0
                             THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                  || '@example.com now'
                             ELSE '' END
                     || CASE WHEN doc_id % {PII_IP_MOD} = 0
                             THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
                                  || '.0.1 logged'
                             ELSE '' END AS text
              FROM documents
            ), r AS (
              SELECT doc_id, text,
                     regexp_replace(text, '{EMAIL_PATTERN}', '{EMAIL_TOKEN}',
                                    'g') AS after_email
              FROM p
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{EMAIL_PATTERN}'))
                        AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(after_email, '{IPV4_PATTERN}'))
                        AS BIGINT) AS n_ips,
                   regexp_replace(after_email, '{IPV4_PATTERN}', '{IPV4_TOKEN}',
                                  'g') AS text_clean
            FROM r
        """,
        "decontamination_report": f"""
            WITH {_decon_cte_sql()},
            hits AS (
              SELECT doc_id, count(*) AS n_hits,
                     count(DISTINCT gram) AS n_distinct_hits
              FROM cg JOIN eg USING (gram) GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(len({_grams_sql('d.text', DECON_N)}) AS BIGINT)
                     AS n_grams,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   CAST(coalesce(h.n_distinct_hits, 0) AS BIGINT)
                     AS n_distinct_hits,
                   coalesce(h.n_hits, 0) > 0 AS is_contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        """,
        "decontaminated_ids": f"""
            WITH {_decon_cte_sql()},
            bad AS (
              SELECT DISTINCT doc_id FROM cg JOIN eg USING (gram)
            )
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        """,
        "split_assign": f"""
            SELECT doc_id,
                   {_split_case_sql('doc_id', SPLIT_WEIGHTS, SPLIT_SEED)}
                     AS split
            FROM documents
        """,
        "shard_assign": f"""
            SELECT doc_id,
                   CAST(('0x' || substr(md5('{SHARD_SEED}:'
                        || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     % {N_SHARDS} AS shard,
                   CAST(('0x' || substr(md5('{SHARD_SEED}:order:'
                        || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     AS order_key
            FROM documents
        """,
        "gopher_filter": _gopher_sql(),
        # the greedy pack replayed as a recursive CTE: anchor = each
        # shard's first doc in (order_key, id) order; step = append or
        # reset exactly as pack_sequences' loop does
        "packed_sequences": f"""
            WITH RECURSIVE numbered AS (
              SELECT doc_id, shard, n_tokens,
                     row_number() OVER (PARTITION BY shard
                                        ORDER BY order_key, doc_id) AS pos
              FROM (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('{SHARD_SEED}:'
                            || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                         % {N_SHARDS} AS shard,
                       CAST(('0x' || substr(md5('{SHARD_SEED}:order:'
                            || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                         AS order_key,
                       CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
                FROM documents
              )
            ), packed AS (
              SELECT shard, doc_id, n_tokens, pos,
                     CAST(0 AS BIGINT) AS seq_id, n_tokens AS running
              FROM numbered WHERE pos = 1
              UNION ALL
              SELECT n.shard, n.doc_id, n.n_tokens, n.pos,
                     CASE WHEN p.running > 0
                               AND p.running + n.n_tokens > {PACK_BUDGET}
                          THEN p.seq_id + 1 ELSE p.seq_id END,
                     CASE WHEN p.running > 0
                               AND p.running + n.n_tokens > {PACK_BUDGET}
                          THEN n.n_tokens
                          ELSE p.running + n.n_tokens END
              FROM packed p
              JOIN numbered n ON n.shard = p.shard AND n.pos = p.pos + 1
            )
            SELECT doc_id, shard, seq_id,
                   row_number() OVER (PARTITION BY shard, seq_id
                                      ORDER BY pos) - 1 AS seq_pos,
                   n_tokens
            FROM packed
        """,
        "stratified_sample_lang": f"""
            SELECT doc_id, lang FROM documents
            WHERE {_bucket_sql('doc_id', STRAT_SEED)} <
                  CASE {' '.join(
                      f"WHEN lang = '{g}' THEN {int(fr * 1_000_000)}"
                      for g, fr in STRAT_FRACTIONS.items())}
                  ELSE 0 END
        """,
        "training_cut_funnel": f"""
            WITH {_LINE_DOCS_SQL},
            planted AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % {PII_EMAIL_MOD} = 0
                             THEN chr(10) || 'contact user'
                                  || CAST(doc_id AS VARCHAR)
                                  || '@example.com now'
                             ELSE '' END
                     || CASE WHEN doc_id % {PII_IP_MOD} = 0
                             THEN chr(10) || 'ip 10.'
                                  || CAST(doc_id % 256 AS VARCHAR)
                                  || '.0.1 logged'
                             ELSE '' END AS text
              FROM line_docs
            ), red AS (
              SELECT doc_id,
                     regexp_replace(
                       regexp_replace(text, '{EMAIL_PATTERN}',
                                      '{EMAIL_TOKEN}', 'g'),
                       '{IPV4_PATTERN}', '{IPV4_TOKEN}', 'g') AS text
              FROM planted
            ),
            {_line_dedup_chain_sql('red')},
            fin AS (
              {_LINE_DEDUP_FINAL_SQL}
            )
            SELECT doc_id, text_clean, n_lines_kept, n_lines_dropped
            FROM fin
            WHERE {_split_case_sql('doc_id', SPLIT_WEIGHTS, SPLIT_SEED)}
                  = 'train'
        """,
        # Mirrors canonicalize_url/host_of LITERALLY (same regexes, same
        # filter/sort/join pipeline — urls.py keeps every pattern in the
        # RE2-compatible subset so this is possible), over the same
        # deterministic URL-variant construction as _url_pages.
        "url_canonical_dups": f"""
            WITH {_URL_CANON_CTES}
            SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_urls,
                   min(doc_id) AS rep_id
            FROM canon GROUP BY 1 HAVING count(*) > 1
        """,
        # host rule mirrored as the subdomain-closed suffix semantics
        # (host = entry OR host ends with '.' || entry — exactly what
        # the Spark side's suffix-chain explode + equi-join computes);
        # host_of reused from the canon CTE; precedence host > path.
        "url_blocklist": f"""
            WITH {_URL_CANON_CTES},
            bl AS (
              SELECT unnest([{', '.join(f"'{h}'" for h in BLOCK_HOSTS)}])
                     AS b
            )
            SELECT p.doc_id,
                   (CASE
                      WHEN EXISTS (SELECT 1 FROM bl
                                   WHERE c.host = bl.b
                                      OR c.host LIKE '%.' || bl.b)
                        THEN 'blocked_host'
                      WHEN regexp_matches(lower(p.url),
                                          '{BLOCK_PATH_PATTERN}')
                        THEN 'blocked_path'
                      ELSE 'ok'
                    END) = 'ok' AS keep,
                   CASE
                     WHEN EXISTS (SELECT 1 FROM bl
                                  WHERE c.host = bl.b
                                     OR c.host LIKE '%.' || bl.b)
                       THEN 'blocked_host'
                     WHEN regexp_matches(lower(p.url),
                                         '{BLOCK_PATH_PATTERN}')
                       THEN 'blocked_path'
                     ELSE 'ok'
                   END AS reason
            FROM pages p JOIN canon c USING (doc_id)
        """,
        "host_profile": f"""
            WITH {_URL_CANON_CTES}
            SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_pages,
                   CAST(count(*) - count(DISTINCT canonical_url) AS BIGINT)
                     AS n_dup_urls,
                   CAST(sum(n_chars) AS BIGINT) AS total_size
            FROM canon GROUP BY 1
        """,
        "host_cap_sample": f"""
            WITH {_URL_CANON_CTES},
            ranked AS (
              SELECT doc_id, n_chars,
                     row_number() OVER (
                       PARTITION BY host
                       ORDER BY {_bucket_sql('doc_id', HOST_CAP_SEED)},
                                doc_id) AS rk
              FROM canon
            )
            SELECT doc_id, n_chars FROM ranked WHERE rk <= {HOST_CAP_K}
        """,
        "dedup_keep_best_planted": f"""
            WITH unioned AS (
              SELECT doc_id, text, n_chars FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     text || ' ' || text AS text, n_chars
              FROM documents
            ),
            q AS ({_quality_sql("unioned")}),
            r AS (
              SELECT b.doc_id, b.n_chars,
                     row_number() OVER (
                       PARTITION BY b.doc_id % 1000000
                       ORDER BY q.quality_micros DESC, b.doc_id) AS rk
              FROM unioned b JOIN q USING (doc_id)
            )
            SELECT doc_id, n_chars FROM r WHERE rk = 1
        """,
        "token_budget_cut": f"""
            WITH tk AS (
              SELECT doc_id, n_chars,
                     CAST(len({_TOKENS_SQL}) AS BIGINT) AS t,
                     {_bucket_sql('doc_id', BUDGET_SEED)} AS b
              FROM documents
            ),
            c AS (
              SELECT doc_id, n_chars,
                     sum(t) OVER (ORDER BY b, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum
              FROM tk
            )
            SELECT doc_id, n_chars FROM c
            WHERE cum <= (2 * (SELECT sum(t) FROM tk)) // 5
        """,
        "incremental_new_docs": f"""
            WITH seen AS (
              SELECT DISTINCT sha256(text) AS digest
              FROM documents WHERE doc_id % 5 <> 0 AND text IS NOT NULL
            ), incoming AS (
              SELECT doc_id, lang, n_chars, text
              FROM documents WHERE doc_id % 5 = 0
              UNION ALL
              SELECT doc_id + {INCR_REFETCH_OFFSET} AS doc_id, lang, n_chars,
                     text
              FROM documents WHERE doc_id % 5 = 1
            )
            SELECT doc_id, lang, n_chars FROM incoming
            WHERE text IS NULL
               OR sha256(text) NOT IN (SELECT digest FROM seen)
        """,
        # the bloom prefilter is row-identical to the exact anti-join
        # BY CONSTRUCTION (false positives only re-route rows to the
        # exact check) — the oracle is therefore the same SQL, and a
        # bloom that ever false-NEGATIVES (drops a genuinely-new doc)
        # fails this row
        "incremental_new_docs_bloom": f"""
            WITH seen AS (
              SELECT DISTINCT sha256(text) AS digest
              FROM documents WHERE doc_id % 5 <> 0 AND text IS NOT NULL
            ), incoming AS (
              SELECT doc_id, lang, n_chars, text
              FROM documents WHERE doc_id % 5 = 0
              UNION ALL
              SELECT doc_id + {INCR_REFETCH_OFFSET} AS doc_id, lang, n_chars,
                     text
              FROM documents WHERE doc_id % 5 = 1
            )
            SELECT doc_id, lang, n_chars FROM incoming
            WHERE text IS NULL
               OR sha256(text) NOT IN (SELECT digest FROM seen)
        """,
        "host_rank_planted": _host_rank_sql(),
        # literal mirror of links.py: same href/abs-link regexes
        # (RE2-subset by construction), same host canonicalization
        # chain (lower → strip ^www. → strip :port) in the same order
        "host_link_edges": f"""
            WITH pages AS (
              SELECT 'http://h' || CAST(doc_id % {HLE_HOSTS} AS VARCHAR)
                       || '.example.com/d/' || CAST(doc_id AS VARCHAR) AS url,
                     '<html><body><a href="http://h'
                       || CAST((doc_id * 7 + 1) % {HLE_HOSTS} AS VARCHAR)
                       || '.example.com/p">x</a><a HREF="https://www.h'
                       || CAST((doc_id * 3) % {HLE_HOSTS} AS VARCHAR)
                       || '.example.com:443/q">y</a>'
                       || '<a href="/rel/skip">r</a></body></html>' AS html
              FROM documents
            ), raw AS (
              SELECT url, UNNEST(regexp_extract_all(html,
                       '[hH][rR][eE][fF]="([^"]*)"', 1)) AS link
              FROM pages
            ), hosts AS (
              SELECT
                regexp_replace(regexp_replace(lower(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  '^www\\.', ''), ':[0-9]+$', '') AS src,
                regexp_replace(regexp_replace(lower(regexp_extract(link,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  '^www\\.', ''), ':[0-9]+$', '') AS dst
              FROM raw
              WHERE regexp_matches(link, '^[hH][tT][tT][pP][sS]?://')
            )
            SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
            FROM hosts WHERE dst <> '' AND dst <> src
            GROUP BY 1, 2
        """,
        "bucketed_snapshot_overlap": """
            WITH a AS (
              SELECT sha256(text) AS digest, MIN(doc_id) AS doc_id_a,
                     COUNT(*) AS n_docs_a
              FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL
              GROUP BY 1
            ), b AS (
              SELECT sha256(text) AS digest, MIN(doc_id) AS doc_id_b,
                     COUNT(*) AS n_docs_b
              FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
              GROUP BY 1
            )
            SELECT a.digest, doc_id_a, doc_id_b, n_docs_a, n_docs_b
            FROM a JOIN b ON a.digest = b.digest
        """,
        # minhash_lsh_clusters / simhash_fingerprints / simhash_near_pairs /
        # substring_pairs / doc_fingerprints / ann_topk_lsh / ann_topk_ivf /
        # emb_neardup_lsh: hash-function-defined or approximate-by-design
        # → rows-only checks (substring_pairs' verification quantity is
        # value-checked via substring_pairs_planted).
    }
