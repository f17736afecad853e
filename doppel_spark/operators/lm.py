"""Unigram-LM quality scoring — CCNet-style perplexity bucketing.

CCNet (Wenzek et al., 2019, public) filters Common Crawl by language-model
perplexity and keeps the head/middle/tail terciles of the per-document
score distribution. The model there is a KenLM 5-gram; no LM runtime
exists in this environment, so this module implements the same *pipeline
shape* with a *self-trained unigram model* — corpus-global token
frequencies define ``p(token)``, a document's score is its mean token
negative-log-likelihood (cross-entropy), and bucket cutoffs are exact
disc-terciles of the score distribution. Every step is pure DataFrame
composition (zero Python UDFs) and deliberately expressible in ANSI SQL,
so the whole chain — training included — has a DuckDB oracle.

Reference tie: doppel's multimap chain groups by successively stronger
content keys (/root/reference/internal/finder/finder.go:84-143); the LM
table here is the same groupBy skeleton applied at token granularity
(token → count), then turned from an equality key into a probability.

Determinism across engines: log-probabilities are snapped to integer
micro-nats PER VOCABULARY ENTRY (``floor(-1e6 · ln(n/total))``) before
any per-document summation, so document scores are exact integer
arithmetic — engine-order-dependent float summation never happens. The
only float op is one ``ln`` per distinct token; a cross-engine ULP
disagreement flips the floor only when the fractional part of
``-1e6·ln(p)`` lands within ~2e-9 of an integer — negligible at any
realistic vocabulary size, and a flip would be *caught* by the oracle
hash-match, not silently blessed.

Scale notes (100 TB):

* **Training** (inside :func:`doc_xent`, on its own input): one
  groupBy over tokens with map-side partial aggregation — shuffle rows
  = distinct tokens per partition, not occurrences. The 1-row total joins back via an
  explicit ``broadcast``.
* **Scoring** (:func:`doc_xent`): occurrences are collapsed to
  ``(doc, token, count)`` FIRST (map-side combine on the (doc, token)
  groupBy), so the vocabulary join and the final per-document rollup
  both move one row per *distinct* token per document. The LM table
  joins on the token equi-key — AQE broadcasts it when the vocabulary
  fits, sort-merge otherwise; never a cartesian.
* **Tercile cutoffs** (:func:`tercile_thresholds`): the score
  distribution is reduced to a ``(score, count)`` histogram first;
  the cumulative window then runs over *distinct integer scores* —
  cardinality bounded by the score range (micro-nats of realistic
  cross-entropies span ~1e7 values), independent of corpus row count,
  so the single-partition window is safe at any scale.
* **Bucketing** (:func:`ccnet_buckets`): thresholds are a broadcast
  1-row cross-join; labeling is per-row CASE — zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from doppel_spark.functions.text import tokens

#: log-probabilities are snapped to integer micro-nats at this scale
LPM_SCALE = 1_000_000


def _per_doc_token_counts(df: DataFrame, id_col: str,
                          text_col: str) -> DataFrame:
    """``(id, token, c)`` — occurrences collapsed per (doc, token).

    The one tokenization pass everything downstream derives from: the
    LM's global counts are ``sum(c)`` over it, so the corpus is never
    exploded twice. The (doc, token) groupBy partial-aggregates
    map-side, so the shuffle moves distinct pairs, not occurrences.
    """
    return (df.select(F.col(id_col), F.explode(tokens(text_col))
                      .alias("token"))
            .groupBy(id_col, "token").agg(F.count("*").alias("c")))


def _lm_from_counts(per_tok: DataFrame) -> DataFrame:
    counts = per_tok.groupBy("token").agg(F.sum("c").alias("n"))
    total = counts.agg(F.sum("n").alias("_t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "token", "n",
        F.floor(F.lit(-float(LPM_SCALE))
                * F.log(F.col("n").cast("double")
                        / F.col("_t").cast("double")))
        .cast("long").alias("lpm"),
    )


def doc_xent(df: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Per-document unigram cross-entropy in integer micro-nats.

    Returns ``(id, n_tokens, sum_lpm, xent_micros)`` where
    ``xent_micros = floor(sum_lpm / n_tokens)`` — mean per-token
    negative log-likelihood under the unigram model trained on ``df``
    itself. Token-less documents are KEPT with ``n_tokens = 0``,
    ``sum_lpm = 0`` and a NULL score (they carry no evidence either
    way; downstream bucketing skips NULLs).
    """
    per_tok = _per_doc_token_counts(df, id_col, text_col)
    lm = _lm_from_counts(per_tok)
    per_doc = (per_tok.join(lm.select("token", "lpm"), "token")
               .groupBy(id_col)
               .agg(F.sum(F.col("c") * F.col("lpm")).alias("sum_lpm"),
                    F.sum("c").alias("n_tokens")))
    return (
        df.select(id_col).join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("sum_lpm", F.lit(0)).cast("long").alias("sum_lpm"),
            F.floor(F.col("sum_lpm") / F.col("n_tokens"))
            .cast("long").alias("xent_micros"),
        )
    )


def tercile_thresholds(scores: DataFrame,
                       score_col: str = "xent_micros") -> DataFrame:
    """Exact disc-tercile cutoffs of ``score_col`` as a 1-row frame.

    ``t1`` (resp. ``t2``) is the smallest score whose cumulative count
    reaches ``ceil(n/3)`` (resp. ``ceil(2n/3)``) over non-NULL scores —
    the "discrete quantile" convention, chosen over interpolating
    percentiles because it is integer-exact and trivially mirrored in
    SQL. The cumulative window runs over the (score → count) histogram,
    i.e. distinct integer scores only — see the module scale notes.
    """
    hist = (scores.filter(F.col(score_col).isNotNull())
            .groupBy(score_col).agg(F.count("*").alias("c")))
    w = (Window.orderBy(score_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.select(F.col(score_col).alias("x"),
                      F.sum("c").over(w).alias("cum"))
    total = hist.agg(F.sum("c").alias("_n"))
    j = cum.crossJoin(F.broadcast(total))
    k1 = F.expr("(_n + 2) div 3")
    k2 = F.expr("(2 * _n + 2) div 3")
    return j.agg(
        F.min(F.when(F.col("cum") >= k1, F.col("x"))).alias("t1"),
        F.min(F.when(F.col("cum") >= k2, F.col("x"))).alias("t2"),
    )


def bucket_label(score: Column | str, t1: Column, t2: Column) -> Column:
    """head / middle / tail by tercile cutoffs; NULL score → NULL."""
    x = F.col(score) if isinstance(score, str) else score
    return (
        F.when(x.isNull(), F.lit(None).cast("string"))
        .when(x <= t1, F.lit("head"))
        .when(x <= t2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket")
    )


def ccnet_buckets(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Score ``df`` and label every document head/middle/tail.

    Returns ``(id, n_tokens, xent_micros, bucket)``. Head = lowest
    cross-entropy (the model's most predictable documents — in CCNet's
    usage, the cleanest text). Thresholds join in as a broadcast 1-row
    frame; the labeling itself is per-row, zero shuffle.
    """
    scores = doc_xent(df, id_col=id_col, text_col=text_col)
    th = tercile_thresholds(scores)
    return (
        scores.crossJoin(F.broadcast(th))
        .select(F.col(id_col), "n_tokens", "xent_micros",
                bucket_label("xent_micros", F.col("t1"), F.col("t2")))
    )
