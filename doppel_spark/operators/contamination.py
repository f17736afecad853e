"""Eval-set decontamination — word-n-gram overlap against a benchmark.

The standard training-data hygiene step (GPT-3-appendix style): any
training document sharing at least one word n-gram (n≈13) with an
evaluation benchmark is flagged (and usually dropped) so test answers
can't leak into the training cut. Re-expressed Spark-first:

* the EVAL side is small (benchmarks: 10³–10⁵ documents, ≤ millions of
  grams) — its distinct gram set is **broadcast**, so the 100-TB corpus
  side is a single map-side pass: explode grams per row, probe the
  broadcast table, count hits. Corpus text NEVER shuffles; the only
  exchange carries ``(id, gram)`` for the *hits only* (contamination is
  rare by construction, so this is a trickle).
* gram identity is the literal gram string by default — exact
  semantics, zero collision caveat, oracle-equal by construction. For
  very large eval sets pass ``hashed=True`` to broadcast 8-byte
  ``xxhash64`` keys instead (~10× smaller broadcast; a false flag needs
  a 64-bit collision between a corpus gram and an eval gram).
* tokenization is the engine-wide explicit ASCII-whitespace class
  (minhash._WS_RE — see that docstring for why not ``\\s``), with
  optional ``lowercase`` normalization (on by default, matching common
  decontamination practice).

Reference tie: doppel has no cross-corpus notion — this is part of the
web-scale operator family layered on its digest-groupBy skeleton
(/root/reference/internal/finder/finder.go:84-143), with the "does this
unit appear in the reference set" membership test replacing same-corpus
grouping.

Scale notes (100 TB): the corpus side is scan → per-row gram explode →
broadcast-hash-join probe → map-side-combinable count per id. No
corpus-side shuffle of text, no all-pairs anything; the eval broadcast
is the only memory pressure and is bounded by the benchmark size (use
``hashed=True`` past ~10⁷ grams).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from doppel_spark.operators.stage import StageMaterializer

#: the engine-wide six-byte ASCII-whitespace class (== minhash._WS_RE)
WS_CLASS = "[ \t\n\x0b\x0c\r]+"


def _text_col(text: Column | str) -> Column:
    return F.col(text) if isinstance(text, str) else text


#: complement of WS_CLASS — one match per word token (codegen'd count,
#: no token array / gram materialization)
_NONWS = "[^ \t\n\x0b\x0c\r]+"


def word_ngram_count(text: Column | str, n: int) -> Column:
    """``size(word_ngrams(text, n))`` computed arithmetically.

    A document with T tokens has exactly max(T − n + 1, 0) word
    n-grams (n ≥ 1), so the count needs only the token count — one
    codegen'd ``regexp_count`` — not the O(T·n)-char gram array the
    original ``size(word_ngrams(...))`` built and threw away (the r6
    baseline's ``decontamination_report`` spent about half its 60 s in
    that second gram materialization; lowercasing is count-neutral and
    skipped too). Guide §1.2: don't compute things you throw away.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    t = _text_col(text)
    n_toks = F.regexp_count(t, F.lit(_NONWS))
    return (F.when(n_toks >= n, n_toks - n + 1)
            .otherwise(F.lit(0)).cast("long"))


def word_ngrams(text: Column | str, n: int, lowercase: bool = True) -> Column:
    """Array of contiguous word n-grams of ``text`` (space-joined).

    Tokens are the non-empty pieces of the ASCII-whitespace split;
    documents with fewer than ``n`` tokens yield an empty array.

    The token array is LET-BOUND via a single-element ``array()``
    wrapper and an outer ``transform`` lambda before the per-position
    gram lambda runs. Interpreted higher-order functions re-evaluate
    every non-lambda subexpression of their lambda body once PER
    ELEMENT — with ``slice(toks, i+1, n)`` written directly, the full
    split+filter of the document re-ran for every gram position,
    i.e. O(tokens²) per document (the r6 baseline's 60 s
    ``decontamination_report``). Binding the array to a lambda
    variable makes the per-gram body O(n) reads of an already
    evaluated value; output values are unchanged.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    t = _text_col(text)
    if lowercase:
        t = F.lower(t)
    toks = F.array_remove(F.split(t, WS_CLASS), "")
    return F.element_at(
        F.transform(
            F.array(toks),
            lambda tk: F.when(
                F.size(tk) >= n,
                F.transform(F.sequence(F.lit(0), F.size(tk) - n),
                            lambda i: F.array_join(F.slice(tk, i + 1, n), " ")),
            ).otherwise(F.array().cast("array<string>")),
        ),
        1)


def eval_ngrams(eval_df: DataFrame, n: int, text_col: str = "text",
                lowercase: bool = True) -> DataFrame:
    """Distinct word n-grams of the eval corpus — one ``gram`` column.

    This is the broadcast side: distinct-reduce it once here (cheap,
    eval-sized) so the corpus-side join probes a deduplicated table.
    """
    return (
        eval_df.select(
            F.explode(word_ngrams(text_col, n, lowercase)).alias("gram"))
        .distinct()
    )


def contamination_report(corpus: DataFrame, eval_df: DataFrame,
                         n: int = 13, id_col: str = "doc_id",
                         text_col: str = "text", lowercase: bool = True,
                         hashed: bool = False) -> DataFrame:
    """Per-document eval-overlap stats.

    Returns one row per corpus document:
    ``(id, n_grams, n_hits, n_distinct_hits, is_contaminated)`` where
    ``n_grams`` counts the document's gram occurrences, ``n_hits`` the
    occurrences whose gram appears in the eval set, ``n_distinct_hits``
    the distinct overlapping grams, and ``is_contaminated`` =
    ``n_hits > 0``.

    ``eval_df`` may be raw eval documents (any frame with ``text_col``)
    or a precomputed :func:`eval_ngrams` frame (single ``gram`` column).
    """
    if eval_df.columns == ["gram"]:
        grams = eval_df
    else:
        grams = eval_ngrams(eval_df, n, text_col=text_col,
                            lowercase=lowercase)

    doc_grams = corpus.select(
        F.col(id_col),
        F.explode(word_ngrams(text_col, n, lowercase)).alias("gram"))

    if hashed:
        grams = grams.select(F.xxhash64("gram").alias("gk")).distinct()
        doc_grams = doc_grams.select(id_col,
                                     F.xxhash64("gram").alias("gram"))
        grams = grams.withColumnRenamed("gk", "gram")

    hits = (
        doc_grams.join(F.broadcast(grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"),
             F.count_distinct("gram").alias("n_distinct_hits"))
    )
    base = corpus.select(
        F.col(id_col),
        word_ngram_count(text_col, n).alias("n_grams"))
    return (
        base.join(hits, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce("n_distinct_hits", F.lit(0)).cast("long")
            .alias("n_distinct_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("is_contaminated"),
        )
    )


def fuzzy_contamination_pairs(
    corpus: DataFrame, eval_df: DataFrame, cfg=None,
    id_col: str = "doc_id", eval_id_col: str = "eval_id",
    text_col: str = "text", *, mat: StageMaterializer,
) -> DataFrame:
    """Near-duplicate contamination: (corpus id, eval id, jaccard_est)
    for every corpus document whose shingle-set Jaccard against an eval
    document is estimated ≥ ``cfg.jaccard_threshold − cfg.verify_margin``.

    The exact-n-gram test above misses paraphrase-level leakage (one
    token changed in a 13-gram window breaks every covering gram); this
    is the MinHash tier of the same hygiene step — the engine's
    near-dup machinery (signature stage, band keys, packed-signature
    agreement) pointed ACROSS tables instead of at a self-join.

    Plan shape (100 TB corpus × benchmark-sized eval set):

    * both sides run the zero-Python-object ``mapInArrow`` signature
      stage; the corpus side is cut once (it feeds banding AND verify);
    * candidate generation is ``corpus band keys ⋈ broadcast(eval band
      keys)`` — a map-side join, so THE CORPUS NEVER SHUFFLES: one scan
      emits the (id, eval_id) candidate trickle;
    * verification joins packed signatures onto candidates (corpus side
      pruned by semi-join first, eval side broadcast) and keeps
      JVM-side agreement ≥ threshold − margin. Corpus text never moves.

    Worst-case candidate fan-out is |eval docs sharing a band key| per
    corpus doc — bounded by the eval set, not the corpus. Shared
    boilerplate between corpus and eval inflates candidates but never
    output (verification drops sub-threshold pairs).

    ``mat`` — the caller's materializer, sized over both ``(id, text)``
    sides; it cuts the signed sides, and the caller frees it with
    ``mat.cleanup()`` once the pairs are consumed.

    Reference tie: same cross-set membership reading of doppel's digest
    groupBy as :func:`contamination_report`
    (/root/reference/internal/finder/finder.go:84-143), with MinHash
    agreement replacing gram equality.
    """
    from doppel_spark.config import NearDupConfig
    from doppel_spark.operators.lsh import _cross_pairs, _cut_signatures

    cfg = cfg or NearDupConfig()
    corp_sig, eval_sig = _cut_signatures(
        [corpus.select(F.col(id_col), F.col(text_col)),
         eval_df.select(F.col(eval_id_col), F.col(text_col))],
        cfg, text_col, mat=mat)
    return _cross_pairs(corp_sig, eval_sig, id_col, eval_id_col, cfg,
                        broadcast_right=True)


def fuzzy_decontaminate(
    corpus: DataFrame, eval_df: DataFrame, cfg=None,
    id_col: str = "doc_id", eval_id_col: str = "eval_id",
    text_col: str = "text", *, mat: StageMaterializer,
) -> DataFrame:
    """Corpus minus every document near-duplicating an eval document —
    the fuzzy twin of :func:`decontaminate`. Flagged ids (a trickle)
    anti-join back on the id; the corpus scans once. ``mat`` as in
    :func:`fuzzy_contamination_pairs`."""
    flagged = (
        fuzzy_contamination_pairs(
            corpus, eval_df, cfg=cfg, id_col=id_col,
            eval_id_col=eval_id_col, text_col=text_col, mat=mat)
        .select(id_col).distinct()
    )
    return corpus.join(flagged, id_col, "left_anti")


def decontaminate(corpus: DataFrame, eval_df: DataFrame, n: int = 13,
                  id_col: str = "doc_id", text_col: str = "text",
                  lowercase: bool = True, hashed: bool = False) -> DataFrame:
    """Corpus minus every document sharing ≥1 word n-gram with the eval
    set — the drop-on-any-overlap policy. Plan shape: the corpus scans
    once; contaminated ids (a trickle) anti-join back on the id."""
    if eval_df.columns == ["gram"]:
        grams = eval_df
    else:
        grams = eval_ngrams(eval_df, n, text_col=text_col,
                            lowercase=lowercase)
    doc_grams = corpus.select(
        F.col(id_col),
        F.explode(word_ngrams(text_col, n, lowercase)).alias("gram"))
    if hashed:
        grams = grams.select(F.xxhash64("gram").alias("gram")).distinct()
        doc_grams = doc_grams.select(id_col,
                                     F.xxhash64("gram").alias("gram"))
    bad_ids = (doc_grams.join(F.broadcast(grams), "gram")
               .select(id_col).distinct())
    return corpus.join(bad_ids, id_col, "left_anti")
