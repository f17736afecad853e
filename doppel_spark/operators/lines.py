"""Line-structure operators for web-text pipelines (C4 / Gopher style).

Three structural-repetition ops that sit between whole-document exact
dedup and MinHash near-dup in a training cut:

* :func:`line_dedup` — **global line-level exact dedup**: every
  non-first occurrence of a (trimmed) line across the whole corpus is
  dropped and documents are reassembled from their surviving lines —
  the classic boilerplate killer (nav bars, cookie banners, footers).
* :func:`paragraph_dedup` — the same op at **paragraph granularity**
  (the CCNet convention: units bounded by blank lines, single newlines
  stay inside their paragraph) — :func:`line_dedup` generalizes over
  the unit separator, this is the standard second instantiation.
* :func:`boilerplate_line_filter` — **document-frequency boilerplate
  cut**: lines appearing in ≥ ``min_df`` distinct documents are
  removed from EVERY document (including the first occurrence
  ``line_dedup`` would keep) — template chrome is noise wherever it
  appears, while unique content is never touched.
* :func:`dup_line_fraction_micros` / :func:`dup_line_char_fraction_micros`
  — **intra-document repetition signals** (fraction of repeated lines /
  of characters inside repeated lines), pure per-row Catalyst.
* :func:`top_ngram_mass` — **most-frequent word-n-gram mass** per
  document (count × gram chars, and its fraction of the document),
  the "fraction of characters in the most common n-gram" repetition
  filter, explode-based so it scales to arbitrarily long documents.

Reference tie: doppel groups whole files by content digest
(/root/reference/internal/finder/finder.go:114-143); web-text pipelines
apply the same digest-groupBy skeleton one level down, at line
granularity. The keep-first-global-occurrence semantics mirror
doppel's deterministic keep-canonical (min id) convention
(finder.go:116-121) applied to (doc, line-position) pairs.

Scale notes (100 TB):

* ``line_dedup`` elects winners by shuffling only
  ``(xxhash64(line), id, line_no)`` — ~24-byte rows — and ships the
  decision back as one ``(id, int array)`` row per document; line text
  itself never shuffles exploded, and full rows move at most once (the
  id-join, broadcast under AQE when the decision table fits). The
  64-bit line-hash election merges colliding lines (~2⁻⁶⁴ per
  distinct-line pair); acceptable for a boilerplate cut, and the
  oracle-side check groups by the line text itself so a collision
  would be *caught*, not silently blessed.
* ``top_ngram_mass`` shuffles ``(id, xxhash64(gram), gram_chars)``
  — never the gram text — then reduces to one row per document.
* The per-row signals never shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _text_col(text: Column | str) -> Column:
    return F.col(text) if isinstance(text, str) else text


def nonblank_lines(text: Column | str) -> Column:
    """Array of trimmed, non-blank lines of ``text`` (split on ``\\n``)."""
    t = _text_col(text)
    return F.filter(
        F.transform(F.split(t, "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )


#: paragraph separator: 2+ consecutive newlines (single newlines stay
#: INSIDE a paragraph) — RE2-compatible, DuckDB-mirrorable
PARAGRAPH_SEP = "\n{2,}"


def split_lines(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", sep: str = "\n") -> DataFrame:
    """Explode documents to (id, line_no, line) — trimmed, blanks dropped.

    ``line_no`` is the 0-based position in the ORIGINAL document (blank
    lines still advance it), so (id, line_no) is a stable line address
    for lineage and for deterministic winner election. ``sep`` is the
    unit boundary (regex): ``"\\n"`` for lines (default),
    :data:`PARAGRAPH_SEP` for paragraphs.
    """
    return (
        df.select(F.col(id_col),
                  F.posexplode(F.split(_text_col(text_col), sep))
                  .alias("line_no", "line"))
        .withColumn("line", F.trim("line"))
        .filter(F.col("line") != "")
    )


def line_dedup(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", sep: str = "\n",
               join_sep: str | None = None) -> DataFrame:
    """Corpus-wide line-level exact dedup, keep first global occurrence.

    A line survives iff its (trimmed) text has not appeared earlier in
    the corpus, "earlier" = smaller ``(id, line_no)`` — deterministic
    regardless of partitioning. Documents are reassembled from their
    surviving lines in original order; documents with zero surviving
    lines are dropped.

    Returns ``(id, text_clean, n_lines_kept, n_lines_dropped)``.

    Plan shape — line TEXT never shuffles at all: winner election is a
    groupBy over ``xxhash64(line)`` carrying only (hash, id, line_no);
    winners roll up to one ``(id, sorted int array of kept line_nos)``
    row per surviving document; that slim decision table joins back to
    the ORIGINAL rows on the id, and reassembly is per-row array
    expression work (index into the re-split text) — so the only
    full-row movement is the one id-join shuffle, which AQE replaces
    with a broadcast whenever the decision table fits.

    ``sep``/``join_sep`` pick the dedup unit: the defaults are lines;
    ``sep=PARAGRAPH_SEP, join_sep="\\n\\n"`` is paragraph granularity
    (the CCNet convention — see :func:`paragraph_dedup`). ``join_sep``
    defaults to ``sep`` (correct only when ``sep`` is a literal).
    """
    join_sep = sep if join_sep is None else join_sep
    lines = split_lines(df, id_col=id_col, text_col=text_col, sep=sep)
    keyed = lines.select(id_col, "line_no", F.xxhash64("line").alias("lk"))
    winners = keyed.groupBy("lk").agg(
        F.min(F.struct(id_col, "line_no")).alias("w"))
    keep_arrays = (
        winners.select(F.col(f"w.{id_col}").alias(id_col),
                       F.col("w.line_no").alias("line_no"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("line_no")).alias("_keep"))
    )
    return _reassemble_kept(df, keep_arrays, id_col, text_col,
                            sep=sep, join_sep=join_sep)


def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Corpus-wide PARAGRAPH-level exact dedup, keep first global
    occurrence — :func:`line_dedup` at the CCNet granularity: units
    are separated by blank lines (2+ newlines), single newlines stay
    inside their paragraph, reassembly joins with one blank line.
    Same slim-shuffle plan shape as the line op."""
    return line_dedup(df, id_col=id_col, text_col=text_col,
                      sep=PARAGRAPH_SEP, join_sep="\n\n")


def _reassemble_kept(df: DataFrame, keep_arrays: DataFrame,
                     id_col: str, text_col: str, sep: str = "\n",
                     join_sep: str = "\n") -> DataFrame:
    """Rebuild documents from a slim per-doc keep decision.

    ``keep_arrays`` holds one ``(id, _keep: sorted int array)`` row per
    surviving document, ``_keep`` indexing into the doc's ORIGINAL
    ``sep``-split (blank units counted). The join back to ``df`` is the
    only full-row shuffle of the line ops — AQE broadcasts the decision
    table whenever it fits — and the rebuild itself is per-row array
    expression work. Documents absent from ``keep_arrays`` (zero
    surviving lines) are dropped.
    """
    # project the trimmed unit array ONCE, then index it through an
    # attribute: with the transform lambda referencing the split/trim
    # expression directly, interpreted HOF evaluation re-split the whole
    # document per kept line (O(lines²)/doc — same per-element re-eval
    # as contamination.word_ngrams, same fix)
    units = df.withColumn(
        "_units", F.transform(F.split(_text_col(text_col), sep),
                              lambda x: F.trim(x)))
    trimmed = F.col("_units")
    n_total = F.size(F.filter(trimmed, lambda x: x != ""))
    kept_lines = F.transform(F.col("_keep"),
                             lambda i: F.element_at(trimmed, i + 1))
    return (
        units.join(keep_arrays, id_col)
        .select(
            F.col(id_col),
            F.array_join(kept_lines, join_sep).alias("text_clean"),
            F.size("_keep").cast("long").alias("n_lines_kept"),
            (n_total - F.size("_keep")).cast("long")
            .alias("n_lines_dropped"),
        )
    )


def boilerplate_line_filter(df: DataFrame, min_df: int = 3,
                            id_col: str = "doc_id",
                            text_col: str = "text", sep: str = "\n",
                            join_sep: str | None = None) -> DataFrame:
    """Remove EVERY occurrence of high-document-frequency lines.

    A (trimmed) line is boilerplate iff it appears in at least
    ``min_df`` DISTINCT documents — nav menus, cookie banners, footer
    legalese. Unlike :func:`line_dedup` (which keeps the first global
    occurrence), boilerplate is removed from ALL documents including
    the first: a line that common is template chrome, not content.
    Within-doc repetition alone never trips the threshold (document
    frequency counts each doc once), so a doc-specific refrain
    survives intact.

    Returns ``(id, text_clean, n_lines_kept, n_lines_dropped)``;
    documents whose every line is boilerplate are dropped.

    Plan shape — line TEXT never shuffles: the frequency pass
    aggregates ``(xxhash64(line), id)`` 16-byte rows
    (``count_distinct`` runs as Spark's two-level partial aggregate);
    the blocked-key set it yields is SMALL by construction (boilerplate
    is few distinct lines at high frequency), so the left-anti join
    against it broadcasts; survivors roll up to one ``(id, int array)``
    decision row per doc and full rows move only in the final id-join
    (:func:`_reassemble_kept`). The 64-bit line-hash key merges
    colliding lines (~2⁻⁶⁴ per distinct-line pair) exactly as in
    ``line_dedup`` — and as there, the contract oracle groups by the
    line text itself, so a collision is *caught*, not silently blessed.

    ``sep``/``join_sep`` pick the unit exactly as in :func:`line_dedup`
    — pass ``sep=PARAGRAPH_SEP, join_sep="\\n\\n"`` to cut boilerplate
    PARAGRAPHS. Note the line-mode reassembly joins with ``"\\n"``, so
    it flattens blank-line structure; a funnel that dedups at paragraph
    granularity downstream should run this cut at paragraph granularity
    too (jobs/curate_job.py does).
    """
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2, got {min_df}")
    join_sep = sep if join_sep is None else join_sep
    lines = split_lines(df, id_col=id_col, text_col=text_col, sep=sep)
    keyed = lines.select(id_col, "line_no", F.xxhash64("line").alias("lk"))
    blocked = (
        keyed.groupBy("lk")
        .agg(F.count_distinct(F.col(id_col)).alias("_ndocs"))
        .filter(F.col("_ndocs") >= min_df)
        .select("lk")
    )
    keep_arrays = (
        keyed.join(blocked, "lk", "left_anti")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("line_no")).alias("_keep"))
    )
    return _reassemble_kept(df, keep_arrays, id_col, text_col,
                            sep=sep, join_sep=join_sep)


def line_dedup_within_doc(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Intra-document line dedup: keep each (trimmed, non-blank) line's
    FIRST occurrence within its own document, drop later repeats.

    The within-doc counterpart of :func:`line_dedup` (which elects one
    winner per line across the whole corpus): a Dolma-style cleanup for
    documents that repeat their own boilerplate (headers re-inserted by
    pagination, duplicated paragraphs from bad extraction) without
    touching cross-document sharing. Documents are kept even when empty
    after the cut (``text_clean`` = '') — unlike the corpus-wide op,
    nothing here can orphan a document, so no rows are dropped.

    Returns ``(id, text_clean, n_lines_kept, n_lines_dropped)`` —
    the same shape as :func:`line_dedup`.

    Scale: pure per-row Catalyst (higher-order array expressions); ZERO
    shuffle, composes with scan pushdown. A line survives iff
    ``array_position(lines, line)`` (first 1-based occurrence) equals
    its own position — first occurrences keep document order for free.
    Quadratic in lines-per-document (array_position per line), which is
    bounded by document size, not corpus size.
    """
    # project the line array once and reference it as an attribute: the
    # filter lambda's ``array_position(lines, x)`` otherwise re-splits
    # the document per line under interpreted HOF evaluation (the
    # per-element re-eval fixed across this module in r6); the
    # array_position scan itself stays — that quadratic is the
    # algorithm, bounded by doc size, as documented above
    staged = df.withColumn("_lines", nonblank_lines(text_col))
    lines = F.col("_lines")
    kept = F.filter(
        lines, lambda x, i: F.array_position(lines, x) == i + F.lit(1))
    return staged.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text_clean"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        (F.size(lines) - F.size(kept)).cast("long")
        .alias("n_lines_dropped"),
    )


def dup_line_fraction_micros(text: Column | str) -> Column:
    """⌊10⁶ · (repeated non-blank lines / non-blank lines)⌋; 0 if none.

    "Repeated" counts every occurrence beyond a line's first within the
    SAME document. Integer micros so cross-engine comparison is exact.
    """
    lines = nonblank_lines(text)
    n = F.size(lines)
    d = F.size(F.array_distinct(lines))
    return (
        F.when(n == 0, F.lit(0))
        # long cast before the multiply: int32 × 1e6 overflows under
        # ANSI for ≥ 2148 repeated lines (ADVICE r5 pattern audit)
        .otherwise(F.floor((n - d).cast("long") * F.lit(1_000_000) / n))
        .cast("long")
        .alias("dup_line_frac_micros")
    )


def dup_line_char_fraction_micros(text: Column | str) -> Column:
    """⌊10⁶ · (chars inside repeated line occurrences / line chars)⌋.

    Character-weighted twin of :func:`dup_line_fraction_micros`:
    Σ len over all non-blank lines minus Σ len over distinct lines,
    as a fraction of the former. 0 for documents with no line chars.
    """
    lines = nonblank_lines(text)
    chars = F.aggregate(lines, F.lit(0).cast("long"),
                        lambda acc, x: acc + F.length(x))
    dchars = F.aggregate(F.array_distinct(lines), F.lit(0).cast("long"),
                         lambda acc, x: acc + F.length(x))
    return (
        F.when(chars == 0, F.lit(0))
        .otherwise(F.floor((chars - dchars) * F.lit(1_000_000) / chars))
        .cast("long")
        .alias("dup_char_frac_micros")
    )


def top_ngram_mass(df: DataFrame, n: int = 2, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Most-frequent word-n-gram mass per document.

    mass = max over n-grams of ``occurrences × gram chars`` (gram chars
    include the single joining spaces); the companion fraction is
    ``⌊10⁶ · mass / length(text)⌋``. Taking the max of the *product*
    (not "count of the most frequent gram") makes the statistic
    tie-break-free and monotone in both repetition count and gram size
    — the thresholdable form of the "fraction of characters in the most
    common n-gram" repetition filter.

    Documents with fewer than ``n`` tokens get mass 0. Returns
    ``(id, top_gram_mass, top_gram_frac_micros)`` — one row per input
    document.

    Plan shape: grams shuffle as ``(id, xxhash64(gram), gram_chars)``;
    the per-(id, gram) count and the per-id max are both map-side
    combinable; the final join back to the id set is id-only.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    t = _text_col(text_col)
    toks = F.array_remove(F.split(F.trim(t), r"\s+"), "")
    # let-bind the token array before the per-position gram lambda:
    # interpreted HOFs re-evaluate non-lambda subexpressions of their
    # body once per element, so an unbound ``slice(toks, …)`` re-split
    # the document per gram — O(tokens²)/doc (same fix, same argument
    # as contamination.word_ngrams)
    grams = F.element_at(
        F.transform(
            F.array(toks),
            lambda tk: F.when(
                F.size(tk) >= n,
                F.transform(F.sequence(F.lit(0), F.size(tk) - n),
                            lambda i: F.array_join(F.slice(tk, i + 1, n), " ")),
            ).otherwise(F.array().cast("array<string>")),
        ),
        1)
    g = (
        df.select(F.col(id_col), F.explode(grams).alias("gram"))
        .select(id_col, F.xxhash64("gram").alias("gk"),
                F.length("gram").alias("glen"))
    )
    per_doc = (
        g.groupBy(id_col, "gk")
        .agg(F.count("*").alias("cnt"), F.first("glen").alias("glen"))
        .groupBy(id_col)
        .agg(F.max(F.col("cnt") * F.col("glen")).alias("top_gram_mass"))
    )
    base = df.select(F.col(id_col), F.length(t).alias("_len"))
    return (
        base.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("top_gram_mass", F.lit(0)).cast("long")
            .alias("top_gram_mass"),
            F.when(F.col("_len") == 0, F.lit(0))
            .otherwise(F.floor(F.coalesce("top_gram_mass", F.lit(0))
                               * F.lit(1_000_000) / F.col("_len")))
            .cast("long")
            .alias("top_gram_frac_micros"),
        )
    )


#: gopher_quality_filter rule order — the reason reported is the FIRST
#: failing rule in this order (fixed so the oracle CASE ladder mirrors
#: it exactly); every threshold is integer tokens/hits/micros so the
#: cross-engine comparison is float-free.
GOPHER_RULES = ("too_short", "too_long", "dup_lines", "dup_chars",
                "low_stopword", "high_punct", "repetitive")


def gopher_quality_filter(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    min_tokens: int = 50, max_tokens: int = 100_000,
    max_dup_line_micros: int = 300_000,
    max_dup_char_micros: int = 200_000,
    min_stop_hits: int = 2,
    max_punct_micros: int = 100_000,
    min_distinct_micros: int = 300_000,
) -> DataFrame:
    """Gopher-style composite document filter — per-row rules, no model.

    One row per input doc: ``(id_col, keep, reason)`` where ``reason``
    is the first failing rule of :data:`GOPHER_RULES` (``'ok'`` when
    all pass) — the per-reason histogram is the curation dashboard a
    corpus cut wants, and ``keep = (reason = 'ok')``. Rules, in order:

    1. ``too_short`` / ``too_long`` — whitespace token count outside
       ``[min_tokens, max_tokens]``.
    2. ``dup_lines`` / ``dup_chars`` — intra-doc repeated-line
       fraction / char-weighted fraction above threshold.
    3. ``low_stopword`` — fewer than ``min_stop_hits`` tokens from the
       any-language stopword list (gibberish / non-text signal).
    4. ``high_punct`` — punctuation chars above ``max_punct_micros``
       of all chars.
    5. ``repetitive`` — distinct-token fraction below
       ``min_distinct_micros``.

    Scale shape: pure Catalyst per-row expressions over one text column
    — zero shuffle, composes with scan pushdown; at 100 TB this is a
    map-only pass exactly like ``quality_score_micros``. The top-n-gram mass
    rule (the one Gopher rule that needs an aggregation) is deliberately
    separate — compose with :func:`top_ngram_mass` when wanted.
    """
    # codegen'd regexp counts instead of interpreted HOF isin-filters —
    # same rewrite (and same whole-token boundary argument) as
    # functions/text.py; the micros numerators are cast to long before
    # the multiply (int32 × 1e6 ARITHMETIC_OVERFLOWs under ANSI for
    # counts ≥ 2148 — the ADVICE r5 pattern audit)
    from doppel_spark.functions.text import any_stopword_hits, tokens

    t = F.col(text_col)
    toks = tokens(t)
    n = F.regexp_count(t, F.lit(r"\S+"))
    stop_hits = any_stopword_hits(t)
    n_chars = F.length(t)
    n_punct = F.regexp_count(t, F.lit(r"[.,!?;:]"))
    punct_micros = (
        F.when(n_chars == 0, F.lit(0))
        .otherwise(F.floor(n_punct.cast("long") * F.lit(1_000_000) / n_chars))
        .cast("long"))
    distinct_micros = (
        F.when(n == 0, F.lit(1_000_000))
        .otherwise(F.floor(F.size(F.array_distinct(toks)).cast("long")
                           * F.lit(1_000_000) / n))
        .cast("long"))
    reason = (
        F.when(n < min_tokens, F.lit("too_short"))
        .when(n > max_tokens, F.lit("too_long"))
        .when(dup_line_fraction_micros(t) > max_dup_line_micros,
              F.lit("dup_lines"))
        .when(dup_line_char_fraction_micros(t) > max_dup_char_micros,
              F.lit("dup_chars"))
        .when(stop_hits < min_stop_hits, F.lit("low_stopword"))
        .when(punct_micros > max_punct_micros, F.lit("high_punct"))
        .when(distinct_micros < min_distinct_micros, F.lit("repetitive"))
        .otherwise(F.lit("ok"))
    )
    return df.select(
        F.col(id_col),
        (reason == "ok").alias("keep"),
        reason.alias("reason"),
    )
