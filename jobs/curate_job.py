#!/usr/bin/env python3
"""spark-submit entrypoint: the training-data curation funnel as one
resumable batch job.

    spark-submit --py-files doppel_spark.zip jobs/curate_job.py \
        --input /path/to/pages_parquet [--input more_segments ...] \
        [--warc-input /path/to/raw_archives] [--jsonl-input dump/] \
        --output /path/to/out --checkpoint /path/to/ckpt \
        [--seen-digests /path/to/accumulated_digests] \
        [--eval /path/to/eval_parquet] [--fuzzy-decontaminate] \
        [--synth-docs N] [--preset docs] [--min-size 1KB] [--langs en,de] \
        [--blocklist hosts.txt] [--block-url-patterns re1,re2] \
        [--min-host-rank-micros N] [--normalize {off,nfc,nfkc}] \
        [--boilerplate-min-df N] [--line-dedup-unit {line,paragraph}] \
        [--max-per-host K] [--token-budget B] [--shards N] \
        [--split-weights train=0.98,val=0.01,test=0.01] \
        [--decontaminate-ngram 13] [--skip-line-dedup] [--skip-quality] \
        [--verify-extraction {off,report,strict}]

Composes the operator family the contract queries exercise one stage at
a time (`training_cut_funnel`, `url_canonical_dups`, `gopher_filter`,
`decontaminated_ids`, `host_cap_sample`, `token_budget_cut`,
`shard_assign`) into the cut a training run actually consumes, in cost
order — each stage only ever sees the previous stage's survivors:

    (extraction byte-identity gate, optional)
    → filter → blocklist → low-host-rank domain cut → URL-canonical
    dedup → exact dedup → PII redaction → df-threshold boilerplate cut
    → corpus line dedup → Gopher quality filter → decontamination
    → per-host cap → hash splits → train token-budget cut
    → hash-ordered training shards (+ val/test parquet)

Every stage materializes through :class:`doppel_spark.checkpoint.
CheckpointStore` — config-keyed manifests with per-partition lineage
(row count by partition id), so a killed run resumes at the first
unpublished stage and a changed flag invalidates exactly the stages it
affects (all of them: the funnel is a pipeline, each stage's config is
the whole run's). `funnel_report.json` is the curation dashboard: per
stage rows in/out + wall seconds, the quality-filter per-reason
histogram, split sizes, and final token totals — the metrics half of
the north rule's "checkpoint per-partition lineage + metrics".

The reference analogue is the find-command pipeline (filter → size
groups → quick hash → full hash → report,
/root/reference/cmd/find.go:110-233); this job is the same
cheap-to-expensive staging discipline applied to a corpus cut.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", action="append", default=[],
                   help="pages parquet path (repeatable for multiple segments)")
    p.add_argument("--warc-input", action="append", default=[],
                   help="raw WARC archive root (file/dir/glob, repeatable): "
                        "stream-parse records, extract text from html, "
                        "lang-ID it, and feed the funnel — the full "
                        "crawl-to-cut path (doppel_spark/sources/warc.py)")
    p.add_argument("--jsonl-input", action="append", default=[],
                   help="JSONL page dump (repeatable): one JSON object per "
                        "line, html as base64; corrupt lines are skipped "
                        "via the source's error side-channel "
                        "(doppel_spark/sources/jsonl.py)")
    p.add_argument("--synth-docs", type=int, default=0,
                   help="generate a synthetic corpus of N docs instead of --input")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True,
                   help="stage-manifest root; rerunning resumes at the "
                        "first unpublished stage")
    p.add_argument("--config-dir", default=None)
    p.add_argument("--preset", default=None)
    p.add_argument("--min-size", default=None)
    p.add_argument("--max-size", default=None)
    p.add_argument("--langs", default=None)
    p.add_argument("--eval", action="append", default=[],
                   help="eval-set parquet (needs a `text` column); enables "
                        "exact n-gram decontamination (repeatable)")
    p.add_argument("--decontaminate-ngram", type=int, default=13)
    p.add_argument("--fuzzy-decontaminate", action="store_true",
                   help="after the exact n-gram cut, also drop near-"
                        "duplicates of eval docs (MinHash tier — catches "
                        "paraphrase-level leakage the exact grams miss)")
    p.add_argument("--blocklist", default=None,
                   help="host blocklist (subdomain-closed): a .txt file of "
                        "one registrable host per line, or a parquet with a "
                        "`host` column")
    p.add_argument("--block-url-patterns", default=None,
                   help="comma-separated regexes blocking lowercased URLs")
    p.add_argument("--boilerplate-min-df", type=int, default=0,
                   help="remove every line appearing in >= N distinct docs "
                        "(0 disables the document-frequency boilerplate cut)")
    p.add_argument("--normalize", choices=["off", "nfc", "nfkc"],
                   default="off",
                   help="Unicode-normalize text (and strip C0 controls) "
                        "right after the extraction gate, BEFORE any "
                        "digest/shingle tier — byte-different encodings "
                        "of identical meaning otherwise split dup groups")
    p.add_argument("--min-host-rank-micros", type=int, default=0,
                   help="drop docs whose host's link-graph PageRank "
                        "(integer micro-units of a total mass of 10^6 over "
                        "all linked hosts) falls below N; hosts absent from "
                        "the link graph are kept — no link evidence is not "
                        "spam evidence (0 disables; needs an html column)")
    p.add_argument("--host-rank-iterations", type=int, default=5)
    p.add_argument("--max-path-depth", type=int, default=0,
                   help="drop docs whose URL path has more than N "
                        "segments (pagination/calendar-trap heuristic; "
                        "0 disables)")
    p.add_argument("--max-path-digit-micros", type=int, default=0,
                   help="drop docs whose URL path is more than N/1e6 "
                        "digits by character (session-id/slug-spam "
                        "heuristic; 0 disables)")
    p.add_argument("--seen-digests", default=None,
                   help="parquet digest table accumulated from prior runs "
                        "(column `digest`): docs whose content digest "
                        "appears there are dropped before exact dedup — "
                        "the incremental-crawl mode. Every run writes its "
                        "own observed digests to <output>/new_digests; "
                        "union them into the table for the next run")
    p.add_argument("--max-per-host", type=int, default=0,
                   help="0 disables the per-host cap")
    p.add_argument("--token-budget", type=int, default=0,
                   help="0 disables the train-split token cut")
    p.add_argument("--shards", type=int, default=64)
    p.add_argument("--split-weights", default="train=0.98,val=0.01,test=0.01")
    p.add_argument("--split-seed", default="curate-split-v1")
    p.add_argument("--skip-line-dedup", action="store_true")
    p.add_argument("--line-dedup-unit", choices=["line", "paragraph"],
                   default="line",
                   help="corpus dedup granularity: 'line' (C4 style) or "
                        "'paragraph' (CCNet style — blank-line-bounded "
                        "units, single newlines stay inside their unit)")
    p.add_argument("--skip-quality", action="store_true")
    p.add_argument("--verify-extraction", choices=["off", "report", "strict"],
                   default="off",
                   help="re-extract text from the html column and check the "
                        "north-rule byte-identity invariant before the funnel "
                        "starts: 'report' routes divergent rows out and counts "
                        "them in funnel_report.json (one extra pass over the "
                        "input); 'strict' fails the job on the first divergent "
                        "row (in-plan assert, no extra pass)")
    return p.parse_args(argv)


def _parse_weights(spec: str) -> dict[str, float]:
    out = {}
    for part in spec.split(","):
        name, _, w = part.partition("=")
        out[name.strip()] = float(w)
    return out


def main(argv: list[str] | None = None) -> dict:
    args = parse_args(argv)
    from pyspark.sql import functions as F

    from doppel_spark.checkpoint import CheckpointStore
    from doppel_spark.config_loader import load_job_config
    from doppel_spark.functions.redact import email_count, ipv4_count, redact_pii
    from doppel_spark.functions.splits import assign_split, write_training_shards
    from doppel_spark.functions.text import token_count
    from doppel_spark.functions.urls import canonicalize_url
    from doppel_spark.operators.budget import token_budget_sample
    from doppel_spark.operators.dedup import exact_dedup
    from doppel_spark.operators.lines import gopher_quality_filter, line_dedup
    from doppel_spark.operators.quota import cap_per_host
    from doppel_spark.operators.stage import StageMaterializer
    from doppel_spark.session import get_spark, ship_package
    from doppel_spark.sources import read_pages

    active = SparkSession.getActiveSession()
    spark = active if active is not None else get_spark(app_name="doppel_curate_job")
    ship_package(spark)

    if args.synth_docs:
        from doppel_spark.corpus import synth_pages
        pages = synth_pages(spark, args.synth_docs)
    elif args.warc_input:
        # the full crawl-to-cut path: raw archives → stream-parse →
        # extract text from the html payload → lang-ID → funnel. The
        # extraction IS the text here, so the byte-identity gate is
        # satisfied by construction (the parquet path is where it bites).
        from doppel_spark.functions.extract import extracted_text
        from doppel_spark.functions.text import lang_id
        from doppel_spark.sources.warc import read_warc
        raw = read_warc(spark, args.warc_input).pages
        pages = raw.select(
            "url", "warc_ts", "html",
            extracted_text("html").alias("text"),
            lang_id(extracted_text("html")).alias("lang"))
    elif args.jsonl_input:
        from doppel_spark.sources.jsonl import read_pages_jsonl
        pages = read_pages_jsonl(spark, args.jsonl_input).pages
    else:
        if not args.input:
            raise SystemExit("need --input, --warc-input, --jsonl-input, "
                             "or --synth-docs")
        pages = read_pages(spark, args.input).pages
    # optional entry gate: the stored text must be what extraction over
    # the stored html yields, byte for byte (the north-rule per-row
    # invariant; doppel_spark/functions/extract.py)
    extract_mismatches = 0
    if args.verify_extraction != "off" and "html" in pages.columns:
        from doppel_spark.functions.extract import (
            assert_extraction_identity, extract_pages, split_extraction)
        ext = extract_pages(pages)
        if args.verify_extraction == "strict":
            pages = assert_extraction_identity(ext).drop("extracted")
        else:
            ok, bad = split_extraction(ext)
            extract_mismatches = bad.count()
            pages = ok.drop("extracted")

    # past the gate the funnel only needs html for the (optional)
    # link-graph domain rank — keep a pre-drop handle for that stage,
    # then drop it before the first materialize
    if args.min_host_rank_micros and "html" not in pages.columns:
        raise SystemExit("--min-host-rank-micros needs an html column "
                         "(outlinks are extracted from it)")
    pages_with_html = pages if args.min_host_rank_micros else None
    pages = pages.select("url", "warc_ts", "text", "lang")

    if args.normalize != "off":
        # normalize BEFORE any digest/shingle tier sees the text: the
        # stored text becomes the normalized form (the byte-identity
        # gate above checked extraction FIDELITY; this is a declared
        # transform after it — functions/normalize.py ordering note)
        from doppel_spark.functions.normalize import (
            strip_control_chars, unicode_normalize)
        pages = pages.withColumn(
            "text",
            unicode_normalize(strip_control_chars("text"),
                              form=args.normalize.upper()))

    cfg = load_job_config(config_dir=args.config_dir, cli={
        "filter": {k: v for k, v in {
            "min_size": args.min_size, "max_size": args.max_size,
            "langs": args.langs}.items() if v is not None},
        "job": {} if args.preset is None else {"preset": args.preset},
    })
    weights = _parse_weights(args.split_weights)
    run_cfg = (repr(cfg.filter), weights, args.split_seed,
               args.decontaminate_ngram, sorted(args.eval),
               args.max_per_host, args.token_budget, args.shards,
               args.skip_line_dedup, args.line_dedup_unit, args.skip_quality,
               args.verify_extraction, args.blocklist,
               args.block_url_patterns, args.boilerplate_min_df,
               args.min_host_rank_micros, args.host_rank_iterations,
               args.fuzzy_decontaminate, args.normalize,
               args.seen_digests, args.max_path_depth,
               args.max_path_digit_micros)
    store = CheckpointStore(spark, args.checkpoint, run_config=run_cfg)
    t0 = time.time()

    cur = store.run("s01_filtered", lambda: pages.filter(
        cfg.filter.keep_predicate(size_col=F.length("text"),
                                  source_col=None, lang_col="lang")))

    def url_canonical(df: DataFrame) -> DataFrame:
        # keep the earliest crawl of each canonical URL; only slim
        # (url, canon, ts) rows shuffle, full rows rejoin by semi-join
        slim = df.select("url", canonicalize_url("url").alias("_cu"), "warc_ts")
        keep = (slim.groupBy("_cu")
                .agg(F.min(F.struct("warc_ts", "url")).alias("w"))
                .select(F.col("w.url").alias("url")))
        return df.join(keep, "url", "left_semi")

    if args.max_path_depth or args.max_path_digit_micros:
        # URL-shape cut: reads only the url column, so it sits with the
        # other pre-content stages (functions/urls.py:url_signals)
        from doppel_spark.functions.urls import url_signals

        def url_shaped(df: DataFrame) -> DataFrame:
            sig = url_signals(df, url_col="url", id_col="url")
            keep = F.lit(True)
            if args.max_path_depth:
                keep &= F.col("path_depth") <= args.max_path_depth
            if args.max_path_digit_micros:
                keep &= (F.col("path_digit_micros")
                         <= args.max_path_digit_micros)
            return df.join(sig.filter(keep).select("url"),
                           "url", "left_semi")

        cur = store.run("s01a_url_shape", lambda: url_shaped(cur))

    block_reasons: dict[str, int] = {}
    if args.blocklist or args.block_url_patterns:
        from doppel_spark.operators.blocklist import url_blocklist_filter
        if args.blocklist is None:
            bl = spark.createDataFrame([], "host string")
        elif args.blocklist.endswith(".txt"):
            with open(args.blocklist) as fh:
                hosts = sorted({ln.strip() for ln in fh if ln.strip()})
            bl = spark.createDataFrame([(h,) for h in hosts], "host string")
        else:
            bl = spark.read.parquet(args.blocklist).select("host")
        patterns = ([p for p in args.block_url_patterns.split(",") if p]
                    if args.block_url_patterns else [])
        tags = store.run("s01b_block_reasons", lambda: url_blocklist_filter(
            cur, bl, path_patterns=patterns, url_col="url", id_col="url"))
        block_reasons = {r["reason"]: int(r["n"]) for r in
                         tags.groupBy("reason").agg(F.count(F.lit(1)).alias("n"))
                         .collect()}
        cur = store.run("s01c_blocklisted", lambda: cur.join(
            tags.filter("keep").select("url"), "url", "left_semi"))

    low_rank_hosts = 0
    if args.min_host_rank_micros:
        # domain-quality cut: PageRank over the FULL crawl's host link
        # graph (pre-funnel — the graph is crawl evidence, not survivor
        # evidence), then an anti-join against the small low-rank host
        # set. Hosts absent from the graph are kept: no link evidence
        # is not spam evidence. Still a url-only cut — text never moves.
        from doppel_spark.functions.links import host_edges
        from doppel_spark.functions.urls import host_of
        from doppel_spark.operators.graph import host_rank

        edges = host_edges(pages_with_html)
        mat = StageMaterializer.for_input(edges, prefix="rank")

        def low_hosts() -> DataFrame:
            ranks = host_rank(edges, weight="w",
                              iterations=args.host_rank_iterations, mat=mat)
            return (ranks
                    .filter(F.col("rank_micros")
                            < args.min_host_rank_micros)
                    .select("host"))

        try:
            low = store.run("s01d_low_rank_hosts", low_hosts)
        finally:
            mat.cleanup()  # the stage is re-read from parquet
        low_rank_hosts = low.count()
        cur = store.run("s01e_host_ranked", lambda: cur.join(
            F.broadcast(low), host_of(F.col("url")) == F.col("host"),
            "left_anti"))

    cur = store.run("s02_url_canonical", lambda: url_canonical(cur))

    if args.seen_digests:
        # incremental-crawl mode: content seen by a PRIOR run leaves the
        # funnel here — the cross-run analogue of exact dedup, keyed on
        # the same (post-normalization) content digest. Only 32-byte
        # digests join; full rows re-enter via the id semi-join.
        from doppel_spark.functions.digests import full_digest

        seen = (spark.read.parquet(args.seen_digests)
                .select("digest").distinct())

        def new_content(df: DataFrame) -> DataFrame:
            inc = df.select("url", full_digest("text").alias("digest"))
            new_ids = (inc.join(seen, "digest", "left_anti")
                       .select("url"))
            return df.join(new_ids, "url", "left_semi")

        cur = store.run("s02b_new_content", lambda: new_content(cur))

    cur = store.run("s03_exact_dedup",
                    lambda: exact_dedup(cur, id_col="url").drop("digest"))
    # every run publishes the digests it OBSERVED (post-cut survivors'
    # content) so the caller can union them into the accumulated table
    # for the next crawl; written even without --seen-digests so run #1
    # bootstraps the table
    from doppel_spark.functions.digests import full_digest as _fd
    (cur.select(_fd("text").alias("digest"))
     .filter(F.col("digest").isNotNull()).distinct()
     .write.mode("overwrite")
     .parquet(os.path.join(args.output, "new_digests")))
    cur = store.run("s04_redacted", lambda: cur.select(
        "url", "warc_ts", "lang", redact_pii("text").alias("text"),
        (email_count("text") + ipv4_count("text")).alias("pii_hits")))

    # boilerplate MUST precede line_dedup: the keep-first line dedup
    # collapses every cross-doc repeated line to one global occurrence,
    # so a df threshold computed after it can never fire — the df is
    # only meaningful on the original corpus line frequencies
    if args.boilerplate_min_df:
        from doppel_spark.operators.lines import (PARAGRAPH_SEP,
                                                  boilerplate_line_filter)

        def boiled(df: DataFrame) -> DataFrame:
            # the cut runs at the SAME unit as the downstream dedup:
            # line-mode reassembly flattens blank-line structure, which
            # would erase the paragraph boundaries paragraph-mode dedup
            # needs (boilerplate_line_filter docstring)
            unit = ({"sep": PARAGRAPH_SEP, "join_sep": "\n\n"}
                    if args.line_dedup_unit == "paragraph" else {})
            bp = boilerplate_line_filter(df, min_df=args.boilerplate_min_df,
                                         id_col="url", **unit)
            return (df.select("url", "warc_ts", "lang", "pii_hits")
                    .join(bp.select("url", "text_clean"), "url")
                    .withColumnRenamed("text_clean", "text"))
        cur = store.run("s04b_boilerplate", lambda: boiled(cur))

    if not args.skip_line_dedup:
        def lined(df: DataFrame) -> DataFrame:
            if args.line_dedup_unit == "paragraph":
                from doppel_spark.operators.lines import paragraph_dedup
                dd = paragraph_dedup(df, id_col="url")
            else:
                dd = line_dedup(df, id_col="url")
            return (df.select("url", "warc_ts", "lang", "pii_hits")
                    .join(dd, "url")
                    .withColumnRenamed("text_clean", "text"))
        cur = store.run("s05_line_dedup", lambda: lined(cur))

    reasons: dict[str, int] = {}
    if not args.skip_quality:
        gq = store.run("s06_quality_reasons",
                       lambda: gopher_quality_filter(cur, id_col="url"))
        reasons = {r["reason"]: int(r["n"]) for r in
                   gq.groupBy("reason").agg(F.count(F.lit(1)).alias("n"))
                   .collect()}
        cur = store.run("s07_quality_kept", lambda: cur.join(
            gq.filter("keep").select("url"), "url", "left_semi"))

    if args.eval:
        def decontaminated(df: DataFrame) -> DataFrame:
            from doppel_spark.operators.contamination import decontaminate
            eval_df = spark.read.parquet(*args.eval)
            return decontaminate(df, eval_df, n=args.decontaminate_ngram,
                                 id_col="url")
        cur = store.run("s08_decontaminated", lambda: decontaminated(cur))

        if args.fuzzy_decontaminate:
            # the MinHash tier of the same hygiene step: one changed
            # token in a paraphrased leak breaks every covering 13-gram
            # (the exact stage above misses it) but barely moves the
            # shingle-set Jaccard — near-dups of eval docs go too
            from doppel_spark.operators.contamination import (
                fuzzy_decontaminate)
            eval_df = (spark.read.parquet(*args.eval)
                       .withColumn("eval_id", F.monotonically_increasing_id()))
            mat = StageMaterializer.for_input(
                cur.select("url", "text"), eval_df.select("eval_id", "text"),
                prefix="fuzzycontam")
            try:
                cur = store.run("s08b_fuzzy_decontaminated",
                                lambda: fuzzy_decontaminate(
                                    cur, eval_df, id_col="url", mat=mat))
            finally:
                mat.cleanup()

    if args.max_per_host:
        cur = store.run("s09_host_capped",
                        lambda: cap_per_host(cur, args.max_per_host,
                                             url_col="url", id_col="url"))

    cur = store.run("s10_splits", lambda: cur.withColumn(
        "split", assign_split("url", weights, seed=args.split_seed)))
    split_counts = {r["split"]: int(r["n"]) for r in
                    cur.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
                    .collect()}

    os.makedirs(args.output, exist_ok=True)
    for name in weights:
        if name == "train":
            continue
        (cur.filter(F.col("split") == name).drop("split")
         .write.mode("overwrite").parquet(os.path.join(args.output, name)))

    train = cur.filter(F.col("split") == "train").drop("split")
    if args.token_budget:
        mat = StageMaterializer.for_input(train, prefix="tokbudget")
        try:
            train = store.run("s11_train_token_cut", lambda: token_budget_sample(
                train, args.token_budget, token_count("text"), id_col="url",
                mat=mat))
        finally:
            mat.cleanup()

    shards_path = os.path.join(args.output, "train_shards")
    write_training_shards(train, shards_path, args.shards, key_col="url")
    # a fully-cut corpus is a valid (if sad) outcome: the partitioned
    # write of 0 rows leaves no data files, so the read-what-was-
    # written totals below would die on schema inference — report
    # zeros and let the per-stage funnel rows tell the story instead
    if train.isEmpty():
        train_tokens, train_docs = 0, 0
    else:
        final = spark.read.parquet(shards_path)
        train_tokens, train_docs = final.select(
            F.sum(token_count("text")), F.count(F.lit(1))).first()

    summary = {
        "duration_s": round(time.time() - t0, 3),
        "stages": [{k: m[k] for k in ("stage", "rows", "duration_s")}
                   for m in store.metrics()],
        "quality_reasons": reasons,
        "block_reasons": block_reasons,
        "low_rank_hosts": low_rank_hosts,
        "split_counts": split_counts,
        "train_docs": int(train_docs or 0),
        "train_tokens": int(train_tokens or 0),
        "shards": args.shards,
        "tables": {"train_shards": shards_path,
                   **{n: os.path.join(args.output, n)
                      for n in weights if n != "train"}},
    }
    if args.verify_extraction != "off":
        summary["extract_mismatches"] = int(extract_mismatches)
    with open(os.path.join(args.output, "funnel_report.json"), "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main()
