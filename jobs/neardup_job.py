#!/usr/bin/env python3
"""spark-submit entrypoint: the full dedup pipeline as a batch job.

    spark-submit --py-files doppel_spark.zip jobs/neardup_job.py \
        --input /path/to/pages_parquet [--input more_segments ...] \
        --output /path/to/out --checkpoint /path/to/ckpt \
        [--mode exact|near|both] [--preset docs] [--min-size 1KB] \
        [--threshold 0.8] [--synth-docs N]

Build the zip with ``python -m zipfile -c doppel_spark.zip doppel_spark``
(or rely on the session factory, which ships the package automatically
when running outside spark-submit). Writes groups/clusters/pairs/
bucket_stats parquet tables + report.json under --output; ``pairs`` are
the verified near-dup pairs (exact duplicates are in groups/clusters).
--checkpoint makes every stage durable and resumable, same tables.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", action="append", default=[],
                   help="pages parquet path (repeatable for multiple segments)")
    p.add_argument("--synth-docs", type=int, default=0,
                   help="generate a synthetic corpus of N docs instead of --input")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--config-dir", default=None,
                   help="directory with config.{yaml,toml,json}; merged as "
                        "defaults < files < DOPPEL_SPARK_* env < CLI flags "
                        "(~ doppel's provider chain, "
                        "/root/reference/internal/config/loader.go:103-160)")
    p.add_argument("--mode", choices=["exact", "near", "both"], default=None)
    p.add_argument("--preset", default=None, help="named filter preset")
    p.add_argument("--min-size", default=None, help="e.g. 1KB")
    p.add_argument("--max-size", default=None)
    p.add_argument("--langs", default=None, help="comma-separated allow-list")
    p.add_argument("--threshold", type=float, default=None)
    p.add_argument("--simhash", action="store_true", default=None)
    p.add_argument("--output-format", choices=["json", "pretty", "yaml"],
                   default=None,
                   help="stats report rendering (~ doppel's --output-format, "
                        "/root/reference/internal/output/formatter.go:27-94)")
    p.add_argument("--normalize", choices=["off", "nfc", "nfkc"],
                   default="off",
                   help="Unicode-normalize text (and strip C0 controls) "
                        "before any digest/shingle tier — encoding "
                        "variants of the same page otherwise split groups")
    return p.parse_args(argv)


def _cli_layer(args: argparse.Namespace) -> dict[str, dict]:
    """Sectioned overlay carrying ONLY the flags the user actually passed."""
    filt = {k: v for k, v in {
        "min_size": args.min_size, "max_size": args.max_size,
        "langs": args.langs,
    }.items() if v is not None}
    near = {} if args.threshold is None else {"jaccard_threshold": args.threshold}
    job = {k: v for k, v in {
        "mode": args.mode, "preset": args.preset,
        "output_format": args.output_format, "simhash": args.simhash,
    }.items() if v is not None}
    return {"filter": filt, "neardup": near, "job": job}


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    from doppel_spark.config_loader import load_job_config
    from doppel_spark.operators.exact import exact_dup_pipeline
    from doppel_spark.operators.neardup import near_dup_pipeline
    from doppel_spark.report import build_report, render, write_tables
    from doppel_spark.session import get_spark, ship_package
    from doppel_spark.sources import read_pages

    # under spark-submit a session already exists; standalone we build one
    active = SparkSession.getActiveSession()
    spark = active if active is not None else get_spark(app_name="doppel_neardup_job")
    ship_package(spark)

    if args.synth_docs:
        from doppel_spark.corpus import synth_pages
        pages = synth_pages(spark, args.synth_docs)
        errors = None
    else:
        if not args.input:
            raise SystemExit("need --input or --synth-docs")
        src = read_pages(spark, args.input)
        pages, errors = src.pages, src.errors

    cfg = load_job_config(config_dir=args.config_dir, cli=_cli_layer(args))
    fc = cfg.filter
    from pyspark.sql import functions as F

    if args.normalize != "off":
        from doppel_spark.functions.normalize import (
            strip_control_chars, unicode_normalize)
        pages = pages.withColumn(
            "text", unicode_normalize(strip_control_chars("text"),
                                      form=args.normalize.upper()))

    pages = pages.filter(fc.keep_predicate(size_col=F.length("text"),
                                           source_col=None, lang_col="lang"))
    # normalization changes the content every digest sees, so it keys
    # the checkpoint config; the 'off' shape is kept byte-identical to
    # older runs so their checkpoints stay resumable
    _fc_key = repr(fc) if args.normalize == "off" \
        else repr((fc, args.normalize))

    t0 = time.time()
    tables = {}
    report_stats = {}
    report = None
    if cfg.mode in ("exact", "both"):
        if args.checkpoint:
            from doppel_spark.checkpoint import CheckpointStore, run_exact_dedup_checkpointed
            store = CheckpointStore(spark, os.path.join(args.checkpoint, "exact"),
                                    run_config=_fc_key)
            staged = run_exact_dedup_checkpointed(store, pages, size_col=None)
            tables["groups"] = staged["groups"]
        else:
            res = exact_dup_pipeline(pages, size_col=None)
            tables["groups"] = res.groups
            report = build_report(res, duration_s=time.time() - t0)
            report_stats = report.stats
    if cfg.mode in ("near", "both"):
        ncfg = cfg.neardup
        mat = None
        if args.checkpoint:
            from doppel_spark.checkpoint import CheckpointStore
            from doppel_spark.operators.stage import StageMaterializer
            # --simhash keys the store: the sigs stage carries SimHash
            nstore = CheckpointStore(spark, os.path.join(args.checkpoint, "near"),
                                     run_config=(_fc_key, repr(ncfg), cfg.simhash))
            mat = StageMaterializer.for_input(pages.select("url", "text"),
                                              prefix="neardup", store=nstore)
        ndr = near_dup_pipeline(pages, ncfg, use_simhash=cfg.simhash, mat=mat)
        tables["clusters"] = ndr.clusters
        # signatures hold only representatives: pairs whose url_b has
        # one are verified near-dups, the rest exact rep -> member edges
        reps = ndr.signatures.select(F.col("url").alias("_rep"))
        tables["pairs"] = ndr.pairs.join(reps, F.col("url_b") == F.col("_rep"),
                                         "left_semi")
        tables["bucket_stats"] = ndr.bucket_stats
    if errors is not None:
        tables["error_rows"] = errors

    write_tables(args.output, **tables)
    duration = time.time() - t0
    import doppel_spark
    summary = {
        "duration_s": round(duration, 3),
        "mode": cfg.mode,
        # where the package was imported from — under spark-submit
        # --py-files this is the zip (the deployment contract the
        # spark-submit e2e test asserts)
        "package_origin": getattr(doppel_spark, "__file__", None) or "",
        "tables": {k: f"{args.output}/{k}" for k in tables},
        "stats": {k: (int(v) if isinstance(v, int) else v)
                  for k, v in report_stats.items()},
    }
    os.makedirs(args.output, exist_ok=True)
    with open(os.path.join(args.output, "report.json"), "w") as f:
        json.dump(summary, f, indent=2)
    if report is not None:
        # route the stats report through the selected formatter and
        # persist it next to the machine-readable summary
        ext = {"json": "json", "pretty": "txt", "yaml": "yaml"}[cfg.output_format]
        rendered = render(report, cfg.output_format)
        with open(os.path.join(args.output, f"stats_report.{ext}"), "w") as f:
            f.write(rendered)
        print(rendered)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
