"""spark-submit entry point for the extraction job (north rule: runs via
``spark-submit --py-files pdf_extractor_spark.zip pdf_extractor_spark/job.py``).

Replaces the reference CLI (reference main.py:160-904 ``extract``/``batch``):

    spark-submit --py-files pdf_extractor_spark.zip pdf_extractor_spark/job.py \
        --input /path/to/documents_parquet --output /path/to/extracted_table \
        [--partitions 64] [--no-resume] [--synth N] [--repair ROUNDS] \
        [--min-content-chars N] [--max-link-density F] \
        [--curate [--rates '{"en": 0.5}']] \
        [--refresh [--near-dup-threshold 0.5]]

``--curate``, ``--refresh`` and ``--repair`` are mutually exclusive modes, and
a mode's sub-flag (``--rates``, ``--band-index``) without its mode is an
error. ``--synth N`` generates the deterministic fixture corpus in-flight
instead of reading an input table (for smoke runs and benchmarks;
FIXTURES.md §1).
``--repair ROUNDS`` runs the V7 repair loop over committed ok=false rows
(reference main.py:321-337) instead of a fresh pass; the M4 context flags
override the boilerplate classifier thresholds for the run.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="PySpark main-content extraction job")
    ap.add_argument("--input", help="input parquet/table dir with (url, warc_ts, html, text, lang)")
    ap.add_argument("--output", required=True, help="output table dir (snapshot catalog)")
    ap.add_argument("--partitions", type=int, default=None, help="explicit UDF-stage partitions")
    ap.add_argument("--no-resume", action="store_true", help="reprocess everything")
    ap.add_argument("--synth", type=int, default=None, help="synthesize N fixture docs as input")
    ap.add_argument("--master", default=None, help="spark master (default: local[$SPARK_GRAFT_CPUS])")
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument(
        "--repair", type=int, default=None, metavar="ROUNDS",
        help="repair mode (V7): re-extract committed ok=false rows for up to "
        "ROUNDS rounds instead of running a fresh extraction pass",
    )
    mode.add_argument(
        "--refresh", action="store_true",
        help="incremental refresh mode: exact resume -> extract -> "
        "near-dup probe of the committed corpus -> commit survivors "
        "(continuous corpus maintenance; cost scales with the batch)",
    )
    mode.add_argument(
        "--curate", action="store_true",
        help="curation mode: gopher filter -> exact-dup keep-first -> "
        "deterministic sampling -> partitioned corpus write (input must "
        "be documents-shaped: doc_id, text, lang)",
    )
    ap.add_argument(
        "--near-dup-threshold", type=float, default=0.5,
        help="refresh mode: Jaccard threshold for dropping a new doc as a "
        "near-duplicate of a committed one",
    )
    ap.add_argument(
        "--band-index", action="store_true",
        help="refresh mode: maintain the corpus LSH band index as a "
        "bucketed table under <output>/_band_index — probed shuffle-free "
        "on the corpus side and appended per committed batch, instead of "
        "recomputing corpus signatures inline every refresh",
    )
    ap.add_argument(
        "--rates", default=None, metavar="JSON",
        help="curation per-stratum keep rates, e.g. '{\"en\": 0.5}'",
    )
    ap.add_argument(
        "--min-content-chars", type=int, default=None,
        help="M4 context override: content-block char threshold",
    )
    ap.add_argument(
        "--max-link-density", type=float, default=None,
        help="M4 context override: max anchor-chars/chars for content blocks",
    )
    args = ap.parse_args(argv)

    if not args.input and not args.synth:
        ap.error("one of --input or --synth is required")
    if args.band_index and not args.refresh:
        ap.error("--band-index requires --refresh")
    if args.rates is not None and not args.curate:
        ap.error("--rates requires --curate")

    from pdf_extractor_spark.extract.udfs import ExtractContext
    from pdf_extractor_spark.session import build_session
    from pdf_extractor_spark.pipeline import rerun_failed, run_extraction_job

    overrides = {
        "min_content_chars": args.min_content_chars,
        "max_link_density": args.max_link_density,
    }
    context = dataclasses.replace(
        ExtractContext(), **{k: v for k, v in overrides.items() if v is not None}
    )

    spark = build_session(app_name="extract-job", master=args.master)
    try:
        if args.curate:
            from pdf_extractor_spark.curate import run_curation_job

            if args.synth:
                from pdf_extractor_spark.fixtures.synth import synth_corpus

                doc_rows = [
                    (i, r["text"], r["lang"])
                    for i, r in enumerate(synth_corpus(args.synth))
                ]
                cdf = spark.createDataFrame(
                    doc_rows, "doc_id long, text string, lang string"
                )
            else:
                cdf = spark.read.parquet(args.input)
            rates = json.loads(args.rates) if args.rates else None
            metrics = run_curation_job(
                spark,
                cdf,
                args.output,
                rates=rates,
                n_partitions=args.partitions,
            )
            print(json.dumps(metrics))
            return 0
        if args.synth:
            from pdf_extractor_spark.fixtures.synth import synth_corpus

            rows = [
                (r["url"], r["warc_ts"].replace(tzinfo=None), r["html"], r["text"], r["lang"])
                for r in synth_corpus(args.synth)
            ]
            df = spark.createDataFrame(
                rows, "url string, warc_ts timestamp, html binary, text string, lang string"
            )
        else:
            df = spark.read.parquet(args.input)
        if args.refresh:
            from pdf_extractor_spark.pipeline import run_refresh_job

            metrics = run_refresh_job(
                spark,
                df,
                args.output,
                n_partitions=args.partitions,
                context=context,
                near_dup_threshold=args.near_dup_threshold,
                band_index_path=(
                    os.path.join(args.output, "_band_index")
                    if args.band_index
                    else None
                ),
            )
            print(json.dumps(metrics))
            return 0
        if args.repair is not None:
            rounds = rerun_failed(
                spark,
                df,
                args.output,
                max_rounds=args.repair,
                n_partitions=args.partitions,
                context=context,
            )
            print(json.dumps({"repair_rounds": rounds}))
            return 0
        metrics = run_extraction_job(
            spark,
            df,
            args.output,
            n_partitions=args.partitions,
            resume=not args.no_resume,
            context=context,
        )
        print(json.dumps(metrics))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
