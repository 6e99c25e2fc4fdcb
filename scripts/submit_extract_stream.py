#!/usr/bin/env python
"""Cluster job entrypoint for CONTINUOUS extraction (Structured Streaming).

Deploy:

    zip -r swissgeol_ocr_spark.zip swissgeol_ocr_spark
    spark-submit --py-files swissgeol_ocr_spark.zip \
        scripts/submit_extract_stream.py \
        --input  <spans table dir — new parquet files = new documents> \
        --output <output dir> \
        --checkpoint <checkpoint dir> \
        [--mode sink|batch]          # see below; default sink
        [--drain]                    # availableNow: process backlog, exit
        [--max-files-per-trigger N]  # micro-batch width lever: size it so
                                     # a trigger spans >= cluster cores of
                                     # input splits, or the kernel stage
                                     # under-fans (BENCH/STREAMING.md)
        [--aggressive] [--confidence-threshold 0.7]
        [--timeout-s N]              # with --drain: bound the run

Two modes, one trade:

* ``--mode sink`` (default): stateless mapInArrow kernel → built-in file
  sink. EXACTLY-ONCE output (restart with the same --checkpoint
  re-processes nothing — resume probe measured in BENCH/STREAMING.md).
  Limitation: no mega-doc page split — one above-cutoff document (>20k
  spans) serializes its whole trigger into a single task, the exact skew
  the batch pipeline's page-chunk subtree exists to break. Right choice
  when the feed is known sub-cutoff (the real corpus is ~99% there).
* ``--mode batch``: foreachBatch runs the FULL batch pipeline
  (extract_pipeline: the kernel plus page-split/reassemble for mega
  docs) per micro-batch and appends parquet.
  AT-LEAST-ONCE output: a crash between the append and the checkpoint
  commit replays one micro-batch on restart — dedup downstream on doc_id
  (the skip-existing anti-join, reference ocr/target.py:29-33) or accept
  duplicates. Right choice when the feed can contain mega documents.

The streaming twin of scripts/submit_extract.py; same Arrow kernel
(reference processes documents one by one, main.py:71).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--mode", choices=("sink", "batch"), default="sink")
    ap.add_argument(
        "--no-repartition",
        action="store_true",
        help="--mode batch only: skip the per-trigger hash(doc_id) "
        "exchange when the ingest writes well-spread files (>= cluster "
        "cores of input splits per trigger) — same steady-state lever as "
        "the batch job; output is bit-identical either way",
    )
    ap.add_argument("--drain", action="store_true")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--aggressive", action="store_true")
    ap.add_argument("--confidence-threshold", type=float, default=0.7)
    ap.add_argument("--timeout-s", type=int, default=None)
    args = ap.parse_args()
    if args.no_repartition and args.mode != "batch":
        ap.error("--no-repartition only applies to --mode batch "
                 "(the sink mode is stateless and never repartitions)")

    from swissgeol_ocr_spark.plans.config import ExtractConfig
    from swissgeol_ocr_spark.plans.pipeline import configure_spark
    from swissgeol_ocr_spark.streaming.pipeline import (
        extract_stream,
        full_pipeline_writer,
        read_spans_stream,
    )

    spark = configure_spark(
        SparkSession.builder.appName(f"swissgeol-extract-stream-{args.mode}")
    ).getOrCreate()

    config = ExtractConfig(
        confidence_threshold=args.confidence_threshold,
        use_aggressive_strategy=args.aggressive,
    )
    stream = read_spans_stream(spark, args.input, args.max_files_per_trigger)
    if args.mode == "sink":
        writer = (
            extract_stream(stream, config)
            .writeStream.format("parquet")
            .option("path", args.output)
            .option("checkpointLocation", args.checkpoint)
        )
    else:
        writer = full_pipeline_writer(
            stream,
            args.output,
            args.checkpoint,
            config,
            repartition=not args.no_repartition,
        )
    if args.drain:
        q = writer.trigger(availableNow=True).start()
        ok = q.awaitTermination(args.timeout_s) if args.timeout_s else (
            q.awaitTermination() or True
        )
        if not ok:
            q.stop()
            print("drain did not finish within --timeout-s", file=sys.stderr)
            sys.exit(2)
    else:
        q = writer.start()
        q.awaitTermination()
    spark.stop()


if __name__ == "__main__":
    main()
