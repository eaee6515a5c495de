#!/usr/bin/env python3
"""spark-submit entrypoint for the extraction job.

Usage:
  spark-submit --py-files swift_readability_spark.zip run_job.py \
      --input  <documents parquet/iceberg path> \
      --output <extracted output path> \
      --lineage <lineage path> \
      [--base-url http://fakehost/test/page.html] \
      [--partitions N] [--no-resume] [--streaming]

Build the zip with:  python -m zipfile -c swift_readability_spark.zip swift_readability_spark
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--base-url", default="http://fakehost/test/page.html")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="process via Structured Streaming Trigger.AvailableNow micro-batches",
    )
    ap.add_argument(
        "--pre-partitioned",
        action="store_true",
        help="trust the input's existing distribution (bucketed corpus): no shuffle",
    )
    ap.add_argument(
        "--input-format",
        choices=["parquet", "json", "csv", "orc"],
        default=None,
        help="input format (default: sniff from the path extension; "
        "directories of part files need this set explicitly)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from swift_readability_spark.pipeline.job import run_extraction

    spark = SparkSession.builder.appName("swift-readability-extract").getOrCreate()
    if args.streaming:
        from swift_readability_spark.pipeline.streaming import run_extraction_stream

        run_extraction_stream(
            spark,
            args.input,
            args.output,
            args.lineage,
            base_url=args.base_url,
            n_partitions=args.partitions,
        )
    else:
        from swift_readability_spark.pipeline.io import read_documents

        documents = read_documents(spark, args.input, fmt=args.input_format)
        run_id = run_extraction(
            spark,
            documents,
            args.output,
            args.lineage,
            base_url=args.base_url,
            n_partitions=args.partitions,
            run_id=args.run_id,
            resume=not args.no_resume,
            assume_pre_partitioned=args.pre_partitioned,
        )
        print(f"run_id={run_id}")
    spark.stop()


if __name__ == "__main__":
    main()
