#!/usr/bin/env python3
"""spark-submit entrypoint for the extraction job.

Usage:
  spark-submit [--master <url>] run_job.py \
      --input  <documents parquet/iceberg path> \
      --output <extracted output path> \
      --lineage <lineage path> \
      [--base-url URL] \
      [--partitions N] [--run-id ID] [--no-resume] [--streaming] \
      [--input-format parquet|json|csv|orc]

``--streaming`` reads a parquet file stream (any other
``--input-format`` is rejected) and names micro-batch ``k``'s run
``<run-id>-<k>`` (``stream-<k>`` without ``--run-id``).

The job runs in ``build_session``'s session under the launcher's master,
and the package ships itself to the executors (no ``--py-files``).
Without ``--partitions`` the resume-key domain is the one recorded in
the lineage, else the session's ``defaultParallelism``.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from swift_readability_spark.extract import DEFAULT_BASE_URL


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--base-url", default=DEFAULT_BASE_URL)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="process via Structured Streaming Trigger.AvailableNow micro-batches",
    )
    ap.add_argument(
        "--input-format",
        choices=["parquet", "json", "csv", "orc"],
        default=None,
        help="input format (default: sniff from the path extension; "
        "directories of part files need this set explicitly)",
    )
    args = ap.parse_args()
    if args.streaming and args.input_format not in (None, "parquet"):
        ap.error("--streaming reads parquet input only")

    from swift_readability_spark.pipeline.job import run_extraction
    from swift_readability_spark.pipeline.session import build_session

    spark = build_session(app_name="swift-readability-extract")
    if args.streaming:
        from swift_readability_spark.pipeline.streaming import run_extraction_stream

        run_id = args.run_id or "stream"
        run_extraction_stream(
            spark,
            args.input,
            args.output,
            args.lineage,
            base_url=args.base_url,
            n_partitions=args.partitions,
            run_id=run_id,
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
        )
    print(f"run_id={run_id}")
    spark.stop()


if __name__ == "__main__":
    main()
