#!/usr/bin/env python3
"""Capture .explain('formatted') for registry queries into plans/<tag>/.

Usage: python scripts/capture_plans.py --tag r07 --suffix before [query ...]

Besides writing the plan files, prints one line per query:

    <query> MapInArrow=<n> Exchange=<n>

counted over the physical-plan nodes (the numbered ``(k) Name``
entries; ``Exchange`` is the shuffle node only, not Broadcast- or
ReusedExchange).  Comparing two trees' plan shapes is then one
``diff`` of the two runs' stdout.
"""

from __future__ import annotations

import argparse
import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

_NODE = re.compile(r"^\(\d+\) (\S+)", re.M)


def node_counts(plan: str) -> Counter:
    """Physical-plan node names of a formatted explain, counted."""
    return Counter(_NODE.findall(plan))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r07")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from swift_readability_spark.operators import registry
    from swift_readability_spark.pipeline.session import build_session

    reg = registry()
    names = args.queries or list(reg)
    outdir = Path(__file__).resolve().parent.parent / "plans" / args.tag
    outdir.mkdir(parents=True, exist_ok=True)
    spark = build_session(app_name="capture-plans", shuffle_partitions=8)
    try:
        for name in names:
            builder, _ = reg[name]
            df = builder(spark, args.sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            (outdir / f"{name}_{args.suffix}.txt").write_text(plan)
            n = node_counts(plan)
            print(f"{name} MapInArrow={n['MapInArrow']} Exchange={n['Exchange']}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
