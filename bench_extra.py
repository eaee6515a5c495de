#!/usr/bin/env python3
"""Per-query isolation bench (guide §1.4): times any subset of registry
queries with the noop sink in one session.  NOT the driver bench —
``bench.py`` stays frozen; this exists for optimization iteration and
its numbers are cited in OPTIMIZATION_r07.md.

Usage:
  python bench_extra.py [--sf DIR] [--passes N] [query ...]

``WARMUP_PASSES`` untimed warm-up passes run every selected query
first (JIT, Python workers, parquet footers), then ``--passes`` timed
passes.  Prints one JSON line: {"sf":..., "queries": {name: best_sec},
"samples": {...}}; ``queries`` and ``samples`` come from the timed
passes only.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# untimed passes over every selected query before the timed ones: after
# one, timed pass 1 was still the slowest in most (session, query) cells
WARMUP_PASSES = 2

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "top3_orders_per_customer",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "simhash",
    "ann_bruteforce_topk",
    "lang_id",
    "dedup_exact",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args()

    from swift_readability_spark.operators import registry
    from swift_readability_spark.pipeline.session import build_session

    reg = registry()
    names = args.queries or HEADLINE
    spark = build_session(
        app_name="bench-extra", master=f"local[{args.cpus}]", shuffle_partitions=args.cpus
    )
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {n: [] for n in names}

    def run(name: str) -> float:
        builder, _ = reg[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        t0 = time.perf_counter()
        builder(spark, args.sf).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    try:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        for _w in range(WARMUP_PASSES):
            for name in names:
                run(name)  # warm-up: a cold run is not a sample
        for _p in range(args.passes):
            for name in names:
                w = run(name)
                samples[name].append(round(w, 3))
                if name not in timings or w < timings[name]:
                    timings[name] = w
    finally:
        spark.stop()
    out = {
        "sf": args.sf,
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "total": round(sum(timings.values()), 3),
        "samples": samples,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
