#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Prints a human-readable table of every
metric (median, sample count, unit) and the correctness notes, then, as
the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics named in BENCHMARK.json, ``--trace 1``
the per-layer ones.  Inputs are generated from ``--seed`` and cached
under ``.perfbench/cache``; traces land in ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def shutdown_jvm() -> None:
    """Stop the Py4J gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: never leave it running
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def become_subreaper() -> None:
    """Have processes orphaned below this one (Spark's Python worker
    daemon and its forks, once the JVM has gone) re-parented here rather
    than to init, so ``reap_children`` can wait for every one of them."""
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def reap_children(grace_s: float = 10.0) -> None:
    """Wait until this process has no child left: give each ``grace_s``
    to exit on its own, then SIGTERM, then SIGKILL, reaping as they go."""
    from perfbench.sparklog import children_by_parent

    start = time.monotonic()
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        waited = time.monotonic() - start
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for pid in children_by_parent().get(os.getpid(), ()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument(
        "--scale", default="full", choices=("full", "tiny"),
        help="input sizes; 'tiny' is for the smoke test",
    )
    args = ap.parse_args()
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    tmp = ROOT / ".perfbench" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    sys.path.insert(0, str(ROOT))
    try:
        from perfbench.workloads import Bench
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2

    become_subreaper()
    bench = Bench(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    try:
        result = bench.run()
    finally:
        try:
            shutdown_jvm()
        finally:
            reap_children()

    missing = [m["name"] for m in wanted if m["name"] not in result.metrics]
    if missing:
        print(f"perfbench: run produced no value for {missing}", file=sys.stderr)
        return 3
    print(f"# {args.workload} seed={args.seed} trace={args.trace}")
    for name, (value, unit, n) in sorted(result.metrics.items()):
        print(f"#   {name:40s} {value:14.6g} {unit:6s} n={n}")
    # not in BENCHMARK.json, where a metric must never read 0
    print(f"#   {'failed_frac':40s} {result.failed / result.attempted:14.6g} ratio  n={result.attempted}")
    for note in result.notes:
        print(f"# {note}")
    metrics = {
        m["name"]: {"value": result.metrics[m["name"]][0], "unit": m["unit"]} for m in wanted
    }
    print(
        json.dumps(
            {
                "correct": result.failed == 0,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
