"""Benchmark entry point: one workload, parquet in to parquet out.

    python3 perfbench/run.py --workload docs --seed 1 --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` makes the traced run that gives the per-layer metrics.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the
run record. The exit code is nonzero when any output check fails, and
when the engine is not next to this directory.
"""
from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="apollon_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        from perfbench.bench import run_workload
    except ImportError as exc:        # not a checkout of the engine
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    return run_workload(args.workload, args.seed, args.seconds,
                        bool(args.trace), ROOT)


if __name__ == "__main__":
    sys.exit(main())
