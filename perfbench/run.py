"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones; the last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. The line
before it is a human summary with every figure of the run. Exits non-zero,
without a result, when the program under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("stream_stateful", "stream_stateless", "curation_batch")


def _import_program() -> None:
    """Import the package from this checkout, and only from it."""
    sys.path.insert(0, ROOT)
    try:
        import go_fish_spark
    except ImportError as e:
        sys.exit(f"perfbench: program not found in {ROOT}: {e}")
    if not os.path.abspath(go_fish_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: go_fish_spark resolved outside the checkout: {go_fish_spark.__file__}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _import_program()
    from perfbench import bench

    summary, result = bench.run(args.workload, args.seed, args.seconds, bool(args.trace))
    print("summary " + json.dumps(summary, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
