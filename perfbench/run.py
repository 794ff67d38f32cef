"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_loops --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Per-op medians, tails, sample counts, check results and
loadavg go to standard error as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kickstarter_etl_pipeline_spark"


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; nothing to measure", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import harness

    if args.workload not in harness.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(harness.WORKLOADS)}", file=sys.stderr)
        return 2
    result, detail = harness.run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(detail), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
