"""Benchmark entry point for the fruits_spark rollup engine.

    python3 perfbench/run.py --workload rollup_flagship --seed 1 \\
        --seconds 10 --trace 0 [--io-dir .perfbench_io]

Run from the root of a checkout.  Runs one seeded workload through the
engine's public API on ``local[n]`` (n = CPUs this process may use),
checks every output, and prints as its last stdout line one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it is the run's detail record (every
raw timing, host diagnostics, failures).  Exits 2 without a result when
the engine cannot be imported.  See perfbench/BENCHMARK.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--io-dir", default=".perfbench_io",
                    help="directory (on one filesystem) for every file "
                         "the run writes")
    args = ap.parse_args(argv)

    try:
        import fruits_spark.engine.session  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    from perfbench.harness import Run

    result, detail = Run(
        args.workload, args.seed, args.seconds, bool(args.trace),
        args.io_dir,
    ).execute()
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
