"""Repository benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload vera_export --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. Workloads: ``vera_export`` and
``lake_queries`` (see perfbench/README.md). ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics and writes the spans
to ``.bench_build/perfbench/traces/``. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the run context, the tail percentile used, ``failed_frac`` and any problems.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = time.perf_counter()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["vera_export", "lake_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # Importing the harness imports the program; without it this fails
    # here, before anything is printed.
    from perfbench import harness

    result = harness.run(args.workload, args.seed, args.seconds, bool(args.trace))
    harness.log(f"done after {time.perf_counter() - T0:.2f}s")
    notes = result.pop("notes")
    print(json.dumps(notes, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
