#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 10 \
        --trace 0

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the run also measures untraced, then switches on Spark's event log and
the perf UDF profiler and reports the per-layer metrics. Every run's
full record is kept under perfbench/records/<code version>/.
``--smoke`` runs the smallest input sizes (used by perfbench/tests).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import session  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="smallest input sizes, one set-up, one pass")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not session.program_present():
        print(f"perfbench: the program sources are missing "
              f"({session.PROGRAM_DIR}); run from a full checkout",
              file=sys.stderr)
        return 2
    from perfbench import runner
    root = os.path.join(HERE, ".work")
    os.makedirs(root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=root)
    try:
        out = runner.run(args, work)
    finally:
        runner.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
