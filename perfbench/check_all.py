#!/usr/bin/env python3
"""Run every registered gate once, family by family, and compare its
output with its DuckDB oracle, on the same session settings as the
timed runs.

    python3 perfbench/check_all.py --data <dir holding the ten sf0.1 tables>

Prints one line per gate (MATCH, or what differs) and exits 1 unless
every gate matches.  The timed workloads run only slices of the
families; this is the check that covers all of them.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

from oracle import Oracles
from run import BenchError, private_dir, start_session, stop_session
from workloads import FAMILIES, check_coverage


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--data", required=True, type=Path)
    args = ap.parse_args(argv)
    data = args.data.resolve()
    failed = []
    try:
        with private_dir(data) as run_dir:
            import __spark_entry__
            from smashed_spark.plans import registry

            queries = __spark_entry__.queries()
            check_coverage(queries)
            spark = start_session(run_dir, len(os.sched_getaffinity(0)))
            oracles = Oracles(str(data), registry)
            try:
                for family, gates in FAMILIES.items():
                    for name in gates:
                        try:
                            msg = oracles.check(name, queries[name](spark, str(data)))
                        except Exception as e:  # report and go on to the next gate
                            msg = f"{type(e).__name__}: {e}"
                        print(f"{family:10s} {name:26s} {msg or 'MATCH'}", flush=True)
                        if msg:
                            failed.append(name)
            finally:
                oracles.close()
                stop_session(spark)
    except BenchError as e:
        print(f"check_all: {e}", file=sys.stderr)
        return 1
    total = sum(len(g) for g in FAMILIES.values())
    print(f"{total - len(failed)}/{total} MATCH" + (f"; failed: {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
