"""Interleaved A/B of registry entries between two checkouts.

Each pair runs side A and side B once, each in a fresh Python process
(a fresh JVM) that imports the package from its own checkout; the side
that goes first alternates from pair to pair, so drift on the machine
(thermal, page cache, neighbours) lands on both sides alike. Inside a
run every entry is built and sunk to the noop format once as warm-up,
then ``--reps`` times timed; a timed rep is the end-to-end time from
the registry call that builds the query to the last row reaching the
sink. The run reports each entry's median rep.

The summary gives, per entry, the median over pairs on each side, the
relative change B vs A, and in how many pairs B was faster.

Usage: python scripts/ab.py --a DIR --b DIR [--sf-dir DIR] [--pairs N]
       [--reps N] entry [entry ...]
--sf-dir defaults to io.DEFAULT_SF_DIR ($SPARK_GRAFT_SF_DIR, else the
sf0.1 test data).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def worker(checkout: str, sf_dir: str, reps: int, names: list[str]) -> None:
    """Time ``names`` in this process against ``checkout``'s package;
    print one JSON object entry -> median seconds."""
    sys.path.insert(0, checkout)
    import cassandra_sql_spark
    from cassandra_sql_spark.queries import REGISTRY
    from cassandra_sql_spark.session import get_spark

    assert cassandra_sql_spark.__file__.startswith(checkout)

    spark = get_spark("ab")
    out = {}
    for name in names:
        samples = []
        for rep in range(reps + 1):
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            if rep:  # rep 0 is the warm-up
                samples.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        out[name] = statistics.median(samples)
    print(json.dumps(out), flush=True)


def run_side(checkout: str, args) -> dict[str, float]:
    cmd = [
        sys.executable, os.path.abspath(__file__), "--worker", checkout,
        "--sf-dir", args.sf_dir, "--reps", str(args.reps), *args.entries,
    ]
    res = subprocess.run(
        cmd, cwd=checkout, capture_output=True, text=True, check=True
    )
    return json.loads(res.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("entries", nargs="+", help="registry names")
    ap.add_argument("--a", help="checkout of side A (the baseline)")
    ap.add_argument("--b", help="checkout of side B (the change)")
    ap.add_argument("--sf-dir")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--worker", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker:
        worker(args.worker, args.sf_dir, args.reps, args.entries)
        return
    if not (args.a and args.b):
        ap.error("--a and --b are required")
    if not args.sf_dir:
        # imported here, not at module level: a worker must import the
        # package from its own checkout only
        here = os.path.dirname(os.path.abspath(__file__))
        sys.path.insert(0, os.path.dirname(here))
        from cassandra_sql_spark.io import DEFAULT_SF_DIR

        args.sf_dir = DEFAULT_SF_DIR
    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    runs = {"A": [], "B": []}
    for i in range(args.pairs):
        for side in ("A", "B") if i % 2 == 0 else ("B", "A"):
            runs[side].append(run_side(sides[side], args))
        print(json.dumps({"pair": i, "A": runs["A"][-1], "B": runs["B"][-1]}),
              file=sys.stderr, flush=True)
    print(f"{'entry':40s} {'A med s':>9s} {'B med s':>9s} {'B vs A':>8s} "
          f"{'B wins':>7s}")
    for name in args.entries:
        a = [r[name] for r in runs["A"]]
        b = [r[name] for r in runs["B"]]
        ma, mb = statistics.median(a), statistics.median(b)
        wins = sum(y < x for x, y in zip(a, b))
        print(f"{name:40s} {ma:9.3f} {mb:9.3f} {(mb / ma - 1) * 100:+7.1f}% "
              f"{wins:>3d}/{len(a)}")


if __name__ == "__main__":
    main()
