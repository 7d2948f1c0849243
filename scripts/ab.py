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

With ``--perfbench WORKLOAD --seeds N-M`` a pair is instead one untraced
``perfbench/run.py`` run per side, on seed N, N+1, ... M in turn, each with
the benchmark of its own checkout. For every end-to-end metric of
``BENCHMARK.json`` the summary gives each side's median and quartiles,
the relative change, the pairs B won (ties count for neither), and
whether a gain can be claimed: B wins at least 9/10 of the pairs and the
medians differ by more than A's interquartile range. It also reports the
runs that were not correct or failed operations.

Usage: python scripts/ab.py --a DIR --b DIR [--sf-dir DIR] [--pairs N]
       [--reps N] entry [entry ...]
       python scripts/ab.py --a DIR --b DIR --perfbench WORKLOAD --seeds N-M
--sf-dir defaults to io.DEFAULT_SF_DIR ($SPARK_GRAFT_SF_DIR, else the
sf0.1 test data). A perfbench run lasts side A's BENCHMARK.json
run_seconds on both sides.
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


def perfbench_side(checkout: str, workload: str, seed: int,
                   seconds: int) -> dict:
    """One untraced perfbench run in ``checkout``: its last stdout line."""
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, check=True,
    )
    return json.loads(res.stdout.strip().splitlines()[-1])


def perfbench_ab(sides: dict[str, str], seeds: range, args) -> None:
    """Alternate perfbench runs between the sides; summarize per metric."""
    with open(os.path.join(sides["A"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    runs = {"A": [], "B": []}
    for i, seed in enumerate(seeds):
        for side in ("A", "B") if i % 2 == 0 else ("B", "A"):
            runs[side].append(
                perfbench_side(
                    sides[side], args.perfbench, seed, bench["run_seconds"]
                )
            )
        print(json.dumps({"pair": i, "seed": seed, **{
            k: {m: round(v["value"], 3) for m, v in r[-1]["metrics"].items()}
            for k, r in runs.items()
        }}), file=sys.stderr, flush=True)
    n = len(runs["A"])
    print(f"{args.perfbench}: {n} pairs, seeds {args.seeds}")
    for side, rs in runs.items():
        bad = [i for i, r in enumerate(rs) if not r["correct"] or r["failed"]]
        print(f"  {side}: {n - len(bad)}/{n} runs correct with no failed op"
              + (f" (not: pairs {bad})" if bad else ""))
    print(f"{'metric':14s} {'A median [q1, q3]':>26s} "
          f"{'B median [q1, q3]':>26s} {'B vs A':>8s} {'B wins':>7s}  "
          "gain (>= 9/10 wins, |diff| > A IQR)")
    for m in bench["end_to_end"]:
        name = m["name"]
        a = [r["metrics"][name]["value"] for r in runs["A"]]
        b = [r["metrics"][name]["value"] for r in runs["B"]]
        (a1, ma, a3), (b1, mb, b3) = (
            statistics.quantiles(v, n=4, method="inclusive") for v in (a, b)
        )
        lower = m["better"] == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        claim = wins * 10 >= 9 * n and abs(mb - ma) > a3 - a1 and (
            (mb < ma) if lower else (mb > ma))
        print(f"{name:14s} {ma:10.3f} [{a1:.3f}, {a3:.3f}] "
              f"{mb:10.3f} [{b1:.3f}, {b3:.3f}] "
              f"{(mb / ma - 1) * 100:+7.1f}% {wins:>3d}/{n}  "
              f"{'yes' if claim else 'no'}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("entries", nargs="*", help="registry names")
    ap.add_argument("--a", help="checkout of side A (the baseline)")
    ap.add_argument("--b", help="checkout of side B (the change)")
    ap.add_argument("--sf-dir")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--perfbench", metavar="WORKLOAD",
                    help="alternate perfbench runs of this workload")
    ap.add_argument("--seeds", metavar="N-M",
                    help="perfbench seeds, one pair per seed")
    ap.add_argument("--worker", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker:
        worker(args.worker, args.sf_dir, args.reps, args.entries)
        return
    if not (args.a and args.b):
        ap.error("--a and --b are required")
    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    if args.perfbench:
        first, _, last = (args.seeds or "").partition("-")
        if not (first.isdigit() and last.isdigit()) or args.entries:
            ap.error("--perfbench takes --seeds N-M and no entries")
        seeds = range(int(first), int(last) + 1)
        if len(seeds) < 2:
            ap.error("--seeds: quartiles need at least two pairs")
        perfbench_ab(sides, seeds, args)
        return
    if not args.entries:
        ap.error("name at least one registry entry")
    if not args.sf_dir:
        # imported here, not at module level: a worker must import the
        # package from its own checkout only
        here = os.path.dirname(os.path.abspath(__file__))
        sys.path.insert(0, os.path.dirname(here))
        from cassandra_sql_spark.io import DEFAULT_SF_DIR

        args.sf_dir = DEFAULT_SF_DIR
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
