"""Dump the formatted physical plan of registry queries.

Without ``--out`` it regenerates PLANS.md: the plans of the bench
headline set at the given sf_dir — committed evidence that the
scale-critical plan shapes (pushdown, pruning, broadcast dims, partial
aggs, no cartesians) are what SCALE.md claims. With ``--out DIR --tag
TAG`` it writes one ``DIR/<query>_<TAG>.txt`` per query instead, the
before/after record of a plan-shape change. Those files carry the ids
that differ between runs of unchanged code normalized (``plan_id=N``,
``#N`` for expression ids, ``RDD[N]``, ``$SF_DIR`` for the data
directory), so a plain diff of two dumps shows only real plan changes.

An entry whose construction or planning raises gets its error in place
of its plan; the dump goes on, and the script exits 1 at the end.

Usage: python scripts/dump_plans.py [--sf-dir DIR] [--out DIR --tag TAG]
       [query ...]
Queries default to the bench HEADLINE set; --sf-dir defaults to
io.DEFAULT_SF_DIR ($SPARK_GRAFT_SF_DIR, else the sf0.1 test data).
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE  # noqa: E402
from cassandra_sql_spark.io import DEFAULT_SF_DIR  # noqa: E402
from cassandra_sql_spark.queries import REGISTRY  # noqa: E402
from cassandra_sql_spark.session import get_spark  # noqa: E402


# ids that a fresh session numbers differently for the same plan
_RUN_IDS = (
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[N]"),
)


def normalize(plan: str, sf_dir: str) -> str:
    """``plan`` with its run-specific ids replaced by N and the data
    directory by ``$SF_DIR``."""
    for pattern, repl in _RUN_IDS:
        plan = pattern.sub(repl, plan)
    return plan.replace(os.path.abspath(sf_dir), "$SF_DIR")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", help="registry names")
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--out", help="directory for per-query plan files")
    ap.add_argument("--tag", help="file-name tag, required with --out")
    args = ap.parse_args()
    if args.out and not args.tag:
        ap.error("--out needs --tag")
    names = args.queries or list(HEADLINE)
    spark = get_spark("dump-plans")
    plans, failed = {}, []
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, args.sf_dir)
            plans[name] = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception:
            failed.append(name)
            plans[name] = f"ERROR\n{traceback.format_exc()}"
            print(f"{name}: failed", file=sys.stderr)
    if args.out:
        os.makedirs(args.out, exist_ok=True)
        for name, plan in plans.items():
            path = os.path.join(args.out, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(normalize(plan, args.sf_dir))
            print(f"wrote {path}")
        return _report(failed)
    out = [
        "# PLANS — formatted physical plans of the bench headline set",
        "",
        "Generated by `python scripts/dump_plans.py --sf-dir "
        f"{args.sf_dir}` (regenerate after plan-shape changes; "
        "tests/test_plans.py pins the properties, this file shows the "
        "full shapes).",
        "",
    ]
    for name, plan in plans.items():
        out += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    path = os.path.join(ROOT, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(plans)} plans)")
    return _report(failed)


def _report(failed: list[str]) -> int:
    if failed:
        print(f"{len(failed)} failed: {' '.join(failed)}", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
