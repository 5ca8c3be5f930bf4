"""Capture .explain('formatted') for every declared query into
plans/<round_dir>/<query>_<tag>.txt (judge-checkable evidence).

Usage: python tools/capture_plans.py <tag> <sf_dir> <round_dir> [only,names]

Every argument but the query filter is required, so a bare call cannot
overwrite committed plans.  An absolute round_dir writes outside
plans/, e.g. to compare two checkouts without committing the copies.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_session
from rental_engine import QUERIES


def main() -> None:
    ap = argparse.ArgumentParser(description="capture formatted query plans")
    ap.add_argument("tag", help="file suffix, e.g. before or after")
    ap.add_argument("sf_dir", help="directory holding the <table>.parquet inputs")
    ap.add_argument("round_dir", help="output directory under plans/, or absolute")
    ap.add_argument("only", nargs="?", help="comma-separated query names")
    args = ap.parse_args()
    only = set(args.only.split(",")) if args.only else None
    # capture under the same session config the bench runs with
    spark = build_session(os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count()))
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", args.round_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in QUERIES.items():
        if only is not None and name not in only:
            continue
        df = fn(spark, args.sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(plan)
        print(f"captured {name}_{args.tag}")
    spark.stop()


if __name__ == "__main__":
    main()
