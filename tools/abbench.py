"""A/B measurement harness: warmed in-session medians per query.

The host shows bursty multi-second noise (see OPTIMIZATION_r15.md),
so single cold-JVM bench totals are unusable for small-delta A/B
decisions.  This tool builds the exact bench session (bench.build_session),
runs the bench warmup, then times each selected query REPS times with
the noop sink and prints median/min/max.  Not part of the driver
contract; bench.py remains the contract harness.

Usage: python tools/abbench.py [reps] [query1,query2,...] [sf_dir]

Like bench.py, it reads the core count from $SPARK_GRAFT_CPUS (default:
all cores) and warms up on $SPARK_GRAFT_WARMUP_DIR, else on the sf0.001
sibling of sf_dir; the warm-up is skipped when that directory is absent
or is sf_dir itself.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_session
from rental_engine import QUERIES


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    names = sys.argv[2].split(",") if len(sys.argv) > 2 and sys.argv[2] != "all" \
        else list(QUERIES)
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())

    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # same warmup as bench.py: one untimed pass per query at the
    # smallest SF so JIT/class-init is not charged to the first rep
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR",
                              os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001"))
    if os.path.isdir(warm_dir) and os.path.realpath(warm_dir) != os.path.realpath(sf_dir):
        for name in names:
            QUERIES[name](spark, warm_dir).write.format("noop").mode("overwrite").save()

    out = {}
    for name in names:
        ts = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"ab: {name}")
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        out[name] = {"median": round(statistics.median(ts), 3),
                     "min": round(min(ts), 3), "max": round(max(ts), 3),
                     "all": [round(t, 3) for t in ts]}
        print(f"{name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
