"""Interleaved A/B bench: time a comma-separated query list against ONE repo
checkout (path in argv[1]) and print a single `ABRESULT {json}` line with all
raw trials per query.

Usage: python tools/ab_bench.py <repo_root> <q1,q2,...> [n_trials]

The caller interleaves invocations of this script across two checkouts
(A B A B ...) so machine drift hits both sides equally; the comparison
number is the median over pairs of the per-pair ratio of minima
(ab_drive.pair_stats).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    root = os.path.abspath(sys.argv[1])
    qlist = sys.argv[2].split(",")
    n_trials = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sys.path.insert(0, root)
    os.chdir(root)

    from aws_vpc_flow_log_appender_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark("ab_bench")
    qs = entry.queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # warm at the smallest available sibling SF so hosts without the default
    # fixture layout still run; fall back to the trial dir itself
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    qs[qlist[0]](spark, warm_dir).write.format("noop").mode("overwrite").save()

    out: dict[str, list[float]] = {}
    for name in qlist:
        trials = []
        for _ in range(n_trials):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            trials.append(round(time.perf_counter() - t0, 3))
        out[name] = trials
    print("ABRESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
