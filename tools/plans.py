"""Print or dump the formatted physical plan of named queries.

Usage: python tools/plans.py [--out-dir DIR --suffix S] [query ...]

Without query names it covers the bench HEADLINE list (the PLANS.md audit).
Plans print to stdout under a header per query, or, with ``--out-dir``, go
to ``DIR/<query>_<S>.txt`` each (the before/after artifacts under plans/).
The scale factor is ``$SPARK_GRAFT_SF_DIR``, as for bench.py.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import HEADLINE, SF_DIR

    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=HEADLINE)
    ap.add_argument("--out-dir", default=None)
    ap.add_argument("--suffix", default="plan")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from aws_vpc_flow_log_appender_spark.session import get_spark

    spark = get_spark("plans")
    qs = entry.queries()
    if args.out_dir:
        os.makedirs(args.out_dir, exist_ok=True)
    for name in args.queries:
        df = qs[name](spark, SF_DIR)
        if not args.out_dir:
            print(f"\n{'=' * 30} {name} {'=' * 30}")
            df.explain("formatted")
            continue
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(args.out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
