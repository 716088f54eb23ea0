"""Print or dump the formatted physical plan of named queries.

Usage: python tools/plans.py [--out-dir DIR --suffix S] [query ...]

Without query names it covers the bench HEADLINE list (the PLANS.md audit).
Plans print to stdout under a header per query, or, with ``--out-dir``, go
to ``DIR/<query>_<S>.txt`` each (the before/after artifacts under plans/).
The scale factor is ``$SPARK_GRAFT_SF_DIR``, as for bench.py.

Each plan is normalized (see ``normalize``) so that two dumps of the same
plans, from two runs or two trees, compare equal with plain ``diff``.
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_IDS = re.compile(r"(#|plan_id=|RDD\[)(\d+)")
_CALL_SITE = re.compile(r"(RDD\[\d+\] at \S+) at \S+:\d+")
# a tempfile.mkdtemp dir: <temp dir>/<prefix><8 random characters>
_TEMP_DIR = re.compile(re.escape(tempfile.gettempdir()) + r"/([\w.-]+)[a-z0-9_]{8}(?=[/\],\s]|$)")


def normalize(plan: str) -> str:
    """Make one query's plan text independent of session state: attribute
    ids (``#<n>``), exchange ids (``plan_id=<n>``) and RDD ids
    (``RDD[<n>]``) are renumbered from 1, each kind in order of first
    appearance, so ids that are shared stay shared. An RDD's call site
    (``localCheckpoint at <file>:<line>``), which varies with the calling
    thread, becomes ``<call site>``, and the random suffix of a temp dir
    (a streaming query's sink) becomes ``XXXXXXXX``."""
    plan = _CALL_SITE.sub(r"\1 at <call site>", plan)
    plan = _TEMP_DIR.sub(lambda m: m.group(0)[:-8] + "XXXXXXXX", plan)
    ids: dict[str, dict[str, int]] = {}

    def renumber(m: re.Match) -> str:
        seen = ids.setdefault(m.group(1), {})
        return f"{m.group(1)}{seen.setdefault(m.group(2), len(seen) + 1)}"

    return _IDS.sub(renumber, plan)


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
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = normalize(buf.getvalue())
        if not args.out_dir:
            print(f"\n{'=' * 30} {name} {'=' * 30}\n{plan}", end="")
            continue
        path = os.path.join(args.out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
