"""Drive interleaved A/B rounds across two checkouts: queries through
tools/ab_bench.py, or the flowbench workloads through flowbench/run.py.

Usage:
    python tools/ab_drive.py <ref_root> <work_root> <q1,q2,...> [rounds]
    python tools/ab_drive.py --flowbench [--seed N] <ref_root> <work_root> <workload,...> [pairs]

Prints each round's raw figures, then one ABSUMMARY JSON line: per query (or
per ``<workload>:<end-to-end metric>``), the median over rounds of work/ref
(each side's minimum within the round) and the number of rounds each side
won. A per-pair statistic lets machine drift cancel within each pair, and
one fast outlier trial cannot decide it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from collections.abc import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "tools", "ab_bench.py")


def _run_side(root: str, qlist: list[str], n_trials: int) -> dict[str, list[float]]:
    p = subprocess.run(
        [sys.executable, BENCH, root, ",".join(qlist), str(n_trials)],
        capture_output=True, text=True, cwd=root, timeout=1800,
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(f"no ABRESULT from {root}: {p.stdout[-500:]} {p.stderr[-2000:]}")


def _run_flowbench(root: str, workloads: list[str], seed: int,
                   seconds: int) -> dict[str, list[float]]:
    """One ``flowbench/run.py --trace 0`` run per workload in checkout
    ``root``. Returns ``<workload>:<metric>`` -> [value] for each end-to-end
    metric; a run that reports a wrong output or a failed operation adds
    nothing, so its pair is left out."""
    res: dict[str, list[float]] = {}
    for w in workloads:
        cmd = [sys.executable, "flowbench/run.py", "--workload", w, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"]
        p = subprocess.run(cmd, capture_output=True, text=True, cwd=root, timeout=1800)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines or not lines[-1].startswith("{"):
            raise RuntimeError(f"flowbench {w} failed in {root}: {p.stdout[-500:]} "
                               f"{p.stderr[-2000:]}")
        out = json.loads(lines[-1])
        print(f"  {w} {root}: {lines[-1]}", flush=True)
        if out["correct"] and not out["failed"]:
            for m, v in out["metrics"].items():
                res[f"{w}:{m}"] = [v["value"]]
    return res


Rounds = dict[str, dict[str, list[list[float]]]]


def interleave(roots: dict[str, str], qlist: list[str], pairs: int, n_trials: int,
               run: Callable[[str], dict[str, list[float]]] | None = None) -> Rounds:
    """Run ``pairs`` rounds of one process per side (one checkout per
    process, so machine drift hits both sides alike); the side that runs
    first alternates from round to round. A discarded warm-up round of both
    sides goes first (without it, whichever side ran first in round 0 was
    slower on 17 of 18 queries of one A/B), and an odd ``pairs`` is rounded
    up to even so that each side runs first equally often. ``run(root)``
    measures one side, by default ``n_trials`` ab_bench trials of
    ``qlist``. Returns side -> query -> one list of trials per counted
    round."""
    if run is None:
        def run(root: str) -> dict[str, list[float]]:
            return _run_side(root, qlist, n_trials)
    acc: Rounds = {side: {q: [] for q in qlist} for side in roots}
    order = list(roots)
    for side in order:
        res = run(roots[side])
        print(f"warm-up {side}: " + json.dumps(res), flush=True)
    for r in range(pairs + pairs % 2):
        for side in order if r % 2 == 0 else order[::-1]:
            res = run(roots[side])
            for q in qlist:
                acc[side][q].append(res.get(q, []))
            print(f"round {r} {side}: " + json.dumps(res), flush=True)
    return acc


def pair_stats(acc: Rounds, base: str, new: str, q: str) -> dict:
    """Compare side ``new`` against side ``base`` on query ``q``. Within each
    round (pair) a side's figure is its minimum trial. Returns those minima,
    the per-pair ratios new/base, their median as ``ratio``, the number
    of pairs each side won (a tie counts for neither), each side's median
    and the spread between the quartiles of ``base``."""
    pairs = [(min(a), min(b)) for a, b in zip(acc[base][q], acc[new][q])
             if a and b and min(a) > 0]
    ratios = [b / a for a, b in pairs]
    quarts = statistics.quantiles([a for a, _ in pairs], n=4) if len(pairs) > 1 else None
    return {
        f"{base}_min": [a for a, _ in pairs],
        f"{new}_min": [b for _, b in pairs],
        "ratios": [round(r, 3) for r in ratios],
        "ratio": round(statistics.median(ratios), 3) if ratios else None,
        f"{base}_won": sum(a < b for a, b in pairs),
        f"{new}_won": sum(b < a for a, b in pairs),
        f"{base}_median": statistics.median(a for a, _ in pairs) if pairs else None,
        f"{new}_median": statistics.median(b for _, b in pairs) if pairs else None,
        f"{base}_iqr": quarts[2] - quarts[0] if quarts else None,
    }


def flowbench_ab(ref: str, work: str, workloads: list[str], pairs: int, seed: int) -> dict:
    """Interleaved flowbench runs of both checkouts at ``seed`` and the
    benchmark's run length; per-pair statistics of every end-to-end metric
    of every workload."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    keys = [f"{w}:{m['name']}" for w in workloads for m in spec["end_to_end"]]
    acc = interleave({"ref": ref, "work": work}, keys, pairs, 1,
                     run=lambda root: _run_flowbench(root, workloads, seed, spec["run_seconds"]))
    return {k: pair_stats(acc, "ref", "work", k) for k in keys}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("ref")
    ap.add_argument("work")
    ap.add_argument("names", help="comma-separated queries (workloads with --flowbench)")
    ap.add_argument("rounds", nargs="?", type=int, default=3)
    ap.add_argument("--flowbench", action="store_true",
                    help="run flowbench/run.py --trace 0 per checkout and workload")
    ap.add_argument("--seed", type=int, default=1, help="flowbench generator seed")
    args = ap.parse_args()
    names = args.names.split(",")
    if args.flowbench:
        summary = flowbench_ab(args.ref, args.work, names, args.rounds, args.seed)
    else:
        acc = interleave({"ref": args.ref, "work": args.work}, names, args.rounds, 2)
        summary = {q: pair_stats(acc, "ref", "work", q) for q in names}
    print("ABSUMMARY " + json.dumps(summary))


if __name__ == "__main__":
    main()
