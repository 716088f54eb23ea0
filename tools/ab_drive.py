"""Drive interleaved A/B rounds of tools/ab_bench.py across two checkouts.

Usage: python tools/ab_drive.py <ref_root> <work_root> <q1,q2,...> [rounds]
Prints each round's raw trials, then one ABSUMMARY JSON line: per query, the
median over rounds of work/ref (each side's minimum within the round) and
the number of rounds each side won. A per-pair statistic lets machine drift
cancel within each pair, and one fast outlier trial cannot decide it.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ab_bench.py")


def _run_side(root: str, qlist: list[str], n_trials: int) -> dict[str, list[float]]:
    p = subprocess.run(
        [sys.executable, BENCH, root, ",".join(qlist), str(n_trials)],
        capture_output=True, text=True, cwd=root, timeout=1800,
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(f"no ABRESULT from {root}: {p.stdout[-500:]} {p.stderr[-2000:]}")


Rounds = dict[str, dict[str, list[list[float]]]]


def interleave(roots: dict[str, str], qlist: list[str], pairs: int,
               n_trials: int) -> Rounds:
    """Run ``pairs`` rounds of one ab_bench process per side (one checkout
    per process, so machine drift hits both sides alike); the side that runs
    first alternates from round to round. A discarded warm-up round of both
    sides goes first (without it, whichever side ran first in round 0 was
    slower on 17 of 18 queries of one A/B), and an odd ``pairs`` is rounded
    up to even so that each side runs first equally often. Returns side -> query -> one list of trials
    per counted round."""
    acc: Rounds = {side: {q: [] for q in qlist} for side in roots}
    order = list(roots)
    for side in order:
        res = _run_side(roots[side], qlist, n_trials)
        print(f"warm-up {side}: " + json.dumps(res), flush=True)
    for r in range(pairs + pairs % 2):
        for side in order if r % 2 == 0 else order[::-1]:
            res = _run_side(roots[side], qlist, n_trials)
            for q in qlist:
                acc[side][q].append(res.get(q, []))
            print(f"round {r} {side}: " + json.dumps(res), flush=True)
    return acc


def pair_stats(acc: Rounds, base: str, new: str, q: str) -> dict:
    """Compare side ``new`` against side ``base`` on query ``q``. Within each
    round (pair) a side's figure is its minimum trial. Returns those minima,
    the per-pair ratios new/base, their median as ``ratio``, and the number
    of pairs each side won (a tie counts for neither)."""
    pairs = [(min(a), min(b)) for a, b in zip(acc[base][q], acc[new][q])
             if a and b and min(a) > 0]
    ratios = [b / a for a, b in pairs]
    return {
        f"{base}_min": [a for a, _ in pairs],
        f"{new}_min": [b for _, b in pairs],
        "ratios": [round(r, 3) for r in ratios],
        "ratio": round(statistics.median(ratios), 3) if ratios else None,
        f"{base}_won": sum(a < b for a, b in pairs),
        f"{new}_won": sum(b < a for a, b in pairs),
    }


def main() -> None:
    ref, work, qlist = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    acc = interleave({"ref": ref, "work": work}, qlist, rounds, 2)
    summary = {q: pair_stats(acc, "ref", "work", q) for q in qlist}
    print("ABSUMMARY " + json.dumps(summary))


if __name__ == "__main__":
    main()
