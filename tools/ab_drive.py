"""Drive interleaved A/B rounds of tools/ab_bench.py across two checkouts.

Usage: python tools/ab_drive.py <ref_root> <work_root> <q1,q2,...> [rounds]
Prints per-query min-over-all-trials for each side and the ratio, plus the
raw trials, so one JSON line adjudicates a change under host noise.
"""

from __future__ import annotations

import json
import os
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


def interleave(roots: dict[str, str], qlist: list[str], pairs: int,
               n_trials: int) -> dict[str, dict[str, list[float]]]:
    """Run ``pairs`` rounds of one ab_bench process per side (one checkout
    per process, so machine drift hits both sides alike); the side that runs
    first alternates from round to round. Returns side -> query -> trials."""
    acc: dict[str, dict[str, list[float]]] = {side: {q: [] for q in qlist} for side in roots}
    order = list(roots)
    for r in range(pairs):
        for side in order if r % 2 == 0 else order[::-1]:
            res = _run_side(roots[side], qlist, n_trials)
            for q in qlist:
                acc[side][q] += res.get(q, [])
            print(f"round {r} {side}: " + json.dumps(res), flush=True)
    return acc


def main() -> None:
    ref, work, qlist = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    acc = interleave({"ref": ref, "work": work}, qlist, rounds, 2)
    summary = {}
    for q in qlist:
        a, b = min(acc["ref"][q]), min(acc["work"][q])
        summary[q] = {"ref_min": a, "work_min": b,
                      "ratio": round(b / a, 3) if a else None}
    print("ABSUMMARY " + json.dumps(summary))


if __name__ == "__main__":
    main()
