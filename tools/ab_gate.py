"""A/B-stated perf gate (VERDICT r5 "Next round" #3/#8).

The r5 round showed a wall-clock artifact alone cannot adjudicate a
regression on a noisy shared host: the captured 20.18 s total was exonerated
only by the judge's own interleaved A/B. This gate produces that evidence by
default:

 1. compare a fresh bench artifact's per-query mins against a reference
    artifact (the round-start BENCH_r{N-1}.json);
 2. for every query whose min exceeds ``THRESHOLD`` (1.25x) the reference,
    run tools/ab_bench.py INTERLEAVED between HEAD and the round-start
    checkout (ab_drive.interleave: A B, B A, ..., separate processes) so
    machine drift hits both sides equally;
 3. write an AB JSON artifact with raw trials, each side's minimum per
    pair, the per-pair ratios and the verdict: a query is a REGRESSION only
    if the median per-pair ratio HEAD / round-start checkout is
    > THRESHOLD (ab_drive.pair_stats) — machine drift cancels within each
    pair, and one fast outlier trial cannot decide it.

Usage:
  python tools/ab_gate.py --bench BENCH_json --ref-bench BENCH_r05.json \
      --ref-commit <round-start-sha> [--out AB_r06.json] [--pairs 2]

Exit code 1 iff a confirmed (interleaved) regression remains.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

from ab_drive import interleave, pair_stats

THRESHOLD = 1.25

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_artifact(path: str) -> dict:
    with open(path) as f:
        data = json.load(f)
    # accept both the raw bench line and the driver's wrapped {"parsed": ...}
    if "parsed" in data:
        data = data["parsed"]
    return data


def _load_queries(path: str) -> dict[str, float]:
    return _load_artifact(path)["queries"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bench", required=True, help="fresh bench JSON (HEAD)")
    ap.add_argument("--ref-bench", required=True,
                    help="round-start bench JSON to compare against")
    ap.add_argument("--ref-commit", required=True,
                    help="round-start commit for the interleaved B side")
    ap.add_argument("--out", default=None, help="AB artifact path")
    ap.add_argument("--pairs", type=int, default=2,
                    help="interleaved process pairs per side")
    ap.add_argument("--trials", type=int, default=3,
                    help="trials per query per process")
    args = ap.parse_args()

    head_art = _load_artifact(args.bench)
    head_q = head_art["queries"]
    ref_q = _load_queries(args.ref_bench)
    suspects = sorted(
        n for n in head_q
        if n in ref_q and ref_q[n] > 0 and head_q[n] / ref_q[n] > THRESHOLD
    )
    # a query that regressed from WORKING to CRASHING (bench.py moves it into
    # "errors") or silently vanished from the artifact is the worst possible
    # regression — it must fail the gate loudly, not fall out of the ratio scan
    head_errors: dict[str, str] = head_art.get("errors") or {}
    broken = sorted(
        n for n in ref_q if n in head_errors or n not in head_q
    )
    result = {
        "threshold": THRESHOLD,
        "loadavg": list(os.getloadavg()),
        "suspects": {
            n: {"head": head_q[n], "ref_artifact": ref_q[n],
                "artifact_ratio": round(head_q[n] / ref_q[n], 3)}
            for n in suspects
        },
        "broken": {n: head_errors.get(n, "missing from bench artifact")
                   for n in broken},
        "interleaved": {},
        "confirmed_regressions": list(broken),
    }
    if broken:
        print("ab_gate: BROKEN at HEAD (present in reference bench): "
              + ", ".join(broken))
    if not suspects:
        print("ab_gate: no query exceeds "
              f"{THRESHOLD}x the reference artifact — no A/B needed")
    else:
        print(f"ab_gate: interleaving HEAD vs {args.ref_commit} for {suspects}")
        with tempfile.TemporaryDirectory(prefix="ab_ref_") as tmp:
            ref_root = os.path.join(tmp, "ref")
            subprocess.run(
                ["git", "worktree", "add", "--detach", ref_root,
                 args.ref_commit],
                cwd=REPO, check=True, capture_output=True,
            )
            try:
                acc = interleave({"head": REPO, "ref": ref_root}, suspects,
                                 args.pairs, args.trials)
            finally:
                subprocess.run(
                    ["git", "worktree", "remove", "--force", ref_root],
                    cwd=REPO, capture_output=True,
                )
        for n in suspects:
            stats = pair_stats(acc, "ref", "head", n)
            result["interleaved"][n] = {
                "head_trials": acc["head"][n], "ref_trials": acc["ref"][n], **stats,
            }
            ratio = stats["ratio"]
            if ratio is not None and ratio > THRESHOLD:
                result["confirmed_regressions"].append(n)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=2)
        print(f"ab_gate: wrote {args.out}")
    if result["confirmed_regressions"]:
        print("ab_gate: CONFIRMED REGRESSIONS: "
              + ", ".join(result["confirmed_regressions"]))
    else:
        print("ab_gate: clean")
    sys.exit(1 if result["confirmed_regressions"] else 0)


if __name__ == "__main__":
    main()
