"""Self-test of the benchmark: every workload at tiny size, untraced and
traced. Asserts that the last stdout line is the result object and that it
carries every metric named in BENCHMARK.json with its unit. Also checks that
a copy holding only BENCHMARK.json and this directory exits non-zero without
a result.

    python3 flowbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# run.py's sizes shrunk so each call takes well under a minute
TINY = ("import sys, run; run.BATCH_RECORDS = 2000; run.WARMUP_RECORDS = 200; "
        "run.WARM_JOBS = 1; run.WARM_PUTS = 1; run.PREP_ROUNDS = 1; "
        "run.LAYER_REPEATS = 1; sys.exit(run.main(sys.argv[1:]))")


def run_tiny(workload: str, trace: int) -> list[str]:
    env = dict(os.environ, PYTHONPATH=str(HERE))
    p = subprocess.run(
        [sys.executable, "-c", TINY, "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return p.stdout.strip().splitlines()


def check_result(spec: dict, workload: str, trace: int, lines: list[str]) -> None:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True, (workload, trace, lines[-40:])
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert result["failed"] == 0, (workload, trace, result["failed"])
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)
        if not trace:
            assert got["value"] > 0, (workload, m["name"], got)


def check_bare_copy() -> None:
    """Without the program's source the benchmark must fail, not report."""
    bare = ROOT / ".flowbench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run([sys.executable, f"{HERE.name}/run.py", "--workload", "flowlog_batch",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        assert p.returncode != 0, p.stdout
        assert '"metrics"' not in p.stdout, p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_bare_copy()
    print("ok bare copy exits non-zero", flush=True)
    for wl in spec["workloads"]:
        for trace in (0, 1):
            check_result(spec, wl["name"], trace, run_tiny(wl["name"], trace))
            print(f"ok {wl['name']} trace={trace}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
