#!/bin/sh
# Full local gate: unit/golden/streaming tests, oracle differential sweep,
# headline bench. Mirrors what the grading driver checks.
set -e
cd "$(dirname "$0")/.."
# package contract stays installable (VERDICT_r04 #8): editable install +
# import-from-outside-the-repo when the wheel toolchain is present; in
# network-less containers without `wheel` (pip's editable path needs
# bdist_wheel), fall back to staging a copy of the package on a clean
# sys.path — same contract checked either way: every module imports as an
# installed package would, no repo-relative dependencies, full registry.
if python -c "import wheel" 2>/dev/null; then
    pip install -q -e . --no-build-isolation
    SMOKE_DIR=/tmp
else
    echo "ci: no wheel toolchain; staging package copy for the import smoke"
    SMOKE_DIR=$(mktemp -d)
    cp -r aws_vpc_flow_log_appender_spark "$SMOKE_DIR/"
fi
(cd "$SMOKE_DIR" && python -c "
from aws_vpc_flow_log_appender_spark import ext, flagship, operators, sources
from aws_vpc_flow_log_appender_spark.streaming import queries as _sq
from aws_vpc_flow_log_appender_spark.operators.registry import QUERY_REGISTRY
assert len(QUERY_REGISTRY) >= 241, len(QUERY_REGISTRY)
print('package import smoke OK:', len(QUERY_REGISTRY), 'queries')
")
# doc-count drift gate (VERDICT r6 "Next round" #6): the README headline and
# the PARITY.md footer each state the registry size; both must equal
# len(ordered_registry()) so the "All N queries" claim can never go stale
python -c "
import re, sys
sys.path.insert(0, '.')
import __spark_entry__ as m
n = len(m.queries())
for path, pat in (
    ('README.md', r'All (\d+) queries'),
    ('PARITY.md', r'live registry \((\d+) queries'),
):
    text = open(path).read()
    found = re.search(pat, text)
    assert found, f'{path}: count marker not found'
    stated = int(found.group(1))
    assert stated == n, f'{path} states {stated} queries; registry has {n}'
print(f'doc-count gate OK: README/PARITY both state {n}')
"
python -m pytest tests/ -q
# the flagship benchmark's contract with the package (flatten_geo_dim,
# join_geo(dim_is_disjoint=), decorate_lines, stream_decorate): both
# workloads at tiny size, untraced and traced
python3 flowbench/selftest.py
python tools/verify_local.py
# the profiler and the plan dumper stay runnable: one small query each
SF_SMALL=$(python -c "import os, bench; print(os.path.join(os.path.dirname(bench.SF_DIR), 'sf0.001'))")
python tools/profiler.py flowlog_enrich --sf "$SF_SMALL" --out /tmp/ci_profile.json
python -c "
import json
r = json.load(open('/tmp/ci_profile.json'))['flowlog_enrich']
assert r['n_jobs'] > 0 and r['stages'], r
assert 0 < r['n_jobs_min'] <= r['n_jobs'] <= r['n_jobs_max'], r
print('profile OK:', r['n_jobs'], 'jobs (range', r['n_jobs_min'], '-',
      r['n_jobs_max'], 'over passes),', r['n_stages_run'], 'stages')
"
SPARK_GRAFT_SF_DIR="$SF_SMALL" python tools/plans.py flowlog_enrich > /tmp/ci_plans.txt
grep -q "Physical Plan" /tmp/ci_plans.txt
# COMMIT EVERY COMPLETE BENCH RUN (VERDICT r5: the best r5 run went
# uncaptured): the artifact now carries loadavg + raw trials, and the A/B
# gate below adjudicates any >1.25x per-query delta against the round-start
# checkout with interleaved processes (machine drift cancels out).
# no pipe here: POSIX sh has no pipefail, so `bench | tee` would mask a
# crashed bench behind tee's exit 0 and let the gate pass with no artifact
python bench.py > /tmp/ci_bench_line.txt
cat /tmp/ci_bench_line.txt
tail -n 1 /tmp/ci_bench_line.txt > /tmp/ci_bench.json
if [ -n "$SPARK_GRAFT_AB_REF" ] && [ -n "$SPARK_GRAFT_AB_REF_BENCH" ]; then
    python tools/ab_gate.py --bench /tmp/ci_bench.json \
        --ref-bench "$SPARK_GRAFT_AB_REF_BENCH" \
        --ref-commit "$SPARK_GRAFT_AB_REF" \
        --out "${SPARK_GRAFT_AB_OUT:-AB_local.json}"
else
    echo "ci: set SPARK_GRAFT_AB_REF (round-start sha) and"
    echo "    SPARK_GRAFT_AB_REF_BENCH (round-start bench json) to run the A/B gate"
fi
