"""Per-query profile read from the Spark event log.

For each named query (default: the bench HEADLINE list) the tool runs the
query once warm and then PASSES times measured, each run in its own job
group, on a session from ``session.get_spark``. It times each measured run's
driver-side construction (builder incl. eager checkpoints) and its
noop-sink execution. After ``spark.stop()`` it reads the finished event log
and reports, per query:

  - construct_s / execute_s, the minimum over the measured passes;
  - n_jobs_min / n_jobs_max, the job count's range over the passes (the
    count can differ between runs of the same query);
  - for the first measured pass:
    - jobs, stages (all, and those that ran) and tasks;
    - shuffle read/write bytes;
    - every job's duration, gap after the previous job and task count, in
      submission order, named by the SQL execution it served (its
      description: the action and call site, e.g. ``localCheckpoint at
      ...``) or, for a job outside any SQL execution, by its last stage's
      call site;
    - every stage that ran: executor run time, tasks, input/shuffle bytes
      and name, slowest first.

Usage: python tools/profiler.py [query ...] [--sf DIR] [--out F]
The JSON goes to F, or to stdout; one summary line per query goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GROUP = "profile:"  # job-group prefix of the measured runs: GROUP + query#pass
PASSES = 3


def _ms_to_s(ms: int) -> float:
    return round(ms / 1000.0, 3)


def _stage_totals() -> dict:
    return {"executor_run_ms": 0, "tasks": 0, "input_bytes": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}


def read_event_log(path: str) -> dict[str, dict]:
    """Jobs, stages and totals per query from one uncompressed event log.

    A job belongs to pass ``k`` of query ``q`` when its job group is
    ``GROUP + q#k`` (``GROUP + q`` is a single pass); jobs of other groups
    (warm-up runs, no group) are ignored. The job and stage figures are
    those of the query's first pass; ``n_jobs_min`` / ``n_jobs_max`` span
    all of its passes. Task counts follow
    the Spark UI: a job counts the tasks of its stages that had not already
    run in an earlier job. A query's stages are those its jobs list, skipped
    ones included; figures cover the stages that completed. A job is named
    by the description of its SQL execution, else by its last stage."""
    jobs: dict[int, dict] = {}
    sql_desc: dict[int, str] = {}  # SQL execution id -> description
    done: dict[int, str] = {}  # stage id -> name, for completed stages
    totals: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                if not group.startswith(GROUP):
                    continue
                infos = ev.get("Stage Infos", [])
                last = max(infos, key=lambda s: s["Stage ID"], default={})
                sql_id = props.get("spark.sql.execution.id")
                query, _, run = group[len(GROUP):].partition("#")
                jobs[ev["Job ID"]] = {
                    "query": query,
                    "run": run,
                    "sql_id": int(sql_id) if sql_id is not None else None,
                    "name": last.get("Stage Name", "")[:110],
                    "submit_ms": ev["Submission Time"],
                    "end_ms": None,
                    "n_tasks": sum(s["Number of Tasks"] for s in infos
                                   if "Completion Time" not in s),
                    "stage_ids": ev.get("Stage IDs", []),
                }
            elif kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
                sql_desc[int(ev["executionId"])] = ev.get("description", "")
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Failure Reason" not in info:
                    done[info["Stage ID"]] = info.get("Stage Name", "")
            elif kind == "SparkListenerTaskEnd":
                t = totals.setdefault(ev["Stage ID"], _stage_totals())
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                t["tasks"] += (ev.get("Task End Reason") or {}).get("Reason") == "Success"
                t["executor_run_ms"] += tm.get("Executor Run Time", 0)
                t["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                t["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)

    out: dict[str, dict] = {}
    for query in dict.fromkeys(j["query"] for j in jobs.values()):
        counts = Counter(j["run"] for j in jobs.values() if j["query"] == query)
        first = min(counts)
        mine = sorted(k for k, j in jobs.items()
                      if j["query"] == query and j["run"] == first)
        rows, prev_end = [], None
        for jid in mine:
            j = jobs[jid]
            end, submit = j["end_ms"], j["submit_ms"]
            rows.append({
                "jobId": jid, "sql_id": j["sql_id"],
                "name": sql_desc.get(j["sql_id"], j["name"])[:110],
                "dur_s": _ms_to_s(end - submit) if end is not None else None,
                "gap_s": _ms_to_s(submit - prev_end) if prev_end is not None else None,
                "n_tasks": j["n_tasks"],
            })
            prev_end = end if end is not None else prev_end
        sids = sorted({s for jid in mine for s in jobs[jid]["stage_ids"]})
        stages = [{"stageId": s, **totals.get(s, _stage_totals()), "name": done[s][:90]}
                  for s in sids if s in done]
        stages.sort(key=lambda s: (-s["executor_run_ms"], s["stageId"]))
        out[query] = {
            "n_jobs": len(rows),
            "n_jobs_min": min(counts.values()),
            "n_jobs_max": max(counts.values()),
            "n_stages": len(sids),
            "n_stages_run": len(stages),
            "n_tasks": sum(j["n_tasks"] for j in rows),
            "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "jobs": rows,
            "stages": stages,
        }
    return out


def main() -> None:
    from bench import HEADLINE, SF_DIR

    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=HEADLINE)
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    log_dir = tempfile.mkdtemp(prefix="profile_eventlog_")
    # set before the JVM starts, as flowbench/run.py:launch_env does
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.eventLog.enabled=true",
        "--conf spark.eventLog.compress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        f"--conf spark.eventLog.dir=file://{log_dir}",
        os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell"),
    ])
    try:
        from aws_vpc_flow_log_appender_spark.session import get_spark
        import __spark_entry__ as entry

        spark = get_spark("profile")
        sc = spark.sparkContext
        qs = entry.queries()
        timings = {}
        for name in args.queries:
            # the group id alone: a job description would also become the
            # description of every SQL execution, hiding their call sites
            sc.setLocalProperty("spark.jobGroup.id", f"warm:{name}")
            qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            runs = []
            for k in range(PASSES):
                sc.setLocalProperty("spark.jobGroup.id", f"{GROUP}{name}#{k}")
                t0 = time.perf_counter()
                df = qs[name](spark, args.sf)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                runs.append((t1 - t0, time.perf_counter() - t1))
            timings[name] = {"construct_s": round(min(c for c, _ in runs), 3),
                             "execute_s": round(min(x for _, x in runs), 3)}
        spark.stop()
        (log,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
        profiles = read_event_log(os.path.join(log_dir, log))
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    result = {}
    for name, t in timings.items():
        result[name] = {**t, **profiles.get(name, {"n_jobs": 0})}
        summary = {k: v for k, v in result[name].items() if k not in ("jobs", "stages")}
        print(name, json.dumps(summary), file=sys.stderr, flush=True)
    text = json.dumps(result, indent=2)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
