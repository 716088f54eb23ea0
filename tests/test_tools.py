"""Unit tests of the measurement tools that need no Spark session:
tools/profiler.py's event-log reader, tools/ab_drive.py's interleave and
pair statistic, and tools/plans.py's plan normalization."""

import importlib.util
import json
import os
import tempfile

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _load(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(_TOOLS, name + ".py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


profiler = _load("profiler")
ab_drive = _load("ab_drive")
plans = _load("plans")

_PLAN = """\
(1) Scan ExistingRDD
Arguments: [cid#{a}, vec_id#{b}L, d#{c}], MapPartitionsRDD[{r}] at localCheckpoint at {site}, ExistingRDD

(2) Exchange
Input [3]: [cid#{a}, vec_id#{b}L, d#{c}]
Arguments: hashpartitioning(cid#{a}, 8), ENSURE_REQUIREMENTS, [plan_id={p}]

(3) HashAggregate
Keys [1]: [cid#{a}]
Results [2]: [cid#{a}, sum(d#{c})#{d} AS total#{e}]

(4) Scan parquet
Location: InMemoryFileIndex [file:{tmp}/stream_q_sink_{rand}/emit_v0]
"""


def test_plan_normalize_drops_session_labels():
    tmp = tempfile.gettempdir()
    one = _PLAN.format(a=2405, b=2402, c=2352, d=2500, e=2501, r=63, p=811,
                       site="NativeMethodAccessorImpl.java:0", tmp=tmp,
                       rand="kmq87two")
    two = _PLAN.format(a=17, b=9, c=40, d=3, e=12, r=5, p=90210,
                       site="<unknown>:0", tmp=tmp, rand="67h_6bgk")
    assert plans.normalize(one) == plans.normalize(two)
    norm = plans.normalize(one)
    assert "localCheckpoint at <call site>," in norm
    assert "MapPartitionsRDD[1]" in norm and "[plan_id=1]" in norm
    assert f"{tmp}/stream_q_sink_XXXXXXXX/emit_v0]" in norm
    # ids keep their identity: cid is #1 everywhere, sum's output #4 and
    # the alias #5 stay distinct
    assert norm.count("cid#1") == 5
    assert "sum(d#3)#4 AS total#5" in norm
    # a different id structure stays different after renumbering
    three = _PLAN.format(a=1, b=1, c=2, d=3, e=4, r=1, p=1, site="x.py:1",
                         tmp=tmp, rand="abcdefgh")
    assert plans.normalize(three) != norm


def test_interleave_alternates_which_side_runs_first(monkeypatch):
    """A discarded warm-up round of both sides, then rounds that alternate
    which side runs first; an odd pair count is rounded up to even, so each
    side runs first equally often."""
    calls = []

    def run_side(root, qlist, n_trials):
        calls.append(root)
        return {q: [float(len(calls))] * n_trials for q in qlist}

    monkeypatch.setattr(ab_drive, "_run_side", run_side)
    acc = ab_drive.interleave({"ref": "/ref", "work": "/work"}, ["q"], 3, 2)
    assert calls == ["/ref", "/work",  # warm-up, discarded
                     "/ref", "/work", "/work", "/ref", "/ref", "/work", "/work", "/ref"]
    assert acc == {"ref": {"q": [[3.0, 3.0], [6.0, 6.0], [7.0, 7.0], [10.0, 10.0]]},
                   "work": {"q": [[4.0, 4.0], [5.0, 5.0], [8.0, 8.0], [9.0, 9.0]]}}
    firsts = [calls[i] for i in range(2, len(calls), 2)]
    assert firsts.count("/ref") == firsts.count("/work")
    calls.clear()
    ab_drive.interleave({"ref": "/ref", "work": "/work"}, ["q"], 2, 1)
    assert len(calls) == 2 + 2 * 2  # an even count is kept


def test_pair_stats_is_median_of_per_pair_ratios():
    """One fast outlier trial decides a min-over-all-trials ratio; the median
    of per-pair ratios of minima does not."""
    acc = {"ref": {"q": [[1.0, 1.2], [1.1, 1.0], [0.5, 1.0], [1.0, 1.3]]},
           "work": {"q": [[0.9, 1.0], [0.95, 1.2], [1.0, 1.1], [0.8, 0.9]]}}
    got = ab_drive.pair_stats(acc, "ref", "work", "q")
    assert got["ref_min"] == [1.0, 1.0, 0.5, 1.0]
    assert got["work_min"] == [0.9, 0.95, 1.0, 0.8]
    assert got["ratios"] == [0.9, 0.95, 2.0, 0.8]
    assert got["ratio"] == 0.925  # min over all trials would read 0.8 / 0.5 = 1.6
    assert (got["ref_won"], got["work_won"]) == (1, 3)


def _job_start(job, group, submit, infos, sql_id=None):
    props = {"spark.jobGroup.id": group}
    if sql_id is not None:
        props["spark.sql.execution.id"] = str(sql_id)
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": submit,
            "Stage Infos": infos, "Stage IDs": [s["Stage ID"] for s in infos],
            "Properties": props}


def _sql_start(eid, description):
    return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": eid, "description": description}


def _stage(sid, n, name="", ran_before=False):
    info = {"Stage ID": sid, "Number of Tasks": n, "Stage Name": name}
    if ran_before:
        info["Completion Time"] = 1
    return info


def _task(sid, run_ms, reason="Success", input_b=0, remote=0, local=0, written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Input Metrics": {"Bytes Read": input_b},
                             "Shuffle Read Metrics": {"Remote Bytes Read": remote,
                                                      "Local Bytes Read": local},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


def _stage_done(sid, name, failed=False):
    info = {"Stage ID": sid, "Stage Name": name}
    if failed:
        info["Failure Reason"] = "boom"
    return {"Event": "SparkListenerStageCompleted", "Stage Info": info}


def _job_end(job, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t}


def test_read_event_log_groups_gaps_and_stage_totals(tmp_path):
    """Job groups decide which query a job is billed to, jobs keep
    submission order with their gaps, a job is named by its SQL execution
    (by its last stage outside one), and stage totals sum the tasks that
    ran."""
    events = [
        # warm-up run of q1: a job group the reader must ignore
        _job_start(0, "warm:q1", 500, [_stage(0, 8, "warm")]),
        _task(0, 999, written=999),
        _stage_done(0, "warm"),
        _job_end(0, 900),
        # q1, job 1: a map stage (2 tasks) and a result stage (1 task), run
        # for SQL execution 7
        _sql_start(7, "localCheckpoint at NativeMethodAccessorImpl.java:0"),
        _job_start(1, "profile:q1", 1000, [_stage(1, 2, "map at q1.py:1"),
                                           _stage(2, 1, "$anonfun at CompletableFuture")],
                   sql_id=7),
        _task(1, 100, input_b=50, written=30),
        _task(1, 200, input_b=70, written=40),
        _stage_done(1, "map at q1.py:1"),
        _task(2, 10, remote=20, local=50),
        _stage_done(2, "$anonfun at CompletableFuture"),
        _job_end(1, 2500),
        # q1, job 2: reuses stage 1 (already ran, so skipped) plus a new one
        _job_start(2, "profile:q1", 2700, [_stage(1, 2, ran_before=True),
                                           _stage(3, 4, "save at q1.py:3")]),
        _task(3, 5), _task(3, 5), _task(3, 5), _task(3, 5),
        _stage_done(3, "save at q1.py:3"),
        _job_end(2, 3000),
        # q2: one task fails and is retried; a failed stage attempt is left out
        _job_start(3, "profile:q2", 4000, [_stage(4, 1, "count at q2.py:1"),
                                           _stage(5, 1, "bad at q2.py:2")]),
        _task(4, 7, reason="ExceptionFailure"),
        _task(4, 9),
        _stage_done(4, "count at q2.py:1"),
        _task(5, 1, reason="ExceptionFailure"),
        _stage_done(5, "bad at q2.py:2", failed=True),
        _job_end(3, 4100),
    ]
    path = tmp_path / "eventlog"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))

    out = profiler.read_event_log(str(path))

    assert set(out) == {"q1", "q2"}
    q1 = out["q1"]
    assert [j["jobId"] for j in q1["jobs"]] == [1, 2]
    assert [j["dur_s"] for j in q1["jobs"]] == [1.5, 0.3]
    assert [j["gap_s"] for j in q1["jobs"]] == [None, 0.2]
    assert [j["n_tasks"] for j in q1["jobs"]] == [3, 4]
    assert [j["sql_id"] for j in q1["jobs"]] == [7, None]
    assert [j["name"] for j in q1["jobs"]] == [
        "localCheckpoint at NativeMethodAccessorImpl.java:0", "save at q1.py:3"]
    assert (q1["n_jobs"], q1["n_stages"], q1["n_stages_run"], q1["n_tasks"]) == (2, 3, 3, 7)
    assert (q1["shuffle_read_bytes"], q1["shuffle_write_bytes"]) == (70, 70)
    # slowest stage first
    assert [s["stageId"] for s in q1["stages"]] == [1, 3, 2]
    assert q1["stages"][0] == {
        "stageId": 1, "executor_run_ms": 300, "tasks": 2, "input_bytes": 120,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 70, "name": "map at q1.py:1"}

    q2 = out["q2"]
    assert (q2["n_jobs"], q2["n_stages"], q2["n_stages_run"], q2["n_tasks"]) == (1, 2, 1, 2)
    assert q2["stages"] == [{
        "stageId": 4, "executor_run_ms": 16, "tasks": 1, "input_bytes": 0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "name": "count at q2.py:1"}]


def test_read_event_log_job_count_range_over_passes(tmp_path):
    """One query profiled in three passes: n_jobs_min / n_jobs_max span the
    passes, and the job list is the first pass's."""
    events, job = [], 0
    for run, n_jobs in (("0", 2), ("1", 3), ("2", 2)):
        for _ in range(n_jobs):
            events += [
                _job_start(job, f"profile:q#{run}", 1000 * job,
                           [_stage(job, 1, f"collect at pass{run}.py:1")]),
                _task(job, 5),
                _stage_done(job, f"collect at pass{run}.py:1"),
                _job_end(job, 1000 * job + 100),
            ]
            job += 1
    path = tmp_path / "eventlog"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))

    q = profiler.read_event_log(str(path))["q"]

    assert (q["n_jobs"], q["n_jobs_min"], q["n_jobs_max"]) == (2, 2, 3)
    assert [j["jobId"] for j in q["jobs"]] == [0, 1]
    assert {s["name"] for s in q["stages"]} == {"collect at pass0.py:1"}
