"""Span recording around layer calls, and per-job-group totals from a Spark
event log.

Spans live in memory (:class:`Tracer`) and are written once, when the run
ends. Job counts, task time and shuffle bytes come from the event log that
``run.py`` enables through the launch environment; they are attributed to the
job group each layer call ran under.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent span id, run id."""

    def __init__(self, spark):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.group_names: dict[str, str] = {}   # job-group id -> layer
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job_group: str | None = None):
        """Time the block; with ``job_group`` its Spark jobs run in that group."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "job_group": job_group, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if job_group else None
        if sc is not None:
            sc.setJobGroup(job_group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def event_log_totals(log_dir: str, group_names: dict[str, str],
                     stream_batches: set[str]) -> dict[str, dict]:
    """Per-layer ``jobs``, ``task_s`` and ``shuffle_bytes`` from
    the single event log in ``log_dir``. ``group_names`` maps a job-group id
    to the layer it is billed to; jobs of other groups are ignored. Jobs of
    the ``streaming`` layer count only if they ran for one of the micro-batch
    ids in ``stream_batches``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_layer: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "task_s": 0.0, "shuffle_bytes": 0})
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                layer = group_names.get(props.get("spark.jobGroup.id"))
                if layer is None or (layer == "streaming" and
                                     props.get("streaming.sql.batchId") not in stream_batches):
                    continue
                out[layer]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer[sid] = layer
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if layer is None or not tm:
                    continue
                out[layer]["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                out[layer]["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
    return dict(out)
