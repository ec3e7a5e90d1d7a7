"""Spans, counters and the Spark event-log join for the traced run.

Spans are kept in memory and written out when the run ends.  Each span sets
a Spark job group ``pb<span id>`` while it is innermost, so every job, stage
and task in the event log maps back to exactly one span.  With tracing off,
``Tracer.span`` is a no-op and no wrapper is installed.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

#: span-name prefix -> the library layer (module) the span measures
LAYERS = {
    "store": "sources.store",
    "rollup": "operators.rollup",
    "aggregate": "operators.aggregate",
    "retrieve": "operators.retrieve",
    "stats": "operators.stats",
    "ingest": "streaming.ingest",
    "pipeline": "pipeline",
}


def layer_of(name: str) -> str:
    return LAYERS.get(name.split(".", 1)[0], "bench")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0
        self.counters: dict[str, float] = defaultdict(float)

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "op": op, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(f"pb{rec['id']}", name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"pb{top['id']}", top["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def count(self, key: str, value: float = 1) -> None:
        if self.enabled:
            self.counters[key] += value

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that runs the original
        inside a span; ``after(result, args, kwargs)`` runs outside the span
        once the call returns, to record counters."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out

        setattr(owner, attr, wrapper)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (children of
    one span run one after another in this single-threaded client)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]]
            for s in spans if s["end"] is not None}


# -- event log ----------------------------------------------------------------

SPARK_FIELDS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "input_bytes", "input_records", "task_failures")


def read_event_log(directory: str) -> dict:
    """Jobs (with group, submit and end time in s) and per-stage task sums
    from an uncompressed event log directory."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    files = [p for p in glob.glob(os.path.join(directory, "**", "*"),
                                  recursive=True) if os.path.isfile(p)]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue              # a torn last line of a live log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                                 "start": ev["Submission Time"] / 1e3,
                                 "end": None,
                                 "stages": list(ev.get("Stage IDs", []))}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]]["attempts"] += 1
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    st["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        st["task_failures"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                 + sr.get("Local Bytes Read", 0))
                    st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                          + m.get("Disk Bytes Spilled", 0))
                    im = m.get("Input Metrics") or {}
                    st["input_bytes"] += im.get("Bytes Read", 0)
                    st["input_records"] += im.get("Records Read", 0)
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages}


def spark_by_span(log: dict) -> dict[int, dict]:
    """Spark totals per span id, from the job group each job carried."""
    out: dict[int, dict] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0.0))
    for jid, job in log["jobs"].items():
        g = job["group"]
        if not g or not g.startswith("pb"):
            continue
        out[int(g[2:])]["jobs"] += 1
    for sid, st in log["stages"].items():
        job = log["jobs"].get(log["stage_job"].get(sid, -1))
        g = job and job["group"]
        if not g or not g.startswith("pb"):
            continue
        row = out[int(g[2:])]
        if st.get("tasks"):
            row["stages"] += 1
        for k in SPARK_FIELDS[2:]:
            row[k] += st.get(k, 0.0)
    return out


def no_job_seconds(start: float, end: float, jobs: dict) -> float:
    """Part of [start, end] during which no Spark job was running."""
    iv = sorted((max(j["start"], start), min(j["end"] or end, end))
                for j in jobs.values()
                if j["start"] < end and (j["end"] or end) > start)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(end - start - covered, 0.0)


def subtree(spans: list[dict], root: int) -> list[int]:
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    out, todo = [], [root]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(kids[i])
    return out


def span_table(spans: list[dict], log: dict) -> dict[str, dict]:
    """Per span name: calls, wall and self seconds and Spark totals (jobs
    counted in the span itself, not its children)."""
    selft = self_times(spans)
    by_span = spark_by_span(log)
    table: dict[str, dict] = {}
    for s in spans:
        if s["end"] is None:
            continue
        row = table.setdefault(s["name"], {
            "layer": layer_of(s["name"]), "calls": 0, "wall_s": 0.0,
            "self_s": 0.0, "no_job_s": 0.0,
            **dict.fromkeys(SPARK_FIELDS, 0.0)})
        row["calls"] += 1
        row["wall_s"] += s["end"] - s["start"]
        row["self_s"] += selft[s["id"]]
        for k, v in by_span.get(s["id"], {}).items():
            row[k] += v
    return table


def spark_totals(spans: list[dict], roots: list[int], log: dict) -> dict:
    """Spark totals over the subtrees of ``roots`` (the timed operations),
    plus the time inside them with no job running."""
    by_span = spark_by_span(log)
    tot = dict.fromkeys(SPARK_FIELDS, 0.0)
    tot["no_job_s"] = 0.0
    for r in roots:
        for i in subtree(spans, r):
            for k, v in by_span.get(i, {}).items():
                tot[k] += v
        s = spans[r]
        tot["no_job_s"] += no_job_seconds(s["start"], s["end"], log["jobs"])
    return tot


def all_task_failures(log: dict) -> int:
    return int(sum(st.get("task_failures", 0) for st in log["stages"].values()))
