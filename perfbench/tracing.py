"""Tracing for the per-layer run: spans recorded from the benchmark's own
files, and Spark's local event log folded into them.

A span is opened around each call into a layer's public function. While
a span is open its id is the thread's Spark job description, so every
job the call submits names its span in the event log. Pipeline stages
run inside one call, so they are attributed by the time windows the
pipeline's own manifest records.

The event log must be uncompressed (``spark.eventLog.compress=false``):
Spark's default codec is zstd, which this Python cannot read.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_DESC = "perfbench-span:"


class Tracer:
    """Spans kept in memory: name, start, end, parent and trace id."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.trace_id: str | None = None

    def open(self, name: str, **attrs) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "trace": self.trace_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(span)
        self.stack.append(span["id"])
        self.sc.setJobDescription(_DESC + str(span["id"]))
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        while self.stack and self.stack.pop() != span["id"]:
            pass
        self.sc.setJobDescription(_DESC + str(self.stack[-1]) if self.stack else None)

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)


def install_pregel_hooks(tracer: Tracer):
    """Wrap ``pregel.run_pregel`` and ``CheckpointStore.save`` so each
    run, superstep and checkpoint gets a span. Returns the undo function.

    A superstep span opens when the loop calls the superstep function and
    stays open through the eager checkpoint and the delta, until the next
    superstep, checkpoint or the end of the run."""
    from linkgraph import pregel

    run_pregel, save = pregel.run_pregel, pregel.CheckpointStore.save

    def traced_run(edges, init_state, superstep_fn, delta_fn, **kw):
        run = tracer.open("pregel.run", job_id=kw.get("job_id", "pregel"))
        step: list[dict] = []

        def end_step():
            if step:
                tracer.close(step.pop())

        def traced_step(e, s, i):
            end_step()
            step.append(tracer.open("pregel.superstep", superstep=i + 1))
            return superstep_fn(e, s, i)

        try:
            res = run_pregel(edges, init_state, traced_step, delta_fn, **kw)
            run["superstep_wall_s"] = [m["wall_s"] for m in res.metrics]
            return res
        finally:
            end_step()
            tracer.close(run)

    def traced_save(self, superstep, state, metrics):
        with tracer.span("pregel.checkpoint", superstep=superstep):
            return save(self, superstep, state, metrics)

    pregel.run_pregel, pregel.CheckpointStore.save = traced_run, traced_save

    def undo():
        pregel.run_pregel, pregel.CheckpointStore.save = run_pregel, save

    return undo


def add_stage_spans(tracer: Tracer, op_span: dict, manifest: dict) -> None:
    """Child spans of a pipeline pass, one per stage, from the windows the
    manifest records (``finished_at - wall_s`` to ``finished_at``).
    Spans already recorded inside a stage's window move under it."""
    for stage, m in manifest["completed"].items():
        s = {
            "id": len(tracer.spans),
            "name": f"stage.{stage}",
            "parent": op_span["id"],
            "trace": op_span["trace"],
            "start": m["finished_at"] - m["wall_s"],
            "end": m["finished_at"],
            "window": True,
        }
        for c in tracer.spans:
            if c["parent"] == op_span["id"] and s["start"] <= c["start"] and c["end"] <= s["end"]:
                c["parent"] = s["id"]
        tracer.spans.append(s)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(path: str) -> list[dict]:
    """Jobs from an uncompressed event log: submit and end times (s),
    the span id from the job description, and task totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                jid = ev["Job ID"]
                jobs[jid] = {
                    "job": jid,
                    "span": int(desc[len(_DESC):]) if desc.startswith(_DESC) else None,
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "tasks": 0,
                    "task_s": 0.0,
                    "shuffle_read_mb": 0.0,
                    "shuffle_write_mb": 0.0,
                    "spill_mb": 0.0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or m is None:
                    continue
                rd = m.get("Shuffle Read Metrics", {})
                wr = m.get("Shuffle Write Metrics", {})
                job["tasks"] += 1
                job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                job["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / 2**20
                job["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 2**20
                job["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return sorted(jobs.values(), key=lambda j: j["job"])


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the (start, end) intervals."""
    total, covered_to = 0.0, float("-inf")
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if end > covered_to:
            total += end - max(start, covered_to)
            covered_to = end
    return total


def fold(spans: list[dict], jobs: list[dict], cores: int) -> None:
    """Add to every span its wall and self time and the totals of the
    jobs under it: jobs, tasks, task_s, shuffle, spill, driver_idle_s
    (wall with no job running) and cpu_util (task_s / (wall * cores)).

    A job belongs to the span its description names. Under a window span
    (a pipeline stage) it also counts when it was submitted inside the
    window by any span of the same pass."""
    children: dict[int | None, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    by_span: dict[int, list[dict]] = {}
    for j in jobs:
        if j["span"] is not None:
            by_span.setdefault(j["span"], []).append(j)

    def subtree_jobs(s: dict) -> list[dict]:
        out = list(by_span.get(s["id"], []))
        for c in children.get(s["id"], []):
            out += subtree_jobs(c)
        return out

    for s in spans:
        wall = s["end"] - s["start"]
        if s.get("window"):
            pass_jobs = subtree_jobs(spans[s["parent"]])
            mine = [j for j in pass_jobs if s["start"] <= j["start"] <= s["end"]]
        else:
            mine = subtree_jobs(s)
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        busy = _union([(max(j["start"], s["start"]), min(j["end"], s["end"])) for j in mine])
        task_s = sum(j["task_s"] for j in mine)
        s.update(
            wall_s=wall,
            self_s=wall - _union(kids),
            jobs=len(mine),
            self_jobs=len(by_span.get(s["id"], [])),
            tasks=sum(j["tasks"] for j in mine),
            task_s=task_s,
            shuffle_read_mb=sum(j["shuffle_read_mb"] for j in mine),
            shuffle_write_mb=sum(j["shuffle_write_mb"] for j in mine),
            spill_mb=sum(j["spill_mb"] for j in mine),
            driver_idle_s=max(wall - busy, 0.0),
            cpu_util=task_s / (wall * cores) if wall > 0 else 0.0,
        )
