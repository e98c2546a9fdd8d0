"""Spans, Spark job accounting and the per-layer metrics of a traced run.

Spans come from the benchmark's own code around each call: run > setup >
pass > key > build/action. Spark jobs are counted per span by job-id
difference (``next_job_id`` before and after the call), which also counts
jobs started from fill-pool threads that do not inherit a job group. Stage
and task counts are read from the status store right after each key, before
it can evict them. Executor metrics come from Spark's event log, which the
benchmark enables only in traced runs; each job attaches to the build or
action span whose interval contains its submission time.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

MB = 2**20
SMALL_TASK_BYTES = MB


class Spans:
    """In-memory span list; written out with the run record."""

    def __init__(self):
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        self.items.append(
            {"id": len(self.items), "name": name, "parent": parent,
             "start": start, "end": end, **attrs}
        )
        return len(self.items) - 1

    def children(self, span_id: int, name: str | None = None) -> list[dict]:
        return [s for s in self.items
                if s["parent"] == span_id and (name is None or s["name"] == name)]


def next_job_id(sc) -> int:
    """Id the DAG scheduler gives the next job: jobs submitted so far."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def stage_task_counts(sc, job_ids: range) -> tuple[int, int]:
    """(stages that ran, tasks completed) over ``job_ids``; skipped stages
    (reused shuffle output) complete no task and are not counted."""
    tracker = sc.statusTracker()
    stages, tasks = 0, 0
    seen = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return stages, tasks


def cached_bytes(sc) -> int:
    """Bytes of persisted RDD blocks the context still holds."""
    return sum(i.memSize() + i.diskSize()
               for i in sc._jsc.sc().getRDDStorageInfo())


def read_event_log(log_dir: str) -> tuple[dict, list[dict]]:
    """Jobs ``{id: {submit, end, stages}}`` and task records from the log."""
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    paths = [os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files]
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000,
                        "end": None, "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    stage_tasks[ev["Stage ID"]].append(_task(ev))
    tasks = []
    for jid, job in jobs.items():
        for sid in job["stages"]:
            for t in stage_tasks.pop(sid, []):
                tasks.append(dict(t, job=jid, stage=sid))
    return jobs, tasks


def _task(ev: dict) -> dict:
    m, info = ev["Task Metrics"], ev["Task Info"]
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    inp, out = m.get("Input Metrics", {}), m.get("Output Metrics", {})
    shuffle_read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    return {
        "dur_ms": info["Finish Time"] - info["Launch Time"],
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "deser_ms": m.get("Executor Deserialize Time", 0),
        "shuffle_read": shuffle_read,
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "input_rows": inp.get("Records Read", 0),
        "output_bytes": out.get("Bytes Written", 0),
    }


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attach_jobs(spans: Spans, jobs: dict) -> dict[int, list[int]]:
    """Span id -> ids of the jobs submitted inside that build/action span."""
    leaves = [s for s in spans.items if s["name"] in ("build", "action")]
    out: dict[int, list[int]] = defaultdict(list)
    for jid, job in jobs.items():
        for s in leaves:
            if s["start"] <= job["submit"] <= s["end"]:
                out[s["id"]].append(jid)
                break
    return out


def _phase(spans: list[dict], attached: dict, jobs: dict) -> dict:
    wall = sum(s["end"] - s["start"] for s in spans)
    covered, job_time = 0.0, 0.0
    for s in spans:
        ivs = [(max(jobs[j]["submit"], s["start"]),
                min(jobs[j]["end"] or s["end"], s["end"]))
               for j in attached.get(s["id"], [])]
        ivs = [(a, b) for a, b in ivs if b > a]
        covered += _union(ivs)
        job_time += sum(b - a for a, b in ivs)
    return {
        "wall_s": wall,
        "self_s": wall - covered,
        "job_overlap": job_time / covered if covered else 0.0,
    }


def pass_layers(spans: Spans, pass_id: int, jobs: dict, tasks: list[dict],
                attached: dict) -> dict[str, float]:
    """Per-layer metrics of one pass."""
    keys = spans.children(pass_id, "key")
    builds = [b for k in keys for b in spans.children(k["id"], "build")]
    actions = [a for k in keys for a in spans.children(k["id"], "action")]
    build = _phase(builds, attached, jobs)
    action = _phase(actions, attached, jobs)
    pass_jobs = {j for s in builds + actions for j in attached.get(s["id"], [])}
    ts = [t for t in tasks if t["job"] in pass_jobs]
    by_stage: dict[int, list[float]] = defaultdict(list)
    for t in ts:
        by_stage[t["stage"]].append(t["dur_ms"])
    skews = [max(d) / max(statistics.median(d), 1.0)
             for d in by_stage.values() if len(d) >= 2]
    durs = [t["dur_ms"] for t in ts]
    small = sum(1 for t in ts
                if t["input_bytes"] + t["shuffle_read"] < SMALL_TASK_BYTES)
    result_rows = sum(k["result_rows"] for k in keys)
    input_rows = sum(t["input_rows"] for t in ts)
    total = lambda field: sum(t[field] for t in ts)  # noqa: E731
    return {
        "build.wall_s": build["wall_s"],
        "build.self_s": build["self_s"],
        "build.jobs": sum(k["build_jobs"] for k in keys),
        "build.job_overlap": build["job_overlap"],
        "action.wall_s": action["wall_s"],
        "action.self_s": action["self_s"],
        "action.jobs": sum(k["action_jobs"] for k in keys),
        "action.stages": sum(k["action_stages"] for k in keys),
        "action.tasks": sum(k["action_tasks"] for k in keys),
        "exec.small_task_ratio": small / len(ts) if ts else 0.0,
        "exec.run_s": total("run_ms") / 1e3,
        "exec.cpu_s": total("cpu_ns") / 1e9,
        "exec.gc_s": total("gc_ms") / 1e3,
        "exec.deserialize_s": total("deser_ms") / 1e3,
        "exec.task_p50_ms": statistics.median(durs) if durs else 0.0,
        "exec.task_skew": statistics.median(skews) if skews else 1.0,
        "shuffle.write_mb": total("shuffle_write") / MB,
        "shuffle.read_mb": total("shuffle_read") / MB,
        "spill.mb": total("spill") / MB,
        "io.input_mb": total("input_bytes") / MB,
        "io.input_rows": input_rows,
        "io.rows_per_result_row": input_rows / max(result_rows, 1),
        "io.output_mb": total("output_bytes") / MB,
        "share.cached_mb_after_key": max(
            (k["cached_bytes"] for k in keys), default=0) / MB,
    }


def scratch_bytes_since(scratch: str, since: float) -> int:
    """Bytes of files under ``scratch`` modified at or after ``since``."""
    total = 0
    for dirpath, _dirs, files in os.walk(scratch):
        for name in files:
            try:
                st = os.stat(os.path.join(dirpath, name))
            except OSError:
                continue
            if st.st_mtime >= since:
                total += st.st_size
    return total
