"""Span recorder and Spark event-log parser for traced runs.

A span is one call into a layer, recorded from the benchmark's side of
the call: name, start, end, parent span and run id, kept in memory and
written out once at exit. Entering a span also sets the Spark job
description to the span's name, so the event log attributes every job
(and through it every stage and task) to the innermost open span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Recorder:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional: when
    set, the innermost open span's name becomes the job description."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        self._describe(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._describe(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def _describe(self, name):
        if self.sc is not None and self.sc._jsc is not None:
            self.sc.setJobDescription(name)

    def self_times(self) -> dict:
        """Seconds per span name, minus the time covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (
                    s["end"] - s["start"] - child[s["id"]]
                )
        return out

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times(), **(extra or {})}, fh)


# --- event log ------------------------------------------------------------------


class EventLog:
    """The parts of a Spark JSON event log the benchmark reports: jobs
    (description, submit/end time, stage ids), stages (whether they
    write shuffle output) and tasks (duration, executor run time, GC,
    shuffle write, failure)."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = {
                        "desc": props.get("spark.job.description"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in self.jobs:
                        self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    self.stages[info["Stage ID"]] = {
                        "shuffle_map": any(
                            a.get("Name") == "internal.metrics.shuffle.write.bytesWritten"
                            for a in info.get("Accumulables", [])
                        ),
                    }
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    self.tasks.append({
                        "stage": ev["Stage ID"],
                        "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        "run": m.get("Executor Run Time", 0) / 1000.0,
                        "gc": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "failed": bool(info.get("Failed")),
                    })

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if not p.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
        return cls(files[0])

    def stage_run_s(self, stage_id: int) -> float:
        return sum(t["run"] for t in self.tasks if t["stage"] == stage_id)

    def by_description(self) -> dict:
        """Jobs, stages, tasks and executor run time per job description,
        i.e. per innermost span that submitted them."""
        out: dict[str, dict] = {}
        for j in self.jobs.values():
            row = out.setdefault(j["desc"] or "", {"jobs": 0, "stages": 0, "tasks": 0,
                                                   "run_s": 0.0})
            row["jobs"] += 1
            for s in j["stages"]:
                if s in self.stages:
                    row["stages"] += 1
                    row["tasks"] += sum(t["stage"] == s for t in self.tasks)
                    row["run_s"] += self.stage_run_s(s)
        return out

    def summary(self, jobs: list[dict], wall_s: float, cores: int) -> dict:
        """spark.* metrics over ``jobs``; counts are totals."""
        stage_ids = {s for j in jobs for s in j["stages"] if s in self.stages}
        tasks = [t for t in self.tasks if t["stage"] in stage_ids]
        run = sum(t["run"] for t in tasks)
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["dur"])
        skew = 0.0
        if by_stage:
            top = max(by_stage, key=lambda s: sum(by_stage[s]))
            durs = by_stage[top]
            med = statistics.median(durs)
            skew = max(durs) / med if med > 0 else 1.0
        return {
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "tasks": len(tasks),
            "failed_tasks": sum(t["failed"] for t in tasks),
            "busy_frac": run / (wall_s * cores) if wall_s > 0 else 0.0,
            "gc_frac": sum(t["gc"] for t in tasks) / run if run > 0 else 0.0,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
            "task_skew": skew,
        }


def uncovered_s(start: float, end: float, jobs: list[dict]) -> float:
    """Seconds of [start, end] not covered by any job interval: time the
    driver spent outside Spark jobs (plan construction, py4j, analysis,
    result conversion)."""
    ivs = sorted(
        (max(start, j["start"]), min(end, j["end"]))
        for j in jobs
        if j["end"] is not None and j["end"] > start and j["start"] < end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, end - start - covered)
