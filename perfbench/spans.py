"""Spans recorded from outside the program, attributed through Spark job
groups.

A span is (name, start, end, parent) and every span of one run shares the
run id. Each span runs under its own Spark job group, so the jobs submitted
while it is open, including the eager checkpoints some operators run while
a DataFrame is only being *built*, land in that group. When the span closes,
its group's jobs and stages are read from Spark's live status store (no
listener jar, no extra Spark job). Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "executorRunTime",
    "jvmGcTime",
    "inputBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "peakExecutionMemory",
)


class NullTracer:
    """The untraced run: same call structure, no job groups, no reads."""

    @contextmanager
    def span(self, name: str):
        yield None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _set_group(self, span: dict | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span["group"], span["name"])

    def _last_job_id(self) -> int:
        jobs = self._store().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}/{len(self.spans)}/{name}",
        }
        self.spans.append(rec)
        rec["_after_job"] = self._last_job_id()
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            rec.update(self._read_group(rec["group"], rec.pop("_after_job")))

    def _read_group(self, group: str, after_job: int) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs, stage_ids = [], set()
        for j in _seq(store.jobsList(None)):  # newest first
            if j.jobId() <= after_job:
                break
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                jobs.append(j.jobId())
                stage_ids.update(_seq(j.stageIds()))
        stages = {}
        qs = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage was skipped, never ran
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            st = {f: getattr(sd, f)() for f in STAGE_FIELDS}
            st["numTasks"] = sd.numTasks()
            summary = store.taskSummary(sid, sd.attemptId(), qs)
            if summary.isDefined():
                dur = summary.get().duration()
                st["task_ms_p50"], st["task_ms_max"] = dur.apply(0), dur.apply(1)
            stages[sid] = st
        return {"jobs": jobs, "stages": stages}

    # ---- queries over recorded spans ------------------------------------

    def subtree(self, span: dict) -> list[dict]:
        ids, out = {span["id"]}, [span]
        for s in self.spans:  # children are always recorded after parents
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def path(self, span: dict) -> str:
        """'root/.../name': the span's name under its ancestors' names."""
        names = [span["name"]]
        while span["parent"] is not None:
            span = self.spans[span["parent"]]
            names.append(span["name"])
        return "/".join(reversed(names))

    @staticmethod
    def wall(span: dict) -> float:
        return span["end"] - span["start"]

    def self_time(self, span: dict) -> float:
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return self.wall(span) - sum(self.wall(k) for k in kids)

    @staticmethod
    def totals(spans: list[dict]) -> dict:
        """Summed stage counters, job count, and task skew of the longest
        stage (longest task / median task) over ``spans``."""
        stages = {sid: st for s in spans for sid, st in s["stages"].items()}
        tot = {f: sum(st[f] for st in stages.values()) for f in STAGE_FIELDS}
        tot["peakExecutionMemory"] = max(
            (st["peakExecutionMemory"] for st in stages.values()), default=0
        )
        tot["jobs"] = sum(len(s["jobs"]) for s in spans)
        tot["stages"] = len(stages)
        tot["task_skew"] = 0.0
        if stages:
            longest = max(stages.values(), key=lambda st: st["executorRunTime"])
            if longest.get("task_ms_p50"):
                tot["task_skew"] = longest["task_ms_max"] / longest["task_ms_p50"]
        return tot

    def dump(self, path: str) -> None:
        """Write every span with its self time and Spark counters."""
        with open(path, "w") as f:
            for s in self.spans:
                rec = {k: v for k, v in s.items() if k != "stages"}
                rec["path"] = self.path(s)
                rec["wall_s"] = self.wall(s)
                rec["self_s"] = self.self_time(s)
                rec["spark"] = self.totals([s])
                f.write(json.dumps(rec) + "\n")
