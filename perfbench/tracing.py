"""Spans around public calls, and Spark jobs attributed to them.

Every measured call runs inside ``Tracer.span``. A span records wall
time always; in a traced run it also tags the call's Spark jobs with a
job group named after the span. After ``spark.stop()`` the event log is
read back and every job and stage is attributed to a span: by its job
group when it has one, otherwise (jobs started on threads the group
does not reach, such as streaming micro-batches) to the innermost span
whose time window holds the job's submission time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

#: Stage accumulables summed per span, by short name.
STAGE_METRICS = {
    "internal.metrics.executorRunTime": "task_busy_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self, sc=None):
        """``sc`` set: tag jobs with per-span job groups (traced run)."""
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, pass_: int | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": op, "pass": pass_}
        self.spans.append(rec)
        self._stack.append(sid)
        self._group(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def _group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            # setJobGroup sets three properties; clear all three
            for k in ("spark.jobGroup.id", "spark.job.description",
                      "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(k, None)
        else:
            self.sc.setJobGroup(f"pb:{sid}", self.spans[sid]["name"])

    def attribute(self, log_dir: str) -> None:
        """Add jobs/stages/tasks and the ``STAGE_METRICS`` sums to each
        span from the event log (call after ``spark.stop()``)."""
        for s in self.spans:
            s.update(jobs=0, stages=0, tasks=0, **{v: 0 for v in STAGE_METRICS.values()})
        files = [f for f in glob.glob(os.path.join(log_dir, "*"))
                 if not f.endswith(".inprogress")]
        if not files:
            raise RuntimeError(f"no finished event log in {log_dir}")
        stage_owner: dict[int, int | None] = {}
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    sid = self._owner(ev.get("Properties") or {}, ev["Submission Time"])
                    if sid is not None:
                        self.spans[sid]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_owner[info["Stage ID"]] = self._owner(
                        ev.get("Properties") or {}, info.get("Submission Time") or 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = stage_owner.get(info["Stage ID"])
                    if sid is None:
                        continue
                    s = self.spans[sid]
                    s["stages"] += 1
                    s["tasks"] += info["Number of Tasks"]
                    for acc in info.get("Accumulables") or []:
                        key = STAGE_METRICS.get(acc.get("Name"))
                        if key:
                            s[key] += int(acc.get("Value") or 0)

    def _owner(self, props: dict, t_ms: int) -> int | None:
        group = props.get("spark.jobGroup.id") or ""
        if group.startswith("pb:"):
            return int(group[3:])
        t = t_ms / 1000.0
        inside = [s for s in self.spans if s["start"] <= t <= s.get("end", t)]
        return max(inside, key=lambda s: s["start"])["id"] if inside else None

    def self_times(self) -> None:
        """``self_s`` = duration minus the time the children cover."""
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"]
        for s in self.spans:
            if s["parent"] is not None:
                self.spans[s["parent"]]["self_s"] -= s["dur_s"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
