"""Spans around calls into the pipeline's layers, and the Spark status
data behind them.

A span names a piece of work, records its wall-clock interval and its
parent, and sets a Spark job group for as long as it is open, so every
job the work submits carries the span's name. After a traced execution
the benchmark reads jobs and stages from the driver's status API (the
UI's REST endpoint on localhost) and sums, per span, the jobs, the
executor run time, the GC time and the shuffle bytes written.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    """Span recorder for one benchmark run.

    ``prefix`` names the workload in job descriptions ("image", "audio",
    "agg"); ``run_id`` is shared by every span of one pipeline
    execution, so spans from repeated executions stay apart."""

    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.run_id = "setup"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "run_id": self.run_id,
               "parent": parent["id"] if parent else None,
               "id": len(self.spans), "start": time.time(), "end": None,
               "group": f"{self.run_id}/{name}/{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self._set_group(parent)
            else:
                self.sc._jsc.clearJobGroup()

    def _set_group(self, rec: dict) -> None:
        label = rec["name"].replace(".", ":", 1)
        if not label.startswith(self.prefix):
            label = f"{self.prefix}:{label}"
        self.sc.setJobGroup(rec["group"], f"{label} [{rec['run_id']}]")

    def groups(self) -> set[str]:
        return {s["group"] for s in self.spans}

    def tree(self) -> list[dict]:
        """Spans as written out: name, start, end, parent, run id."""
        return [{k: s[k] for k in ("id", "name", "run_id", "parent",
                                   "start", "end")}
                for s in self.spans]


def _parse_ts(ts: str) -> float:
    # e.g. "2026-10-17T03:01:02.345GMT"
    return datetime.strptime(ts.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class StatusApi:
    """Reads jobs and stages of this application from the driver's REST
    status API. Requires a session started with the UI enabled."""

    def __init__(self, sc):
        self.sc = sc
        self.base = sc.uiWebUrl.rstrip("/") + "/api/v1/applications/" \
            + sc.applicationId
        # the UI is local: never route it through a proxy from the env
        self._opener = urllib.request.build_opener(
            urllib.request.ProxyHandler({}))

    def _get(self, path: str):
        with self._opener.open(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout_s: float = 30.0) -> None:
        """Wait until the status store has seen every finished job: the
        listener bus delivers events asynchronously."""
        bus = self.sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            jobs = self._get("/jobs")
            if not tracker.getActiveJobsIds() and all(
                    j["status"] != "RUNNING" for j in jobs):
                return
            time.sleep(0.1)

    def jobs(self) -> list[dict]:
        """Every job of the application, each with ``ownStages``: the
        completed stages it ran. A stage is attributed to the first job
        that lists it; later jobs reuse its shuffle output and list it
        as skipped."""
        self.settle()
        jobs = sorted(self._get("/jobs"), key=lambda j: j["jobId"])
        stages = {}
        for st in self._get("/stages"):
            if st["status"] == "COMPLETE":
                stages[st["stageId"]] = st
        owner: dict[int, int] = {}
        for j in jobs:
            for sid in j["stageIds"]:
                owner.setdefault(sid, j["jobId"])
        for j in jobs:
            j["ownStages"] = [stages[s] for s in j["stageIds"]
                              if owner[s] == j["jobId"] and s in stages]
            j["start"] = _parse_ts(j["submissionTime"])
            j["end"] = (_parse_ts(j["completionTime"])
                        if "completionTime" in j else j["start"])
        return jobs


def job_totals(jobs: list[dict]) -> dict:
    """Summed work of a set of jobs."""
    stages = [st for j in jobs for st in j["ownStages"]]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "executor_run_s": sum(st["executorRunTime"] for st in stages) / 1e3,
        "gc_s": sum(st["jvmGcTime"] for st in stages) / 1e3,
        "shuffle_write_mb": sum(st["shuffleWriteBytes"]
                                for st in stages) / (1 << 20),
        "shuffle_write_records": sum(st["shuffleWriteRecords"]
                                     for st in stages),
    }


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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
