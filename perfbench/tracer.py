"""Benchmark-side tracer for the traced run (``--trace 1``).

Spans are recorded around the benchmark's calls into each layer: name,
kind, start, end, parent span and the pass (or request block) they
belong to. A span may carry a Spark job group, set with
``setJobGroup("<workload>:<row>:<phase>", "<pass>")`` so that every job
Spark runs inside it is attributed to its row, phase and pass. Job and
stage metrics are read from the local Spark UI's REST API after each
pass (the UI keeps a bounded history, so they are not left to the end).
Everything stays in memory until :meth:`Tracer.dump`.

A disabled tracer records nothing and sets no job groups, so untraced
runs measure the program alone.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager

_STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.jobs: dict[tuple[str, int], dict] = {}
        self.stages: dict[tuple[str, int, int], dict] = {}
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the current session's SparkContext (job groups, UI)."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, kind: str, pass_id: str | None = None, group: str | None = None):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if pass_id is None and parent is not None:
            pass_id = self.spans[parent]["pass"]
        rec = {"name": name, "kind": kind, "parent": parent, "pass": pass_id, "group": group}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        if group is not None:
            self._sc.setJobGroup(group, pass_id or "")
        self.overhead_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            t = time.perf_counter()
            self._stack.pop()
            if group is not None:
                outer = next(
                    (self.spans[i] for i in reversed(self._stack) if self.spans[i]["group"]),
                    None,
                )
                if outer is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                else:
                    self._sc.setJobGroup(outer["group"], outer["pass"] or "")
            self.overhead_s += time.perf_counter() - t

    def collect_ui(self) -> None:
        """Pull finished jobs and stages of the bound context from its UI."""
        if not self.enabled or self._sc is None:
            return
        t = time.perf_counter()
        sc = self._sc
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        deadline = time.perf_counter() + 10.0
        seen = -1
        while True:  # the UI store is fed asynchronously by the listener bus
            jobs = _get(f"{base}/jobs")
            settled = len(jobs) == seen and all(j["status"] != "RUNNING" for j in jobs)
            if settled or time.perf_counter() > deadline:
                break
            seen = len(jobs)
            time.sleep(0.05)
        app = sc.applicationId
        for j in jobs:
            self.jobs[(app, j["jobId"])] = {
                "group": j.get("jobGroup"),
                "pass": j.get("description"),
                "stages": list(j["stageIds"]),
            }
        for s in _get(f"{base}/stages"):
            if s["status"] == "SKIPPED":
                continue
            self.stages[(app, s["stageId"], s["attemptId"])] = {
                f: s.get(f, 0) for f in _STAGE_FIELDS
            }
        self.overhead_s += time.perf_counter() - t

    def job_stats(self, match) -> dict[str, float]:
        """Totals over jobs whose (group, pass) satisfies ``match``."""
        by_stage: dict[tuple[str, int], list[dict]] = {}
        for (app, sid, _), st in self.stages.items():
            by_stage.setdefault((app, sid), []).append(st)
        out = dict.fromkeys(("jobs", "stages", *_STAGE_FIELDS), 0)
        for (app, _), j in self.jobs.items():
            if not match(j["group"] or "", j["pass"] or ""):
                continue
            out["jobs"] += 1
            for sid in j["stages"]:
                for st in by_stage.get((app, sid), []):
                    out["stages"] += 1
                    for f in _STAGE_FIELDS:
                        out[f] += st[f]
        return out

    def self_times(self) -> list[float]:
        """Per span: its duration minus the part covered by its children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_start, cur_end = 0.0, None, None
            for a, b in sorted(children.get(i, [])):
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out.append(s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": st}
            for s, st in zip(self.spans, selfs)
        ]
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": spans,
                    "jobs": [{"app": a, "job": j, **v} for (a, j), v in self.jobs.items()],
                },
                f,
            )


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())
