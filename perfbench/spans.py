"""Spans around calls into the package's layers, with Spark jobs as children.

A span is ``{trace, id, name, start, end, parent, phase}``; every op gets
its own trace id. Inside a layer span the benchmark sets the Spark job
group ``pb-<span id>``, so the jobs that call launches can be found
afterwards in Spark's status store (which works with the UI disabled).
Spans are kept in memory; ``harvest`` reads the status store once, after
the run, attaches each job (and its stages) to its span, and ``write``
puts everything out in one file.

With tracing off, ``span`` records nothing and sets no job group, so the
untraced run pays only for a ``nullcontext``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time

LAYERS = (
    "session",
    "graph.io",
    "graph.api",
    "graph.traversal",
    "relational.call",
    "relational.sink",
    "functions.similarity",
)
# Layers that only run while the workload is being set up; their
# counters are reported per set-up repetition, all others per pass.
SETUP_LAYERS = ("session", "graph.io")
COUNTERS = (
    "calls",
    "ms",
    "jobs",
    "stages",
    "tasks",
    "executor_ms",
    "driver_only_ms",
    "stage_wait_ms",
    "shuffle_mb",
    "input_mb",
    "gc_ms",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"
        self.pass_no: int | None = None  # the timed pass being run
        self._ids = itertools.count(1)
        self._trace: int | None = None
        self._parent: int | None = None
        self._stages: dict[int, dict] = {}

    def record(self, layer: str, start: float, end: float) -> None:
        """A span for a call made before there was a SparkContext to tag."""
        if self.enabled:
            sid = next(self._ids)
            self.spans.append({"trace": sid, "id": sid, "name": layer, "parent": None,
                               "phase": self.phase, "start": start, "end": end})

    @contextlib.contextmanager
    def op(self, name: str):
        """Root span of one benchmark operation; opens a new trace."""
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        span = {"trace": sid, "id": sid, "name": name, "parent": None,
                "phase": self.phase, "pass": self.pass_no, "start": time.time()}
        self._trace, self._parent = sid, sid
        try:
            yield
        finally:
            span["end"] = time.time()
            self.spans.append(span)
            self._trace = self._parent = None

    @contextlib.contextmanager
    def span(self, layer: str, **attrs):
        """Span around one call into ``layer``; its Spark jobs join it."""
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        trace = self._trace if self._trace is not None else sid
        span = {"trace": trace, "id": sid, "name": layer, "parent": self._parent,
                "phase": self.phase, "pass": self.pass_no, "start": time.time(), **attrs}
        sc = self.spark.sparkContext
        sc.setJobGroup(f"pb-{sid}", layer)
        try:
            yield span
        finally:
            span["end"] = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(span)

    # --- after the run ------------------------------------------------------
    def harvest(self) -> None:
        """Pull every job and stage from the status store (once) and hang
        the jobs under their layer spans as ``spark.job`` child spans."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        d4 = getattr(store, "stageList$default$4")()
        d5 = getattr(store, "stageList$default$5")()
        stages = json.loads(
            mapper.writeValueAsString(store.stageList(None, False, False, d4, d5))
        )
        # Keep the last attempt of each stage (a retried stage is one stage).
        for st in stages:
            prev = self._stages.get(st["stageId"])
            if prev is None or st["attemptId"] > prev["attemptId"]:
                self._stages[st["stageId"]] = st

        by_id = {s["id"]: s for s in self.spans}
        layer_spans = sorted(
            (s for s in self.spans if s["name"] in LAYERS), key=lambda s: s["start"]
        )
        for job in jobs:
            group = job.get("jobGroup") or ""
            owner = None
            if group.startswith("pb-"):
                owner = by_id.get(int(group[3:]))
            if owner is None:  # no group: attribute by submission time
                t = job["submissionTime"] / 1000.0
                owner = next(
                    (s for s in layer_spans if s["start"] <= t <= s["end"]), None
                )
            if owner is None:
                continue
            end = job.get("completionTime") or job["submissionTime"]
            self.spans.append({
                "trace": owner["trace"], "id": next(self._ids), "name": "spark.job",
                "parent": owner["id"], "phase": owner["phase"],
                "start": job["submissionTime"] / 1000.0, "end": end / 1000.0,
                "job_id": job["jobId"], "stage_ids": list(job["stageIds"]),
            })

    def layer_totals(self, phase: str, span_filter=None) -> dict[str, dict]:
        """Sum the counters of every layer's spans in ``phase``."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["name"] == "spark.job":
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["name"] not in LAYERS or s["phase"] != phase:
                continue
            if span_filter is not None and not span_filter(s):
                continue
            tot = out.setdefault(s["name"], dict.fromkeys(COUNTERS, 0.0))
            tot["calls"] += 1
            dur = s["end"] - s["start"]
            tot["ms"] += dur * 1000.0
            jobs = children.get(s["id"], [])
            tot["jobs"] += len(jobs)
            covered = _union_length(
                [(max(j["start"], s["start"]), min(j["end"], s["end"])) for j in jobs]
            )
            tot["driver_only_ms"] += max(dur - covered, 0.0) * 1000.0
            seen: set[int] = set()
            for j in jobs:
                for sid in j["stage_ids"]:
                    st = self._stages.get(sid)
                    # Skipped stages (shuffle output reused) never ran.
                    if st is None or sid in seen or st.get("status") == "SKIPPED":
                        continue
                    seen.add(sid)
                    tot["stages"] += 1
                    tot["tasks"] += st["numTasks"]
                    tot["executor_ms"] += st["executorRunTime"]
                    tot["gc_ms"] += st["jvmGcTime"]
                    tot["input_mb"] += st["inputBytes"] / 1e6
                    tot["shuffle_mb"] += (
                        st["shuffleReadBytes"] + st["shuffleWriteBytes"]
                    ) / 1e6
                    sub, first = st.get("submissionTime"), st.get("firstTaskLaunchedTime")
                    if sub is not None and first is not None:
                        tot["stage_wait_ms"] += max(first - sub, 0)  # epoch ms
        return out

    def job_count(self, span: dict) -> int:
        return sum(
            1 for s in self.spans if s["name"] == "spark.job" and s["parent"] == span["id"]
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
