"""Spans and Spark counters for the traced run (``--trace 1``).

Spans (name, start, end, parent, run id) are kept in memory and written out at
the end. They are recorded from outside the package: around the benchmark's own
calls, and around package functions wrapped for the traced run only
(``instrument``). A span's self time is its duration minus the time its
children cover; an operation's root span keeps what no layer claimed, reported
as "unattributed", so an operation's self times add up to its wall.

Spark counters come from ``statusTracker()`` (jobs of the operation's job
group) and the UI REST API on localhost (stage metrics), which only the traced
run enables.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import time
import urllib.request


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span around each
        call. ``name`` is a span name or a function of the call's arguments;
        ``after(rec, args, result)`` may add counts to the span."""
        static = isinstance(inspect.getattr_static(owner, attr), staticmethod)
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as rec:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, result)
            return result

        setattr(owner, attr, staticmethod(traced) if static else traced)

    def self_times(self, root_id: int) -> dict[str, float]:
        """Self seconds by span name over the tree under ``root_id``; the
        root's own self time is keyed "unattributed"."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}

        def walk(s: dict, key: str) -> None:
            kids = children.get(s["id"], [])
            covered = sum(k["end"] - k["start"] for k in kids)
            out[key] = out.get(key, 0.0) + (s["end"] - s["start"]) - covered
            for k in kids:
                walk(k, k["name"])

        walk(self.spans[root_id], "unattributed")
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def instrument(tracer: Tracer) -> None:
    """Wrap the package's layer entry points with spans (traced run only)."""
    from kbase_cdm_ontologies_spark.operators import closure, delta_entail, export
    from kbase_cdm_ontologies_spark.plans import checkpoint

    def stage_name(self, name, *a, **k):
        return "pipeline." + name

    def written(rec, args, result):
        rec["bytes"] = export._dir_bytes(args[1])

    tracer.wrap(checkpoint.CheckpointManager, "stage", stage_name)
    tracer.wrap(checkpoint.CheckpointManager, "_snapshot_valid", "checkpoint.validate")
    tracer.wrap(checkpoint, "write_table", "tables.write", after=written)
    tracer.wrap(checkpoint, "read_table", "tables.read")
    tracer.wrap(export, "sorted_text_sink", "export")
    tracer.wrap(closure, "entail", "closure.entail")
    tracer.wrap(delta_entail, "entail_delta", "delta_entail")


class SparkCounters:
    """Per-operation Spark counters: each operation runs in its own job group;
    afterwards its jobs come from the status tracker and its stages' metrics
    from the REST API."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def collect(self, group: str) -> dict[str, float]:
        # the listener bus is asynchronous: let it deliver every event of the
        # operation to the status store before reading it
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = [
            s for s in self._get("/stages")
            if s["stageId"] in stage_ids and s["status"] != "SKIPPED"
        ]
        run_s = sum(s["executorRunTime"] for s in stages) / 1000.0
        skew = 1.0
        if stages:
            top = max(stages, key=lambda s: s["executorRunTime"])
            q = self._get(
                f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary"
                "?quantiles=0.5,1.0"
            )["executorRunTime"]
            skew = q[1] / max(q[0], 1.0)
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ),
            "executor_run_s": run_s,
            "task_max_over_median": skew,
        }
