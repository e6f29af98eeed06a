"""Span recording around the program's layer entry points, and
attribution of the Spark jobs in an event log to those spans.

Spans are recorded from outside the program: :meth:`Tracer.patch`
replaces module attributes with wrappers, so every call that goes
through the module (``T.mixed_triangles(...)``) or through a name
bound at import (``certa_spark.explainer.support_predictions``) opens
a span. Most operator functions only build a lazy plan; the Spark
jobs that execute it run inside whichever span triggers the action,
usually the explainer's own code.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, attribute, span name) for the functions explain() reaches.
# support_predictions is bound by name into the explainer as well, so it
# is patched in both places.
PATCHES = (
    ("certa_spark.operators.support", "support_predictions", "support"),
    ("certa_spark.explainer", "support_predictions", "support"),
    ("certa_spark.operators.triangles", "mixed_triangles", "triangles.enum"),
    ("certa_spark.operators.triangles", "perturb_predict", "triangles.perturb_predict"),
    ("certa_spark.operators.triangles", "aggregate_rankings", "triangles.rank"),
    ("certa_spark.operators.triangles", "saliency", "triangles.rank"),
    ("certa_spark.operators.triangles", "saliency_from_counts", "triangles.rank"),
    ("certa_spark.operators.triangles", "cf_summary", "triangles.rank"),
    ("certa_spark.operators.triangles", "counterfactuals", "triangles.rank"),
)


class Tracer:
    """Keeps spans in memory: name, start, end (epoch seconds), parent
    span index and op id. Disabled tracers record nothing."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op = None
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1] if stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()

    def patch(self) -> None:
        import importlib

        for mod_name, attr, name in PATCHES:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self._wrap(getattr(mod, attr), name))

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs and stages from the Spark event log(s) under ``log_dir``.

    Jobs: start/end (epoch s). Stages: submission time, task count,
    executor run time and shuffle bytes summed over their tasks."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = defaultdict(
        lambda: {"start": None, "tasks": 0, "run_s": 0.0, "read_b": 0, "write_b": 0}
    )
    # Spark 4 writes a directory per application with rolled files
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1e3, "end": None}
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stages[key]["start"] = info["Submission Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    st = stages[(ev["Stage ID"], ev["Stage Attempt ID"])]
                    st["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    rd = m.get("Shuffle Read Metrics", {})
                    st["read_b"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    st["write_b"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    return list(jobs.values()), [s for s in stages.values() if s["start"] is not None]


def attribute(spans: list[dict], jobs: list[dict], stages: list[dict]) -> dict[int, dict]:
    """Per span id: jobs, stages, tasks, executor run time and shuffle
    bytes launched while it was the innermost open span. Spark's call
    site does not name the caller, so a job or stage belongs to the
    innermost span whose window holds its submission time."""
    closed = [s for s in spans if s["end"] is not None]
    depth = {}
    for s in closed:
        d, p = 0, s["parent"]
        while p is not None:
            d, p = d + 1, spans[p]["parent"]
        depth[s["id"]] = d

    def innermost(t: float):
        best = None
        for s in closed:
            if s["start"] <= t <= s["end"] and (best is None or depth[s["id"]] > depth[best]):
                best = s["id"]
        return best

    out: dict[int, dict] = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "read_b": 0, "write_b": 0}
    )
    for j in jobs:
        sid = innermost(j["start"])
        if sid is not None:
            out[sid]["jobs"] += 1
    for st in stages:
        sid = innermost(st["start"])
        if sid is not None:
            agg = out[sid]
            agg["stages"] += 1
            for k in ("tasks", "run_s", "read_b", "write_b"):
                agg[k] += st[k]
    return out


def busy_union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total
