"""Spans recorded by the benchmark around each call into a layer.

A span has a name, a layer, start/end (``time.perf_counter``), a parent
span and the run id. Spans are kept in memory and written out once, when
the run ends. While a span is open its thread's Spark job group is the
span's id, so the jobs, tasks and failed tasks Spark runs inside it are
attributed to it exactly (no diffing of app-wide totals, which go wrong
once the UI's retained-stage list truncates). With the UI REST API on
(traced runs only) shuffle-write and spill bytes are attributed the
same way.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, spark, enabled: bool, run_id: str) -> None:
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, parent: dict | None = None, **attrs):
        """Open a span; ``parent`` defaults to the innermost open span of
        this thread (pass it explicitly from worker threads)."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = next(self._ids)
        rec = {
            "run": self.run_id, "id": sid, "name": name, "layer": layer,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}-{sid}", **attrs,
        }
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if stack:
                sc.setJobGroup(stack[-1]["group"], stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)

    # -- after the run ----------------------------------------------------

    def attach_counters(self) -> None:
        """Per-span jobs, tasks, failed tasks, shuffle-write and spill
        bytes from the UI REST API, matched by job group. Call once at
        the end of a traced run (the session keeps every job and stage:
        the traced run raises ``spark.ui.retained{Jobs,Stages}``)."""
        sc = self.spark.sparkContext
        url = urlparse(sc.uiWebUrl)
        base = f"http://127.0.0.1:{url.port}/api/v1/applications/{sc.applicationId}"
        with urllib.request.urlopen(f"{base}/jobs", timeout=60) as r:
            jobs = json.load(r)
        with urllib.request.urlopen(f"{base}/stages", timeout=60) as r:
            stages = json.load(r)
        per_stage = {}
        for s in stages:
            if s.get("status") == "SKIPPED":
                continue
            acc = per_stage.setdefault(s["stageId"], [0, 0])
            acc[0] += s.get("shuffleWriteBytes", 0)
            acc[1] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        by_group: dict[str, dict] = {}
        for j in jobs:
            c = by_group.setdefault(j.get("jobGroup"), {
                "jobs": 0, "tasks": 0, "failed_tasks": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0,
            })
            c["jobs"] += 1
            c["tasks"] += j.get("numCompletedTasks", 0)
            c["failed_tasks"] += j.get("numFailedTasks", 0)
            for sid in j.get("stageIds", []):
                w, sp = per_stage.pop(sid, (0, 0))  # a stage counts once
                c["shuffle_write_bytes"] += w
                c["spill_bytes"] += sp
        for rec in self.spans:
            rec.update(by_group.get(rec["group"], {
                "jobs": 0, "tasks": 0, "failed_tasks": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0,
            }))

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover
        (children may overlap, e.g. concurrent client queries)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times() if self.spans else {}
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                row = dict(s, start=s["start"] - t0, end=s["end"] - t0,
                           self_s=selfs.get(s["id"]))
                fh.write(json.dumps(row) + "\n")
