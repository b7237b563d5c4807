"""In-memory span tracing for traced benchmark runs.

A span records name, start, end, parent and run id. While a span is open
its id is the Spark job group, so after the run every Spark job, and the
tasks, shuffle bytes, spill and executor CPU of its stages, can be
attributed to the innermost span that submitted it (read back from the
Spark UI's REST API). Engine entry points are wrapped at runtime from
this file; the engine itself is not modified. With tracing off, ``span``
is a no-op context manager and nothing is wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time
import urllib.request
from collections import defaultdict

SPARK_COUNTERS = (
    "jobs",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "cpu_s",
)


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None  # SparkContext, once the session exists
        self._local = threading.local()
        self._next_id = 0
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self._paused = False
        self.loop_start: float | None = None
        self.overhead_s = 0.0  # time spent in span bookkeeping during the loop

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", span["group"] if span else None)
        self.sc.setLocalProperty("spark.job.description", span["name"] if span else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled or self._paused:
            yield {}
            return
        t_in = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "group": f"{self.run_id}-{sid}",
            **attrs,
        }
        stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        cost = rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(rec)
                if self.loop_start is not None:
                    self.overhead_s += cost + time.perf_counter() - rec["end"]

    def mark_loop(self) -> None:
        """Spans from here on belong to the timed loop."""
        self.loop_start = time.perf_counter()

    @contextlib.contextmanager
    def paused(self):
        """Run correctness checks without recording spans."""
        was, self._paused = self._paused, True
        try:
            yield
        finally:
            self._paused = was

    # -- runtime wrapping of engine entry points ----------------------------

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper. ``after(rec, self_,
        result)`` may add fields to the span once the call returns."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None and rec:
                    after(rec, args[0] if args else None, out)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- Spark attribution ---------------------------------------------------

    def attribute_spark(self) -> None:
        """Add per-span Spark counters from the UI's REST API."""
        if not self.enabled or self.sc is None or not self.sc.uiWebUrl:
            return
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

        def get(path):
            with urllib.request.urlopen(base + path, timeout=30) as r:
                return json.load(r)

        # the status store is fed asynchronously by the listener bus: wait
        # until the job list stops growing
        jobs, prev = get("/jobs"), -1
        while len(jobs) != prev:
            prev = len(jobs)
            time.sleep(0.5)
            jobs = get("/jobs")
        stages = get("/stages?status=complete") + get("/stages?status=failed")
        stage_owner: dict[int, str] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for s in j["stageIds"]:
                stage_owner.setdefault(s, j.get("jobGroup"))
        by_group: dict[str, dict] = defaultdict(lambda: dict.fromkeys(SPARK_COUNTERS, 0))
        for j in jobs:
            if j.get("jobGroup"):
                by_group[j["jobGroup"]]["jobs"] += 1
        for s in stages:
            g = stage_owner.get(s["stageId"])
            if not g:
                continue
            c = by_group[g]
            c["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
            c["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
            c["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
            c["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            c["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        for rec in self.spans:
            rec.update(by_group.get(rec["group"], dict.fromkeys(SPARK_COUNTERS, 0)))

    # -- summaries -----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def by_name(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(s)
        return out

    def median_duration(self, name: str) -> float:
        spans = self.by_name().get(name, [])
        return statistics.median(s["end"] - s["start"] for s in spans) if spans else 0.0

    def layer_table(self) -> list[tuple[str, int, float]]:
        """(layer, spans, self seconds) per layer, the layer being the span
        name up to its first dot."""
        selfs = self.self_times()
        acc: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            acc[layer][0] += 1
            acc[layer][1] += selfs[s["id"]]
        return sorted(((k, v[0], v[1]) for k, v in acc.items()), key=lambda r: -r[2])

    def write_jsonl(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                rec = {k: v for k, v in s.items() if not k.startswith("_")}
                fh.write(json.dumps({**rec, "start": s["start"] - t0, "end": s["end"] - t0}) + "\n")
