"""Traced-run recorder: spans at the program's module boundaries, the
Spark event-log counts, and the streaming progress summary.

Spans are recorded from the benchmark's own files by wrapping public
functions of the program's modules (``Tracer.wrap``); the program itself
is not changed.  Each call records ``(name, start, end, parent, run)``
in memory.  ``foreachBatch`` bodies run on their own threads, so the
parent of a span is the innermost open span on the same thread.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.recorder_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the block; its parent is the innermost
        span open on the same thread."""
        r0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append({"name": name, "start": time.time(), "end": 0.0,
                               "parent": stack[-1] if stack else None, "run": self.run_id})
            self.recorder_s += time.perf_counter() - r0
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx]["end"] = time.time()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a recording wrapper until ``unwrap``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, fh)


def event_log_counts(log_dir: str, t0: float, t1: float,
                     windows: dict[str, list[tuple[float, float]]] | None = None) -> dict:
    """Scheduler counts from Spark event logs, for work started in
    ``[t0, t1]`` (epoch seconds).  ``windows`` maps a label to time
    intervals; the job count inside each is returned as ``jobs@label``."""
    lo, hi = t0 * 1000, t1 * 1000
    out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
           "shuffle_read_bytes": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0}
    job_times: list[float] = []
    paths = [os.path.join(d, n) for d, _s, names in os.walk(log_dir) for n in names
             if not n.startswith(".")]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev.get("Submission Time", 0)
                    if lo <= t <= hi:
                        out["jobs"] += 1
                        job_times.append(t / 1000)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if lo <= info.get("Submission Time", 0) <= hi:
                        out["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if not lo <= ev["Task Info"]["Launch Time"] <= hi:
                        continue
                    out["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                    out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    out["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                  + sr.get("Local Bytes Read", 0))
    for label, spans in (windows or {}).items():
        out[f"jobs@{label}"] = sum(
            1 for t in job_times if any(a <= t <= b for a, b in spans))
    return out


def progress_summary(records: list[dict]) -> dict:
    """Sums of the ``durationMs`` phases and input rows over the
    progress records of one streaming query, plus the last state size."""
    out = {k: 0.0 for k in ("latestOffset", "getBatch", "addBatch", "queryPlanning",
                            "walCommit", "commitOffsets")}
    out["input_rows"] = 0
    out["state_rows"] = out["state_bytes"] = 0
    for p in records:
        d = p.get("durationMs", {})
        for k in ("latestOffset", "getBatch", "addBatch", "queryPlanning",
                  "walCommit", "commitOffsets"):
            out[k] += d.get(k, 0)
        out["input_rows"] += p.get("numInputRows", 0)
        ops = p.get("stateOperators") or []
        if ops:
            out["state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
            out["state_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in ops)
    return out
