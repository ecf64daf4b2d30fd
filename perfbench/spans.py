"""Spans and counters recorded from outside the program.

The tracer wraps public functions of the engine's layers (and py4j's
``GatewayClient.send_command``) in the benchmark process, keeps every
span in memory, and folds them with the Spark event log into per-layer
numbers once the run ends. Nothing here is installed in an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    py4j_calls: int = 0


#: (module, attribute) pairs wrapped in a span of the same dotted name.
#: Functions are also replaced wherever another module imported them by
#: name, so ``from x import f`` callers are traced too.
FUNCTION_SPANS = (
    ("dataeng_azure_spotify_spark.operators.graph", "pagerank"),
    ("dataeng_azure_spotify_spark.operators.similarity", "kmeans_centroids"),
    ("dataeng_azure_spotify_spark.operators.dedup", "simhash_fingerprints"),
    ("dataeng_azure_spotify_spark.plans.star_query", "build_star_dataframe"),
)

#: (module, class, method, span name) for methods patched on the class.
METHOD_SPANS = (
    ("dataeng_azure_spotify_spark.streaming.gold", "CdcFlow", "merge_batch",
     "streaming.gold_merge"),
    ("dataeng_azure_spotify_spark.streaming.gold", "ParquetSnapshotTable", "overwrite",
     "streaming.gold_overwrite"),
)


def _span_name(module: str, attr: str) -> str:
    return module.removeprefix("dataeng_azure_spotify_spark.") + "." + attr


class Tracer:
    """In-memory span recorder with a global py4j round-trip counter."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self.py4j_calls = 0
        self._undo: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, op_id: int | None = None) -> int | None:
        if not self.enabled:
            return None
        stack = self._stack()
        # spans opened on another thread (a pool, a foreachBatch callback)
        # hang under whatever the client thread has open
        parent_stack = stack or self._main_stack
        parent = parent_stack[-1] if parent_stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        with self._lock:
            self.spans.append(Span(name, time.time(), parent=parent, op_id=op_id,
                                   py4j_calls=-self.py4j_calls))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        span = self.spans[idx]
        span.end = time.time()
        span.py4j_calls += self.py4j_calls
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None):
        idx = self.begin(name, op_id)
        try:
            yield
        finally:
            self.end(idx)

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        """Wrap py4j and the layer functions and start recording;
        :meth:`uninstall` undoes both."""
        from py4j.java_gateway import GatewayClient

        tracer = self
        send = GatewayClient.send_command

        @functools.wraps(send)
        def counted(client, *args, **kwargs):
            with tracer._lock:
                tracer.py4j_calls += 1
            return send(client, *args, **kwargs)

        self._patch(GatewayClient, "send_command", counted)
        for module, attr in FUNCTION_SPANS:
            mod = importlib.import_module(module)
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, _span_name(module, attr))
            for m in list(sys.modules.values()):
                if getattr(m, "__dict__", {}).get(attr) is orig:
                    self._patch(m, attr, wrapped)
        for module, cls_name, meth, name in METHOD_SPANS:
            cls = getattr(importlib.import_module(module), cls_name)
            self._patch(cls, meth, self._wrap(getattr(cls, meth), name))
        self.enabled = True

    def uninstall(self) -> None:
        self.enabled = False
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _patch(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- folding ---------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Sum over spans of each name of its duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + max(0.0, s.end - s.start - child[i])
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# -- Spark event log -----------------------------------------------------

@dataclass
class Job:
    submit: float
    done: float = 0.0
    stages: list[tuple[int, int]] = field(default_factory=list)


@dataclass
class StageStats:
    tasks: int = 0
    run_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    ran: bool = False


def read_event_log(log_dir: str) -> tuple[list[Job], dict[tuple[int, int], StageStats]]:
    """Jobs (with wall-clock submit/complete seconds) and per-stage task
    totals from the uncompressed event logs under ``log_dir``. Each
    session writes its own log with ids starting at 0, so stages are
    keyed by (log index, stage id)."""
    jobs: list[Job] = []
    stages: dict[tuple[int, int], StageStats] = {}
    for i, fn in enumerate(sorted(os.listdir(log_dir))):
        open_jobs: dict[int, Job] = {}
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Submission Time"] / 1000.0,
                              stages=[(i, s) for s in ev.get("Stage IDs", [])])
                    open_jobs[ev["Job ID"]] = job
                    jobs.append(job)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in open_jobs:
                    open_jobs.pop(ev["Job ID"]).done = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    stages.setdefault((i, ev["Stage Info"]["Stage ID"]), StageStats()).ran = True
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault((i, ev["Stage ID"]), StageStats())
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    st.tasks += 1
                    st.run_s += m.get("Executor Run Time", 0) / 1000.0
                    st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    st.shuffle_write += wr.get("Shuffle Bytes Written", 0)
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs, key=lambda j: j.submit), stages


def jobs_within(jobs: list[Job], start: float, end: float) -> list[Job]:
    """Jobs submitted inside [start, end] — every thread's, which is what
    a single closed-loop client makes attributable."""
    return [j for j in jobs if start <= j.submit <= end]


def uncovered(start: float, end: float, jobs: list[Job]) -> float:
    """Seconds of [start, end] during which no job was running: the
    driver-side gaps between (and before and after) jobs."""
    covered, cursor = 0.0, start
    for j in sorted(jobs, key=lambda j: j.submit):
        lo, hi = max(j.submit, cursor), min(j.done or end, end)
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return max(0.0, (end - start) - covered)
