"""Span recorder, Spark status-store reader and RSS sampler.

Spans are kept in memory (name, start, end, parent) and written out as
JSON when the run ends. A span opened on the main thread also tags the
Spark jobs it starts with its own job group, so the status store can
attribute jobs and stage metrics to it afterwards. Spans opened on other
threads (streaming callbacks) record time only: their job group belongs
to the streaming query.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    """In-memory spans; ``install`` wraps library callables in spans."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            rec = {"id": f"pb{len(self.spans)}", "name": name,
                   "parent": parent["id"] if parent else None,
                   "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        tag = threading.get_ident() == self._main
        stack.append(rec)
        if tag:
            self.sc.setLocalProperty(_GROUP, rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if tag:
                self.sc.setLocalProperty(_GROUP, parent["id"] if parent else None)

    def install(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` in a span named ``name``. For a module-level
        function, every ``proxima_platform_spark`` module that bound the
        same object by ``from ... import`` gets the wrapper too."""
        orig = getattr(owner, attr, None)
        if orig is None:
            return  # the library no longer has this call: no span

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        targets = [(owner, attr)]
        if not isinstance(owner, type):
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("proxima_platform_spark"):
                    targets += [(mod, k) for k, v in list(vars(mod).items())
                                if v is orig and (mod, k) != (owner, attr)]
        for obj, key in targets:
            self._undo.append((obj, key, getattr(obj, key)))
            setattr(obj, key, traced)

    def uninstall(self) -> None:
        while self._undo:
            obj, key, orig = self._undo.pop()
            setattr(obj, key, orig)

    # -- queries over recorded spans -----------------------------------------

    def children(self) -> dict[str, list[dict]]:
        kids: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["parent"]:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def self_ms(self, span: dict, kids: dict[str, list[dict]]) -> float:
        """Span time minus the part of it its child spans cover."""
        cover = _union([(c["start"], c["end"]) for c in kids.get(span["id"], [])])
        return (span["end"] - span["start"] - cover) * 1000.0

    def subtree(self, span: dict, kids: dict[str, list[dict]]) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def dump(self, path: str) -> None:
        import json

        kids = self.children()
        rows = [dict(s, self_ms=self.self_ms(s, kids)) for s in self.spans
                if s["end"] is not None]
        with open(path, "w") as f:
            json.dump(rows, f)


def _union(intervals: list[tuple[float, float]]) -> float:
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


class StatusStore:
    """Job and stage metrics from Spark's status store (works with the UI
    off), read through py4j once a traced pass has ended."""

    STAGE_FIELDS = ("executorRunTime", "jvmGcTime", "shuffleWriteBytes",
                    "memoryBytesSpilled", "diskBytesSpilled",
                    "peakExecutionMemory", "numTasks")

    def __init__(self, sc) -> None:
        self.sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._stages: dict[int, dict] = {}

    def jobs_of(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job(self, job_id: int) -> dict:
        jd = self._store.job(job_id)
        sub, end = jd.submissionTime(), jd.completionTime()
        ids = jd.stageIds()
        return {
            "id": job_id,
            "start_ms": sub.get().getTime() if sub.isDefined() else 0,
            "end_ms": end.get().getTime() if end.isDefined() else 0,
            "stages": [ids.apply(i) for i in range(ids.size())],
        }

    def stage(self, stage_id: int) -> dict:
        if stage_id not in self._stages:
            sd = self._store.lastStageAttempt(stage_id)
            self._stages[stage_id] = {f: getattr(sd, f)() for f in self.STAGE_FIELDS}
        return self._stages[stage_id]

    def all_job_ids(self) -> list[int]:
        jobs = self._store.jobsList(None)
        return [jobs.apply(i).jobId() for i in range(jobs.size())]

    def summarize(self, job_ids) -> dict:
        """Totals over ``job_ids``: job count, job wall ms (union of job
        intervals), tasks and the stage metrics."""
        out = {"jobs": 0, "job_ms": 0.0, "tasks": 0, "executor_run_ms": 0,
               "gc_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
               "peak_exec_mem_bytes": 0}
        intervals = []
        for jid in job_ids:
            j = self.job(jid)
            out["jobs"] += 1
            intervals.append((j["start_ms"], max(j["end_ms"], j["start_ms"])))
            for sid in j["stages"]:
                s = self.stage(sid)
                out["tasks"] += s["numTasks"]
                out["executor_run_ms"] += s["executorRunTime"]
                out["gc_ms"] += s["jvmGcTime"]
                out["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                out["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                out["peak_exec_mem_bytes"] = max(
                    out["peak_exec_mem_bytes"], s["peakExecutionMemory"])
        out["job_ms"] = _union(intervals)
        return out


class RssSampler:
    """Peak resident set size of some processes, sampled from /proc."""

    def __init__(self, pids: list[int], interval_s: float = 0.02) -> None:
        self.pids = pids
        self.interval_s = interval_s
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_bytes = 0

    def _rss(self) -> int:
        total = 0
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_bytes = max(self.peak_bytes, self._rss())

    def __enter__(self) -> "RssSampler":
        self.peak_bytes = self._rss()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._rss())
