"""Spans, Spark job attribution and process counters for the benchmark.

Everything here lives on the benchmark's side of the API: spans are
recorded around calls into the engine's public functions (wrapping the
module attributes for the length of a traced run), and job, task,
shuffle and spill counts are read back from Spark's status tracker and
status store after each call. Nothing inside ``garden_net_backend_spark``
is edited.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: ``(id, name, start, end, parent, op)``.

    With ``enabled=False`` (the untraced run) ``span`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        if op is not None:
            self._op = op
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self._op,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if not self._stack:
                self._op = None

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call of ``module.attr`` as span ``name``.

        The engine binds some functions by ``from x import f`` at import
        time, so every loaded engine module holding the same object is
        re-pointed too; :meth:`unwrap` restores them all."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        holders = [module] + [
            m
            for key, m in list(sys.modules.items())
            if key.startswith("garden_net_backend_spark")
            and m is not module
            and getattr(m, attr, None) is orig
        ]
        for holder in holders:
            setattr(holder, attr, traced)
            self._patched.append((holder, attr, orig))

    def unwrap(self) -> None:
        for holder, attr, orig in reversed(self._patched):
            setattr(holder, attr, orig)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: the span's duration minus the
        part of it its child spans cover (children never overlap in a
        single-threaded client, so that part is their summed
        duration)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s["id"],
                            "name": s["name"],
                            "start": round(s["start"] - t0, 6),
                            "end": round(s["end"] - t0, 6),
                            "parent": s["parent"],
                            "op": s["op"],
                        }
                    )
                    + "\n"
                )


class JobCounter:
    """Jobs, tasks, shuffle-write and spill bytes per Spark job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def count(self, group_id: str) -> dict:
        job_ids = self.tracker.getJobIdsForGroup(group_id)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = shuffle = spill = 0
        store = self.sc._jsc.sc().statusStore()
        for sid in stage_ids:
            attempt = _last_attempt(store, sid)
            if attempt is not None:
                tasks += attempt.numTasks()
                shuffle += attempt.shuffleWriteBytes()
                spill += attempt.memoryBytesSpilled() + attempt.diskBytesSpilled()
        return {
            "jobs": len(job_ids),
            "tasks": tasks,
            "shuffle_write_bytes": shuffle,
            "spill_bytes": spill,
        }

    def jvm_heap_used_mb(self) -> float:
        rt = self.sc._jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


def _last_attempt(store, stage_id: int):
    """The stage's last attempt in the status store, or None for a
    stage that was skipped (it never ran) or already evicted."""
    try:
        return store.lastStageAttempt(stage_id)
    except Exception:  # noqa: BLE001 — py4j raises for a missing stage
        return None


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and all its
    live descendants: the Python client, the JVM it launched and the
    Python workers the JVM forked."""
    total_kb = 0
    pending = [os.getpid()]
    seen: set[int] = set()
    while pending:
        pid = pending.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(
                    int(line.split()[1]) for line in fh if line.startswith("VmHWM:")
                )
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    pending.extend(int(c) for c in fh.read().split())
        except (OSError, StopIteration):
            continue  # the process ended while being read
    return total_kb / 1024.0
