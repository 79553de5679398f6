"""Spans around the benchmark's calls into the engine, with outside-in Spark
job attribution.

A span records name, start, end, parent span and op id. A span opened with
`jobs=True` also gets its own Spark job group for its duration (job groups
are thread-local in PySpark's pinned-thread mode, so a reader and a writer
thread never share one). At `finish()` the tracer attributes jobs and tasks:

- a span owns its group's job ids;
- jobs with no group (`build_index` submits its sinks from a
  ThreadPoolExecutor, whose threads carry no group; `get_spark` warms its
  workers before any group can be set) go to the `pool_jobs` span whose
  first grouped job id is the largest one below the ungrouped job's id;
- tasks are `numCompletedTasks` summed over a job's stages, each stage
  counted once (in the lowest job that lists it): a reused or skipped stage
  reports tasks it did not run again.

`statusTracker()` works with `spark.ui.enabled=false`. The listener feeding
it is asynchronous, so attribution runs once, after the last job ended.

A disabled tracer opens no groups and records nothing.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.sc = None
        self.self_s = 0.0  # wall time spent in the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def bind(self, sc) -> None:
        self.sc = sc

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, group: str | None, name: str = "") -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, name)

    @contextmanager
    def span(self, name: str, op: int | None = None, jobs: bool = True,
             pool_jobs: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "thread": threading.current_thread().name,
            "group": None,
            "pool_jobs": pool_jobs,
            **attrs,
        }
        if jobs and self.sc is not None:
            rec["group"] = f"perfbench-{sid}"
            self._set_group(rec["group"], name)
        stack.append(rec)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            stack.pop()
            if rec["group"] is not None:
                outer = next((s for s in reversed(stack) if s["group"]), None)
                self._set_group(
                    outer["group"] if outer else None,
                    outer["name"] if outer else "",
                )
            rec["start"] = start - self.t0
            rec["end"] = end - self.t0
            with self._lock:
                self.spans.append(rec)
                self.self_s += (start - t_in) + (time.perf_counter() - end)

    # -- attribution ------------------------------------------------------
    def finish(self, timeout_s: float = 20.0) -> None:
        """Wait until no job is active and the listener has caught up, then
        fill `jobs`, `tasks` and `failed_tasks` on every span that owns a
        job group (and on `pool_jobs` spans)."""
        if not self.enabled or self.sc is None:
            return
        tr = self.sc.statusTracker()
        deadline = time.time() + timeout_s
        groups = [s for s in self.spans if s["group"]]
        while time.time() < deadline:
            if not tr.getActiveJobsIds():
                time.sleep(0.5)
                if not tr.getActiveJobsIds():
                    break
            time.sleep(0.1)
        owner: dict[int, dict] = {}
        for s in groups:
            s["job_ids"] = sorted(tr.getJobIdsForGroup(s["group"]))
            for j in s["job_ids"]:
                owner[j] = s
        pools = sorted(
            (min(s["job_ids"], default=None) if s["group"] else -1, s["id"], s)
            for s in self.spans
            if s["pool_jobs"] and (not s["group"] or s["job_ids"])
        )
        for j in sorted(tr.getJobIdsForGroup(None)):
            below = [p for p in pools if p[0] < j]
            if below:
                s = below[-1][2]
                s.setdefault("job_ids", []).append(j)
                owner[j] = s
        stage_owner: dict[int, int] = {}
        for j in sorted(owner):
            info = tr.getJobInfo(j)
            for st in (info.stageIds if info else []):
                stage_owner.setdefault(st, j)
        tasks: dict[int, list[int]] = {}
        for st, j in stage_owner.items():
            si = tr.getStageInfo(st)
            if si is not None:
                t = tasks.setdefault(j, [0, 0])
                t[0] += si.numCompletedTasks
                t[1] += si.numFailedTasks
        for s in self.spans:
            ids = s.get("job_ids")
            if ids is None:
                continue
            s["jobs"] = len(ids)
            s["tasks"] = sum(tasks.get(j, [0, 0])[0] for j in ids)
            s["failed_tasks"] = sum(tasks.get(j, [0, 0])[1] for j in ids)

    # -- queries over the recorded spans -----------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def unattributed_share(self, span: dict) -> float:
        """Share of the span's wall time not covered by any child span."""
        wall = span["end"] - span["start"]
        if wall <= 0:
            return 0.0
        covered, cur = 0.0, span["start"]
        for c in sorted(self.children(span), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur), min(c["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                cur = hi
        return max(0.0, wall - covered) / wall

    def op_totals(self, kind: str) -> list[dict]:
        """Per op of `kind`: jobs and tasks summed over its calls, and the
        unattributed share (also stored on the op's span for the file)."""
        out = []
        for s in self.spans:
            if s["name"] != "op" or s.get("kind") != kind:
                continue
            kids = self.children(s)
            s["unattributed_share"] = self.unattributed_share(s)
            out.append({
                "jobs": sum(c.get("jobs", 0) for c in kids),
                "tasks": sum(c.get("tasks", 0) for c in kids),
                "unattributed": s["unattributed_share"],
            })
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def mean(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else default
