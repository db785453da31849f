"""Spans, Spark stage counters and process memory for the benchmark.

A span is recorded around each call the benchmark makes into a layer's
public function. In a traced run every span also sets a Spark job group,
so the jobs a call launches can be read back from the driver's status REST
API (``/api/v1`` under ``uiWebUrl``) and summed per span. Spans live in
memory and are written out as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` is a no-op, so the
    untraced run pays nothing but a context-manager call per layer call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.sc = None  # SparkContext whose jobs are being attributed
        self.cost_s = 0.0  # time spent in span bookkeeping (the tracing overhead)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, t0, parent, self.op))
        self._stack.append(idx)
        self._set_group(idx)
        self.cost_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans[idx].end = t1
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.cost_s += time.perf_counter() - t1

    def _set_group(self, idx: int | None) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{idx}" if idx is not None else "bench", "bench")

    # -- Spark counters ----------------------------------------------------
    def collect_counters(self, sc) -> None:
        """Attribute every finished job of ``sc`` to the span whose job group
        launched it. Call before ``sc`` stops; waits for the status store
        to catch up with the listener bus."""
        if not self.enabled:
            return
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jobs: list = []
        for _ in range(40):
            jobs = _get(f"{base}/jobs")
            if not any(j["status"] == "RUNNING" for j in jobs):
                break
            time.sleep(0.25)
        stages = {s["stageId"]: s for s in _get(f"{base}/stages") if s["status"] == "COMPLETE"}
        for j in jobs:
            group = j.get("jobGroup") or ""
            if not group.startswith("span-"):
                continue
            c = self.spans[int(group[5:])].counters
            c["jobs"] = c.get("jobs", 0) + 1
            for sid in j["stageIds"]:
                s = stages.pop(sid, None)
                if s is None:
                    continue  # skipped (reused shuffle output) or counted already
                add = {
                    "stages": 1,
                    "tasks": s["numCompleteTasks"],
                    "input_bytes": s["inputBytes"],
                    "shuffle_read_bytes": s["shuffleReadBytes"],
                    "shuffle_write_bytes": s["shuffleWriteBytes"],
                    "spill_bytes": s["memoryBytesSpilled"] + s["diskBytesSpilled"],
                    "executor_run_s": s["executorRunTime"] / 1e3,
                    "executor_cpu_s": s["executorCpuTime"] / 1e9,
                    "gc_s": s["jvmGcTime"] / 1e3,
                }
                for k, v in add.items():
                    c[k] = c.get(k, 0) + v

    # -- reporting ---------------------------------------------------------
    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids[s.parent].append(i)
        return kids

    def self_time(self, idx: int, kids: dict[int, list[int]]) -> float:
        """Duration minus the union of the child spans' intervals."""
        s = self.spans[idx]
        covered, cur_end = 0.0, s.start
        for k in sorted(kids.get(idx, ()), key=lambda k: self.spans[k].start):
            c = self.spans[k]
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        return s.dur - covered

    def inclusive_counters(self, kids: dict[int, list[int]]) -> list[dict]:
        out = [dict(s.counters) for s in self.spans]
        for i in reversed(range(len(self.spans))):  # children come after parents
            p = self.spans[i].parent
            if p is not None:
                for k, v in out[i].items():
                    out[p][k] = out[p].get(k, 0) + v
        return out

    def summary(self, cores: int) -> dict[str, dict]:
        """Per span name: median per-op wall and self seconds (setup spans,
        which have no op, count per occurrence) and mean per-op counters,
        plus ``core_busy_frac`` = executor run time / (wall x cores)."""
        kids = self.children()
        incl = self.inclusive_counters(kids)
        per: dict[str, dict] = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
        for i, s in enumerate(self.spans):
            key = s.op if s.op is not None else f"setup-{i}"
            acc = per[s.name][key]
            acc["wall_s"] += s.dur
            acc["self_s"] += self.self_time(i, kids)
            for k in COUNTERS:
                acc[k] += incl[i].get(k, 0)
        out: dict[str, dict] = {}
        for name, ops in per.items():
            vals = list(ops.values())
            row = {"n": len(vals)}
            row["wall_s"] = statistics.median(v["wall_s"] for v in vals)
            row["self_s"] = statistics.median(v["self_s"] for v in vals)
            for k in COUNTERS:
                row[k] = sum(v[k] for v in vals) / len(vals)
            wall = sum(v["wall_s"] for v in vals)
            row["core_busy_frac"] = sum(v["executor_run_s"] for v in vals) / (wall * cores) if wall else 0.0
            out[name] = row
        return out

    def dump(self, path: str) -> None:
        kids = self.children()
        with open(path, "w") as fh:
            json.dump([
                {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                 "op": s.op, "self_s": self.self_time(i, kids), "counters": s.counters}
                for i, s in enumerate(self.spans)
            ], fh)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc every ``period`` s."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in descendants(include_self=True):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass  # exited between the scan and the read
        self.peak_bytes = max(self.peak_bytes, total)


def descendants(include_self: bool = False) -> set[int]:
    """PIDs of every live descendant of this process, from /proc."""
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    kids[int(fh.read().rsplit(")", 1)[1].split()[1])].append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    me = os.getpid()
    tree, frontier = set(), [me]
    while frontier:
        for k in kids.get(frontier.pop(), ()):
            if k not in tree:
                tree.add(k)
                frontier.append(k)
    return tree | {me} if include_self else tree
