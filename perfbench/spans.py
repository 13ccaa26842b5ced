"""Spans around the benchmark's calls into the engine, Spark job accounting
from the event log, and process-tree CPU / host steal from ``/proc``.

A span records name, start, end, parent span and the operation id it belongs
to. While a span is open its id is the Spark job group, so every job the call
starts can be attributed to it from the event log after the session stops.
With tracing off, :meth:`Tracer.span` records nothing and sets no job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def begin(self, name: str, op: str | None = None) -> int | None:
        """Open a span; until it ends, Spark jobs run under its job group."""
        if not self.enabled:
            return None
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        self.spans.append({"id": sid, "name": name, "parent": parent, "op": op,
                           "start": time.monotonic(), "end": None})
        self._stack.append(sid)
        self.sc.setJobGroup(str(sid), name)
        return sid

    def end(self, sid: int | None) -> None:
        if sid is None:
            return
        self.spans[sid]["end"] = time.monotonic()
        self._stack.remove(sid)
        self.sc.setLocalProperty(
            "spark.jobGroup.id", str(self._stack[-1]) if self._stack else None
        )

    @contextmanager
    def span(self, name: str, op: str | None = None):
        sid = self.begin(name, op)
        try:
            yield sid
        finally:
            self.end(sid)

    def self_times(self) -> None:
        """Fill ``self_s``: a span's duration minus the union of the intervals
        its direct children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            s["self_s"] = (s["end"] - s["start"]) - covered

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(s["id"] for s in self.spans if s["parent"] == x)
        return out


def job_metrics(event_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor CPU seconds, shuffle bytes
    written and input bytes read, from the Spark event log."""
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "shuffle_write": 0, "input": 0}
    )
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    # an eventlog_v2_* directory of rolled events_* files (beside an
    # appstatus_* marker and the local filesystem's .crc checksums)
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(event_dir) for f in fs
                   if f.startswith("events_"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is not None:
                        groups[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for ev in tasks:
        g = stage_group.get(ev["Stage ID"])
        tm = ev.get("Task Metrics")
        if g is None or not tm:
            continue
        rec = groups[g]
        rec["tasks"] += 1
        rec["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        rec["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        rec["input"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
    return dict(groups)


def rollup(tracer: Tracer, jm: dict[str, dict], sid: int) -> dict:
    """Job metrics of a span and every span under it."""
    tot = {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "shuffle_write": 0, "input": 0}
    for x in tracer.subtree(sid):
        for k, v in jm.get(str(x), {}).items():
            tot[k] += v
    return tot


def _procs() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, CPU-seconds incl. reaped children, state) from /proc."""
    out = {}
    for p in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(p) as f:
                raw = f.read()
        except OSError:
            continue  # exited while listing
        rest = raw[raw.rindex(")") + 2:].split()
        out[int(p.split("/")[2])] = (int(rest[1]), sum(int(x) for x in rest[11:15]) / _CLK, rest[0])
    return out


def _tree(procs: dict, root: int) -> list[int]:
    kids = defaultdict(list)
    for pid, (ppid, _, _) in procs.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids[pid])
    return out


def tree_cpu_s() -> float:
    """CPU-seconds (user + system, own and reaped children) of this process
    and every live descendant: the driver, the JVM and the Python workers."""
    procs = _procs()
    return sum(procs[p][1] for p in _tree(procs, os.getpid()) if p in procs)


def descendants() -> list[int]:
    procs = _procs()
    return [p for p in _tree(procs, os.getpid())[1:] if p in procs]


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is running; return those still running."""
    deadline = time.monotonic() + timeout
    while True:
        procs = _procs()
        left = [p for p in pids if p in procs and procs[p][2] != "Z"]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)


def host_cpu() -> tuple[int, int, int]:
    """(steal, idle + iowait, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], vals[3] + vals[4], sum(vals[:8])
