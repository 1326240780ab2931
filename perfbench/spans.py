"""In-memory spans, Spark task counters and process memory.

A span is recorded around each call the benchmark makes into a layer
of the package. Spans live in memory and are written out once, when
the run ends. Spark counters are read per span as deltas of the status
store (readable with the UI disabled), so a layer's tasks, task time,
GC, shuffle and spill are measured where its work runs.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

#: Spark counters recorded per span; all but ``input_records`` are
#: reported per layer as ``<layer>.<counter>``.
COUNTERS = (
    "tasks",
    "failed_tasks",
    "task_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_records",
)


class SparkCounters:
    """Cumulative task counters of one SparkContext.

    ``executorList(true)`` gives the per-executor task totals; spill and
    input records exist only per stage, so they are summed over the
    stages whose id is newer than the last snapshot (stage ids grow
    monotonically)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._last_stage = -1
        self._stage_totals = {"spill_bytes": 0, "input_records": 0}

    def snapshot(self) -> dict[str, float]:
        # task-end events reach the status store through the listener
        # bus; drain it so the snapshot includes the jobs just finished
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        snap = dict.fromkeys(COUNTERS, 0.0)
        execs = store.executorList(True)
        for i in range(execs.size()):
            e = execs.apply(i)
            snap["tasks"] += e.totalTasks()
            snap["failed_tasks"] += e.failedTasks()
            snap["task_s"] += e.totalDuration() / 1000.0
            snap["gc_s"] += e.totalGCTime() / 1000.0
            snap["shuffle_write_bytes"] += e.totalShuffleWrite()
        stages = store.stageList(None, False, False, self._no_quantiles, None)
        newest = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid > self._last_stage and str(s.status().toString()) != "ACTIVE":
                self._stage_totals["spill_bytes"] += (
                    s.memoryBytesSpilled() + s.diskBytesSpilled()
                )
                self._stage_totals["input_records"] += s.inputRecords()
                newest = max(newest, sid)
        self._last_stage = newest
        snap.update(self._stage_totals)
        return snap


class Tracer:
    """Span recorder. ``span(name)`` nests: the enclosing open span is
    the parent. ``counters`` is None for a run with tracing off, which
    records spans without touching the status store."""

    def __init__(self, run_id: str, counters: SparkCounters | None = None) -> None:
        self.run_id = run_id
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        before = self.counters.snapshot() if self.counters else None
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if before is not None:
                after = self.counters.snapshot()
                rec["counters"] = {k: after[k] - before[k] for k in COUNTERS}

    def record(self, name: str, start: float, end: float, counters: dict) -> None:
        """Add a finished top-level span measured outside ``span()``."""
        self.spans.append({
            "id": len(self.spans), "name": name, "parent": None,
            "run_id": self.run_id, "attrs": {}, "start": start, "end": end,
            "counters": dict(counters),
        })

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its child spans cover (children
        run sequentially inside their parent, so they never overlap)."""
        kids = sum(c["end"] - c["start"] for c in self.children(span["id"]))
        return (span["end"] - span["start"]) - kids

    def self_counters(self, span: dict) -> dict[str, float]:
        own = dict(span.get("counters", {}))
        for c in self.children(span["id"]):
            for k, v in c.get("counters", {}).items():
                own[k] = own.get(k, 0.0) - v
        return own

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def layer_of(span_name: str) -> str:
    """``operators.graph.pagerank`` -> ``operators.graph``."""
    return span_name.rsplit(".", 1)[0]


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` (peak resident set) over this process and every
    process it started, in MiB: the Python driver plus its JVM."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process was started by the OS."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
