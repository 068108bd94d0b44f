"""Outside-in measurement: spans around calls into engine layers, the
Spark counters of the jobs each call launched, and process CPU/memory.

A ``Tracer`` records one span per wrapped call (name, start, end,
parent, run id). While tracing is on, each span runs under its own Spark
job group, set before the call so that jobs launched while a query is
being built are counted too. The counters of a span's jobs are read from
the status store by ``collect``, which the harness calls between passes,
so the reads fall outside every measured operation. With tracing off
``span`` only measures wall time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_COUNTERS = (
    "jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
    "shuffle_bytes", "spill_bytes", "input_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "run": self.run, "start": self.start, "end": self.end,
            **({"attrs": self.attrs} if self.attrs else {}),
            **({"counters": self.counters} if self.counters else {}),
        }


class Tracer:
    """Span recorder. ``enabled`` turns on job groups and counters; the
    spans themselves (wall times) are always kept, so the untraced run
    computes its end-to-end figures from the same records."""

    def __init__(self, spark, enabled: bool, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._pending: list[Span] = []
        #: wall seconds spent setting job groups inside the spans (the
        #: part of tracing that lands inside measured operations)
        self.overhead_s = 0.0
        #: wall seconds spent reading counters (between passes)
        self.collect_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                  self.run_id, 0.0, attrs=attrs)
        self.spans.append(sp)
        prev_group = None
        if self.enabled:
            t = time.perf_counter()
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            sp.group = f"perfbench-{self.run_id}-{sp.id}"
            self.sc.setJobGroup(sp.group, name, False)
            self._pending.append(sp)
            self.overhead_s += time.perf_counter() - t
        self._stack.append(sp.id)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                t = time.perf_counter()
                self._restore_group(prev_group)
                self.overhead_s += time.perf_counter() - t

    def _restore_group(self, group: str | None) -> None:
        if group:
            self.sc.setJobGroup(group, group, False)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def collect(self) -> None:
        """Attach status-store counters to every span ended since the last
        call; each span counts only the jobs of its own group. Jobs and
        stages come back as one JSON document each (per-object py4j calls
        cost milliseconds apiece), so call this between passes."""
        if not self.enabled or not self._pending:
            return
        t = time.perf_counter()
        jsc, jvm = self.sc._jsc.sc(), self.sc._jvm
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(mapper.writeValueAsString(store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())))
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup"), []).append(j)
        done: dict[int, list[dict]] = {}
        for sd in stages:
            if sd["status"] == "COMPLETE":
                done.setdefault(sd["stageId"], []).append(sd)
        for sp in self._pending:
            c = dict.fromkeys(_COUNTERS, 0)
            group_jobs = by_group.get(sp.group, [])
            c["jobs"] = len(group_jobs)
            for sid in {s for j in group_jobs for s in j["stageIds"]}:
                for sd in done.get(sid, []):
                    c["stages"] += 1
                    c["tasks"] += sd["numCompleteTasks"]
                    c["executor_cpu_s"] += sd["executorCpuTime"] / 1e9
                    c["executor_run_s"] += sd["executorRunTime"] / 1e3
                    c["shuffle_bytes"] += sd["shuffleWriteBytes"]
                    c["spill_bytes"] += sd["diskBytesSpilled"]
                    c["input_bytes"] += sd["inputBytes"]
            sp.counters = c
        self._pending.clear()
        self.collect_s += time.perf_counter() - t

    # -- analysis -------------------------------------------------------------

    def self_time(self, sp: Span) -> float:
        return sp.wall - sum(c.wall for c in self.spans if c.parent == sp.id)

    def subtree_counters(self, sp: Span) -> dict:
        """Counters of a span plus all of its descendants."""
        total = dict.fromkeys(_COUNTERS, 0)
        for k, v in sp.counters.items():
            total[k] += v
        for child in (c for c in self.spans if c.parent == sp.id):
            for k, v in self.subtree_counters(child).items():
                total[k] += v
        return total

    def sum_counters(self, spans) -> dict:
        """Counters summed over ``spans``, each with its descendants."""
        total = dict.fromkeys(_COUNTERS, 0)
        for sp in spans:
            for k, v in self.subtree_counters(sp).items():
                total[k] += v
        return total

    def dump(self) -> list[dict]:
        return [s.as_dict() for s in self.spans]


# -- process accounting --------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant (the JVM, its Python workers)."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process tree, reaped children included."""
    total = 0
    for pid in process_tree():
        st = _stat(pid)
        if st is not None:
            # utime stime cutime cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in st[11:15])
    return total / _CLK_TCK


def peak_rss_by_process() -> dict[str, float]:
    """Peak resident set (MB) of each live process in the tree, keyed
    ``<pid>:<command>``."""
    out = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out
