"""Spans, Spark status-store counters and JVM GC readings for the benchmark.

The timed run and the traced run share this module. In the timed run the
``Tracer`` is disabled: its calls only yield and nothing is recorded. In
the traced run every span gets its own Spark job group, so the jobs a call
starts can be found again in the status store (which works with
``spark.ui.enabled=false``); spans stay in memory and are written out once,
at exit, as JSON lines.

A span is ``{id, name, phase, parent, unit, start, end}``: ``name`` is the
public function called, ``phase`` one of ``construct`` (the Python call
that returns the DataFrame), ``plan`` (time to the executed plan),
``exec`` (the action) or ``call`` (a call that is its own action), and
``unit`` the index of the workload unit it ran in.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager

# StageData getter -> counter name, summed over a span's jobs' stages.
STAGE_FIELDS = {
    "numTasks": "tasks",
    "shuffleWriteBytes": "shuffle_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "inputBytes": "input_bytes",
    "jvmGcTime": "gc_ms",
}
COUNTERS = ("jobs", *STAGE_FIELDS.values())


class GcReader:
    """Cumulative GC time and count and heap in use of the Spark JVM (in
    local mode one JVM plans and runs the tasks), via the GC MXBeans."""

    def __init__(self, spark):
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def read(self) -> dict:
        beans = self._mf.getGarbageCollectorMXBeans()
        return {
            "gc_s": sum(b.getCollectionTime() for b in beans) / 1000.0,
            "gc_count": sum(b.getCollectionCount() for b in beans),
            "heap_used_bytes": self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed(),
        }


class StageCollector:
    """Per-job-group Spark counters, read from the status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(group, group, False)

    def counters(self, group: str) -> dict:
        store = self._jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            sids = store.job(jid).stageIds()
            for i in range(sids.size()):
                sd = store.lastStageAttempt(sids.apply(i))
                if str(sd.status()) == "SKIPPED":
                    continue
                for getter, name in STAGE_FIELDS.items():
                    out[name] += getattr(sd, getter)()
        return out

    def collect(self, spans: list[dict]) -> None:
        """Attach counters to grouped spans, once the listener bus has
        delivered every event (so the store holds final figures)."""
        self._jsc.listenerBus().waitUntilEmpty()
        for sp in spans:
            sp.update(self.counters(sp["group"]))


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.paused = False
        self._lock = threading.Lock()
        self.spans: list[dict] = []
        self.unit: int | None = None
        self.overhead_s = 0.0  # time spent in tracer bookkeeping inside units
        self._stack: list[dict] = []
        self._open: dict | None = None  # a span closed by the next begin()
        self._pending: list[dict] = []
        self._collector = StageCollector(spark) if enabled else None

    def begin(self, name: str, phase: str) -> dict | None:
        """Open a span that owns a fresh job group. It stays open until
        ``end`` is called or, for spans opened with ``begin_open``, until
        the next span starts."""
        if not self.enabled or self.paused:
            return None
        t0 = time.perf_counter()
        self._close_open()
        sp = {
            "id": len(self.spans), "name": name, "phase": phase, "unit": self.unit,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"pb-{len(self.spans)}",
        }
        self.spans.append(sp)
        self._pending.append(sp)
        self._stack.append(sp)
        self._collector.set_group(sp["group"])
        sp["start"] = time.perf_counter()
        self.overhead_s += sp["start"] - t0
        return sp

    def end(self, sp: dict | None) -> None:
        if sp is None:
            return
        sp["end"] = time.perf_counter()
        self._close_open()
        self._stack.remove(sp)
        parent = self._stack[-1]["group"] if self._stack else None
        self._collector.set_group(parent)
        self.overhead_s += time.perf_counter() - sp["end"]

    def begin_open(self, name: str, phase: str) -> None:
        """A span that ends when the next span begins or its parent ends:
        for steps that run inside a package call between two hooks."""
        sp = self.begin(name, phase)
        if sp is not None:
            self._stack.remove(sp)
            self._open = sp

    def _close_open(self) -> None:
        if self._open is not None:
            self._open["end"] = time.perf_counter()
            self._open = None

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished ``call`` span timed elsewhere (no job group);
        callable from several threads."""
        if self.enabled:
            with self._lock:
                self.spans.append(
                    {"id": len(self.spans), "name": name, "phase": "call", "unit": self.unit,
                     "parent": None, "start": start, "end": end}
                )

    @contextmanager
    def side_by_side(self):
        """Pause span recording while calls run in several threads."""
        self.paused = True
        try:
            yield
        finally:
            self.paused = False

    @contextmanager
    def span(self, name: str, phase: str = "call"):
        sp = self.begin(name, phase)
        try:
            yield sp
        finally:
            self.end(sp)

    def collect(self) -> None:
        """Read the counters of finished spans; called between units."""
        if self.enabled and self._pending:
            self._collector.collect(self._pending)
            self._pending = []

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, sort_keys=True) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        covered, reach = 0.0, sp["start"]
        for s, e in sorted(kids.get(sp["id"], [])):
            s, e = max(s, reach), min(e, sp["end"])
            if e > s:
                covered += e - s
                reach = e
        out[sp["id"]] = sp["end"] - sp["start"] - covered
    return out


def layer_metrics(spans: list[dict], units: set[int]) -> dict[str, float]:
    """Medians over the calls made in ``units``:

    - ``<name>.<phase>_s``: the phase's wall time; for ``call`` spans with
      child spans also ``<name>.self_s``, the time outside the children;
    - ``<name>.<counter>``: jobs, tasks and bytes summed over every phase
      of one call (``gc_ms`` becomes ``gc_s``).
    """
    st = self_times(spans)
    phases: dict[tuple[str, str], list[float]] = {}
    selfs: dict[str, list[float]] = {}
    calls: dict[tuple[str, int, int], dict] = {}
    parents = {sp["parent"] for sp in spans}
    seq: dict[tuple[str, int], int] = {}
    for sp in spans:
        if sp["unit"] not in units:
            continue
        phases.setdefault((sp["name"], sp["phase"]), []).append(sp["end"] - sp["start"])
        if sp["phase"] == "call" and sp["id"] in parents:
            selfs.setdefault(sp["name"], []).append(st[sp["id"]])
        # a call = the phases of one name in one unit, in order; a new
        # construct/call phase starts the next call of that name
        key = (sp["name"], sp["unit"])
        if sp["phase"] in ("construct", "call"):
            seq[key] = seq.get(key, -1) + 1
        c = calls.setdefault((sp["name"], sp["unit"], seq.get(key, 0)), dict.fromkeys(COUNTERS, 0))
        for m in COUNTERS:
            c[m] += sp.get(m, 0)
    out: dict[str, float] = {}
    for (name, phase), v in phases.items():
        out[f"{name}.{phase}_s"] = statistics.median(v)
    for name, v in selfs.items():
        out[f"{name}.self_s"] = statistics.median(v)
    per_name: dict[str, list[dict]] = {}
    for (name, _, _), c in calls.items():
        per_name.setdefault(name, []).append(c)
    for name, cs in per_name.items():
        for m in COUNTERS:
            v = statistics.median(c[m] for c in cs)
            if m == "gc_ms":
                out[f"{name}.gc_s"] = v / 1000.0
            else:
                out[f"{name}.{m}"] = v
    return out
