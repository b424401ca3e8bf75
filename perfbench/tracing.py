"""Span recorder and Spark event-log reducer for the traced run.

``Tracer`` wraps each call into an engine layer. With tracing on, the
call's Spark jobs carry the job group ``<workload>:<span path>`` (the
path joins nested layer names with ``/``), and the tracer records the
span's wall time plus two robustness counters read around the call:
the number of persistent RDDs and ``spark.sql.shuffle.partitions``.
With tracing off, a span only times the call.

``reduce_event_log`` turns Spark's own event log into per-job-group
totals: jobs, tasks, shuffle bytes, spill, GC, worst task skew, and
the Python-worker bytes that the Arrow/pandas operators report as SQL
metrics.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metric names the Python-UDF operators (ArrowEvalPython,
# MapInPandas, ...) register in Spark 3.4+.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    path: str
    start: float
    end: float
    rdds_before: int = 0
    rdds_after: int = 0
    conf_changed: bool = False

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _persistent_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    @contextmanager
    def span(self, layer: str):
        """Time one call into ``layer``; when tracing, tag its jobs and
        read the counters around it. The time the tracer spends on its
        own bookkeeping is summed in ``overhead_s``."""
        stack = self._stack()
        stack.append(layer)
        path = "/".join(stack)
        sc = self.spark.sparkContext
        if self.enabled:
            b0 = time.perf_counter()
            before = self._persistent_rdds()
            conf = self.spark.conf.get("spark.sql.shuffle.partitions")
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"{self.workload}:{path}", path)
            booked = time.perf_counter() - b0
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            sp = Span(path, t0, t1)
            if self.enabled:
                sp.rdds_before, sp.rdds_after = before, self._persistent_rdds()
                sp.conf_changed = (
                    self.spark.conf.get("spark.sql.shuffle.partitions") != conf
                )
                if prev_group is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev_group, prev_group.split(":", 1)[-1])
                booked += time.perf_counter() - t1
            with self._lock:
                self.spans.append(sp)
                if self.enabled:
                    self.overhead_s += booked

    def wrap(self, obj, method: str, layer: str) -> None:
        """Replace ``obj.method`` by a spanned call, on this instance
        only, so spans are recorded in whichever thread calls it."""
        inner = getattr(obj, method)

        def traced(*a, **kw):
            with self.span(layer):
                return inner(*a, **kw)

        setattr(obj, method, traced)

    def of(self, layer: str) -> list[Span]:
        """Spans whose innermost layer is ``layer``."""
        return [s for s in self.spans if s.path.rsplit("/", 1)[-1] == layer]


# ------------------------------------------------------------ event log


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    python_bytes_sent: int = 0
    python_bytes_returned: int = 0
    max_task_skew: float = 1.0
    stage_task_ms: dict = field(default_factory=dict)

    def add(self, other: "GroupStats") -> None:
        for k in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_ms",
                  "python_bytes_sent", "python_bytes_returned"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.max_task_skew = max(self.max_task_skew, other.max_task_skew)


def _task_skew(durations: list[int]) -> float:
    """max / median task run time of one stage (1.0 for <2 tasks)."""
    if len(durations) < 2:
        return 1.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def reduce_event_log(path: str) -> dict[str, GroupStats]:
    """Per job group totals from one Spark event log file (or the
    single file inside an event-log directory). Jobs without a group
    are reduced under ``""``."""
    if os.path.isdir(path):
        files = [f for f in glob.glob(os.path.join(path, "*")) if not f.endswith(".crc")]
        if len(files) != 1:
            raise ValueError(f"expected one event log in {path}, found {files}")
        path = files[0]
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out.setdefault(g, GroupStats()).jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = out.setdefault(stage_group.get(sid, ""), GroupStats())
                st.tasks += 1
                m = ev.get("Task Metrics") or {}
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.stage_task_ms.setdefault(sid, []).append(m.get("Executor Run Time", 0))
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if name == PY_SENT:
                        st.python_bytes_sent += int(upd)
                    elif name == PY_RETURNED:
                        st.python_bytes_returned += int(upd)
    for st in out.values():
        for durations in st.stage_task_ms.values():
            st.max_task_skew = max(st.max_task_skew, _task_skew(durations))
    return out


def layer_stats(groups: dict[str, GroupStats], workload: str, layer: str) -> GroupStats:
    """Inclusive totals of ``layer``: every job group whose span path
    contains it (its own jobs and those of layers it called)."""
    total = GroupStats()
    prefix = workload + ":"
    for g, st in groups.items():
        if g.startswith(prefix) and layer in g[len(prefix):].split("/"):
            total.add(st)
    return total
