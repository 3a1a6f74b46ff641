"""Spans and Spark statistics for the traced run, read from outside the
engine: the benchmark times its own calls into the engine's public
functions, wraps the public methods of the ``Catalog`` and ``RunContext``
instances it constructs, and reads Spark's own status store.

Spans live in memory and are written out when the run ends. Each span is
``(name, layer, start, end, parent, op)``; a layer's total counts only
its outermost spans, so a catalog call made inside another catalog call
is not counted twice.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

#: public methods the traced run wraps, per layer
CATALOG_METHODS = (
    "create_layers", "drop_layers", "resolve_table", "create_table",
    "table_exists", "drop_table", "add_column", "read", "refresh", "append",
    "overwrite",
)
RUNCONTEXT_METHODS = (
    "start_process", "end_process", "log_lineage", "log_error",
    "record_metric", "flush", "close",
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, layer, time.perf_counter(), None, parent, self.op])
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx][3] = time.perf_counter()

    def wrap(self, obj, layer: str, names) -> None:
        """Time every call to ``obj``'s listed methods as ``layer`` spans
        (instance attributes shadow the class methods; the class is not
        touched)."""
        for name in names:
            fn = getattr(obj, name)

            @functools.wraps(fn)
            def traced(*a, __fn=fn, __name=name, **kw):
                with self.span(f"{layer}.{__name}", layer):
                    return __fn(*a, **kw)

            setattr(obj, name, traced)

    def layer_totals(self, layer: str, since: int = 0) -> tuple[int, float]:
        """(outermost call count, seconds) of ``layer`` spans from index
        ``since`` on."""
        calls, secs = 0, 0.0
        for name, lay, t0, t1, parent, _op in self.spans[since:]:
            if lay != layer or t1 is None:
                continue
            if parent is not None and self.spans[parent][1] == layer:
                continue
            calls += 1
            secs += t1 - t0
        return calls, secs

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for name, layer, t0, t1, parent, op in self.spans:
                fh.write(json.dumps({"name": name, "layer": layer, "start": t0,
                                     "end": t1, "parent": parent, "op": op}) + "\n")


# ---------------------------------------------------------------------------
# Spark's status store
# ---------------------------------------------------------------------------

#: v1.StageData accessor -> (stat, scale to final unit)
_STAGE_STATS = (
    ("executorRunTime", "task_s", 1e-3),
    ("executorCpuTime", "task_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("inputBytes", "input_mb", 1e-6),
    ("inputRecords", "input_rows", 1),
    ("outputBytes", "output_mb", 1e-6),
    ("outputRecords", "output_rows", 1),
    ("shuffleReadBytes", "shuffle_read_mb", 1e-6),
    ("shuffleWriteBytes", "shuffle_write_mb", 1e-6),
    ("memoryBytesSpilled", "spill_mb", 1e-6),
    ("diskBytesSpilled", "spill_mb", 1e-6),
)
STAT_KEYS = ("jobs", "stages", "tasks", "covered_s") + tuple(
    dict.fromkeys(s for _, s, _ in _STAGE_STATS)
)


class JobWatcher:
    """Attributes Spark jobs to the benchmark's operations by job id.

    Operations run one at a time, so the jobs an operation caused are
    exactly the ids submitted between its start and its end (threads the
    engine starts inside an operation included). Job ids are dense, so
    new jobs are found by probing upward from the last id seen."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.tracker = self.sc.statusTracker()
        self.next_id = 0
        self.mark()

    def _drain(self) -> None:
        self.bus.waitUntilEmpty()

    def mark(self) -> None:
        """Skip every job submitted so far."""
        self._drain()
        self._probe()

    def _probe(self) -> list[int]:
        ids = []
        while self.tracker.getJobInfo(self.next_id) is not None:
            ids.append(self.next_id)
            self.next_id += 1
        return ids

    def collect(self) -> dict[str, float]:
        """Statistics of the jobs submitted since the last call."""
        self._drain()
        out = dict.fromkeys(STAT_KEYS, 0.0)
        stages: set[int] = set()
        intervals = []
        for jid in self._probe():
            out["jobs"] += 1
            job = self.store.job(jid)
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime(), end.get().getTime()))
            it = job.stageIds().iterator()
            while it.hasNext():
                stages.add(int(it.next()))
        for sid in sorted(stages):
            try:
                s = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage that never ran
                continue
            if str(s.status()) != "COMPLETE":
                continue  # SKIPPED reused an earlier stage's output
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            for accessor, stat, scale in _STAGE_STATS:
                out[stat] += float(getattr(s, accessor)()) * scale
        covered, last = 0, None
        for a, b in sorted(intervals):
            if last is None or a > last:
                covered += b - a
                last = b
            elif b > last:
                covered += b - last
                last = b
        out["covered_s"] = covered / 1000
        return out


_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def plan_shape(df) -> dict[str, int]:
    """Exchange, Sort and Python-node counts of ``df``'s physical plan
    (the adaptive plan's initial form, which does not depend on run-time
    statistics)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    counts = {"exchanges": 0, "sorts": 0, "python_nodes": 0}
    for line in text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node in ("Exchange", "BroadcastExchange", "ShuffleExchange"):
            counts["exchanges"] += 1
        elif node == "Sort":
            counts["sorts"] += 1
        elif "Python" in node or "InPandas" in node or "InArrow" in node:
            counts["python_nodes"] += 1
    return counts


def descendants(root_pid: int) -> list[int]:
    """Every live process under ``root_pid`` (the JVM and the Python
    workers under a PySpark driver)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def calibrate(loops: int = 5) -> float:
    """Seconds of a fixed single-thread loop (~0.07 s): the median of
    ``loops`` short runs, times ``loops``. A shared machine's speed drifts
    by tens of percent within minutes; dividing a pass's time by the
    fastest of the calibrations taken between its operations removes much
    of that drift. One short run alone spread ~0.35 (interquartile range
    over median) on an idle 4-core VM, the median of five ~0.26; the
    fastest of several is steadier still, as a neighbour's burst only
    ever slows a calibration down."""
    times = []
    for _ in range(loops):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000 // loops))
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * loops


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every live
    descendant: the Python driver, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024
