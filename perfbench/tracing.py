"""Spans, Spark event-log aggregation and process memory for the harness.

The harness records a span around each call it makes into a package
layer and tags the Spark jobs started inside it with the span's key,
``layer/call`` (a thread-local SparkContext property).  After a traced run the event
log, written uncompressed and non-rolling, is parsed with the standard
library and its task counters are summed per layer.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"

# Spark counters summed per layer from the event log.
SPARK_COUNTERS = (
    "jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "driver_residual_ms",
)
# Plan nodes that run Python (Arrow or pickled batches).
PYTHON_NODE_PREFIXES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                        "MapInArrow", "FlatMapGroupsInPandas", "PythonMapInArrow")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session config for a plain-JSON event log the parser can read."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    layer: str
    call: str
    start: float  # epoch seconds, the clock the event log uses
    end: float
    parent: int | None

    @property
    def key(self) -> str:
        return f"{self.layer}/{self.call}"


class Tracer:
    """Spans kept in memory; a disabled tracer records nothing.

    ``span`` nests per thread, so a ``foreachBatch`` callback thread
    keeps its own stack.
    """

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, layer: str, call: str, parent: int | None = None):
        """Yield the span's index; ``parent`` (an index) overrides the
        enclosing span of this thread, for callbacks run on another."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        prev = self.sc.getLocalProperty(SPAN_PROPERTY)
        self.sc.setLocalProperty(SPAN_PROPERTY, f"{layer}/{call}")
        start = time.time()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(layer, call, start, start, parent))
        stack.append(idx)
        try:
            yield idx
        finally:
            stack.pop()
            self.spans[idx].end = time.time()
            self.sc.setLocalProperty(SPAN_PROPERTY, prev)

    def close(self) -> None:
        """Stop recording; the spans so far are kept."""
        self.sc = None

    def wrap(self, module, name: str, layer: str):
        """Replace ``module.name`` with a spanned wrapper (traced runs
        only), so calls the package makes internally are spanned too.
        Returns the original function."""
        fn = getattr(module, name)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        setattr(module, name, spanned)
        return fn

    def seconds(self, call: str) -> float:
        """Total wall time of the spans of ``call``."""
        return sum(s.end - s.start for s in self.spans if s.call == call)

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's child spans."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = _union_length(children[i], s.start, s.end)
            out[s.layer] += (s.end - s.start) - covered
        return dict(out)


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def parse_event_log(path: str, spans: list[Span] | None = None) -> dict:
    """Aggregate one application's event log per span key.

    Returns ``{"spans": {key: {counter: value}}, "python": {key: {SQL
    metric name: value}}}`` where the Python metrics are those of plan
    nodes that run Python.  Jobs are attributed by the
    ``perfbench.span`` job property; jobs without it fall under
    ``"none"``.  ``driver_residual_ms`` needs ``spans``: for each span it
    is the span's wall time not covered by its own jobs or by its child
    spans, i.e. driver-side time of the layer itself.
    """
    job_layer: dict[int, str] = {}
    job_times: dict[int, list[float]] = {}
    stage_layer: dict[int, str] = {}
    sql_metric: dict[int, tuple[str, str]] = {}
    task_accums: list[tuple[str, int, float]] = []
    layers: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(SPARK_COUNTERS, 0.0)
    )
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                layer = (ev.get("Properties") or {}).get(SPAN_PROPERTY) or "none"
                job_layer[ev["Job ID"]] = layer
                job_times[ev["Job ID"]] = [ev["Submission Time"] / 1000, None]
                for sid in ev["Stage IDs"]:
                    stage_layer.setdefault(sid, layer)
                layers[layer]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_times:
                    job_times[ev["Job ID"]][1] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev["Stage ID"], "none")
                c = layers[layer]
                c["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                c["executor_run_ms"] += tm.get("Executor Run Time", 0)
                c["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                c["gc_ms"] += tm.get("JVM GC Time", 0)
                rd = tm.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                wr = tm.get("Shuffle Write Metrics") or {}
                c["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if isinstance(acc.get("Update"), (int, float)) or str(
                        acc.get("Update", "")
                    ).lstrip("-").isdigit():
                        task_accums.append((layer, acc["ID"], float(acc["Update"])))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(ev["sparkPlanInfo"], sql_metric)
    python: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for layer, acc_id, update in task_accums:
        node, name = sql_metric.get(acc_id, ("", ""))
        if node.startswith(PYTHON_NODE_PREFIXES):
            python[layer][name] += update
    spans = spans or []
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    for i, s in enumerate(spans):
        busy = children[i] + [
            (b, e) for j, (b, e) in job_times.items() if job_layer[j] == s.key and e is not None
        ]
        covered = _union_length(busy, s.start, s.end)
        layers[s.key]["driver_residual_ms"] += max(0.0, (s.end - s.start) - covered) * 1000
    return {
        "spans": {k: dict(v) for k, v in layers.items()},
        "python": {k: dict(v) for k, v in python.items()},
    }


def by_layer(per_key: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Sum ``layer/call`` keyed counters per layer."""
    out: dict[str, dict[str, float]] = {}
    for key, counters in per_key.items():
        acc = out.setdefault(key.split("/", 1)[0], {})
        for name, v in counters.items():
            acc[name] = acc.get(name, 0.0) + v
    return out


def find_event_log(log_dir: str) -> str:
    """The single finished (not ``.inprogress``) log in ``log_dir``."""
    logs = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])


def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reset_peak_rss() -> None:
    """Reset VmHWM to the current RSS in this process and its live
    descendants (Linux ``clear_refs``), so the next read is the peak
    since now."""
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def peak_rss_mb_by_process() -> dict[str, float]:
    """VmHWM in MB of this process and each live descendant (the JVM and
    the Python workers it forked), keyed ``name:pid``."""
    out = {}
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def cpu_seconds() -> float:
    """User plus system CPU time of this process and its live
    descendants, including the children each has reaped (so a Python
    worker that exits still counts, under its parent).  Linux leaves
    time the hypervisor took out of these counters."""
    total = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs so far,
    summed over CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")
