"""Observation from outside the program: in-memory spans around the
package's public functions, Spark job tagging, the event-log reader and
a streaming progress listener. Nothing here changes what the program
computes.

Spans: `Tracer.span(name)` records (name, start, end, parent). A span's
parent is the innermost span still open when it starts, on any thread:
foreachBatch callbacks run on the Py4J callback thread while the main
thread blocks inside the stream drain, so they nest under the drain span.
Self time = duration minus the union of the children's intervals.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

OP_PROPERTY = "perfbench.op"  # local property carried by every job of an op
PHASE_PROPERTY = "perfbench.phase"  # "plan" while a query builds, "exec" in its action


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._open: list[dict] = []
        self._lock = threading.Lock()

    def count(self, name: str, by: float = 1) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + by

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            s = {"name": name, "start": time.perf_counter(), "end": None, "id": len(self.spans),
                 "parent": self._open[-1]["id"] if self._open else None, **attrs}
            self.spans.append(s)
            self._open.append(s)
        try:
            yield s
        finally:
            with self._lock:
                s["end"] = time.perf_counter()
                self._open.remove(s)

    def self_times(self) -> dict[str, float]:
        """Self seconds summed per span name."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_len([(c["start"], c["end"]) for c in children.get(s["id"], [])])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def wrap_everywhere(module, name: str, make_wrapper) -> None:
    """Replace `module.name` and every alias of it that other loaded
    modules imported with `from module import name`."""
    orig = getattr(module, name)
    wrapped = make_wrapper(orig)
    for mod in list(sys.modules.values()):
        d = getattr(mod, "__dict__", None)
        if not d:
            continue
        for k, v in list(d.items()):
            if v is orig:
                setattr(mod, k, wrapped)


def install_wrappers(tracer: Tracer, pkg: str) -> None:
    """Spans and counts around the package functions the per-layer table
    names. Call after every package module is imported."""
    import importlib

    artifacts = importlib.import_module(f"{pkg}.functions.artifacts")
    cachepool = importlib.import_module(f"{pkg}.functions.cachepool")
    layout = importlib.import_module(f"{pkg}.plans.layout")

    def trained(orig):
        @functools.wraps(orig)
        def w(key, build):
            hit = key in artifacts._STORE
            tracer.count("functions.artifacts.calls")
            tracer.count("functions.artifacts.hits", int(hit))
            with tracer.span("functions.artifacts", hit=hit):
                return orig(key, build)
        return w

    def counted(metric):
        def make(orig):
            @functools.wraps(orig)
            def w(*a, **k):
                tracer.count(metric)
                return orig(*a, **k)
            return w
        return make

    def write_layer(orig):
        @functools.wraps(orig)
        def w(df, root, layer, name, **k):
            with tracer.span("plans.layout", layer=layer):
                path = orig(df, root, layer, name, **k)
            n_bytes, n_files = dir_size(path)
            tracer.count("plans.layout.bytes_written", n_bytes)
            tracer.count("plans.layout.files_written", n_files)
            return path
        return w

    wrap_everywhere(artifacts, "trained_artifact", trained)
    wrap_everywhere(cachepool, "managed_persist", counted("functions.cachepool.persists"))
    wrap_everywhere(cachepool, "managed_broadcast", counted("functions.cachepool.broadcasts"))
    wrap_everywhere(layout, "write_layer", write_layer)


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under path, ignoring Spark's hidden/marker files."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


# --- Spark event log -------------------------------------------------------

# SQL metric accumulables read from TaskEnd, by name -> (metric, seconds
# per unit or 1 for sizes). Timing metrics are milliseconds except the
# nanosecond shuffle write time.
ACCUMULABLES = {
    "scan time": ("spark.scan.time_s", 1e-3),
    "time in aggregation build": ("spark.aggregate.build_s", 1e-3),
    "sort time": ("spark.sort.time_s", 1e-3),
    "time to build hash map": ("spark.join.build_s", 1e-3),
    "fetch wait time": ("spark.exchange.fetch_wait_s", 1e-3),
    "shuffle write time": ("spark.exchange.write_s", 1e-9),
    "time to run Python workers": ("spark.python.run_s", 1e-3),
    "time to start Python workers": ("spark.python.start_s", 1e-3),
    "time to initialize Python workers": ("spark.python.start_s", 1e-3),
    "data sent to Python workers": ("spark.python.bytes_sent", 1),
}

EVENTLOG_METRICS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "spark.spill_bytes",
    "spark.peak_exec_mem_bytes", "spark.result_bytes", "spark.scan.bytes",
    "spark.exchange.write_bytes", "registry.eager_jobs",
] + sorted({m for m, _ in ACCUMULABLES.values()})


def read_event_log(paths: list[str], *, only_tagged: bool = True) -> dict[str, float]:
    """Sum task and job metrics over the jobs whose properties carry
    OP_PROPERTY (all jobs when only_tagged is False), reading the log
    files in order. Stdlib only."""
    out = {m: 0.0 for m in EVENTLOG_METRICS}
    tagged_stages: set[int] = set()
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if only_tagged and not props.get(OP_PROPERTY):
                continue
            out["spark.jobs"] += 1
            out["registry.eager_jobs"] += props.get(PHASE_PROPERTY) == "plan"
            ids = ev.get("Stage IDs") or [s["Stage ID"] for s in ev.get("Stage Infos", [])]
            tagged_stages.update(ids)
        elif kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in tagged_stages:
                out["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if ev.get("Stage ID") not in tagged_stages:
                continue
            _add_task(out, ev)
    return out


def _add_task(out: dict[str, float], ev: dict) -> None:
    out["spark.tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        out["spark.tasks_failed"] += 1
    tm = ev.get("Task Metrics") or {}
    out["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    out["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    out["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    out["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    out["spark.peak_exec_mem_bytes"] = max(out["spark.peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0))
    out["spark.result_bytes"] += tm.get("Result Size", 0)
    out["spark.scan.bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    out["spark.exchange.write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        hit = ACCUMULABLES.get(acc.get("Name"))
        if hit is None:
            continue
        try:
            out[hit[0]] += float(acc.get("Update", 0)) * hit[1]
        except (TypeError, ValueError):
            continue


def _lines(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            yield from f


def find_event_log(log_dir: str, app_id: str) -> list[str]:
    """The finished event log of `app_id`: one file, or with rolling logs
    (Spark's default) the `events_<n>_` parts of `eventlog_v2_<app_id>`
    in order."""
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolled):
        parts = [n for n in os.listdir(rolled) if n.startswith("events_") and not n.endswith(".inprogress")]
        if parts:
            parts.sort(key=lambda n: int(n.split("_")[1]))
            return [os.path.join(rolled, n) for n in parts]
    plain = os.path.join(log_dir, app_id)
    if os.path.isfile(plain):
        return [plain]
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")


# --- streaming -------------------------------------------------------------


def progress_listener(spark):
    """Register and return a StreamingQueryListener collecting, per batch
    id, each progress event's (triggerExecution, addBatch) seconds."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.durations: dict[int, tuple[float, float]] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows > 0:
                d = p.durationMs
                self.durations[p.batchId] = (d.get("triggerExecution", 0) / 1e3, d.get("addBatch", 0) / 1e3)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener
