"""Per-layer tracing from outside the engine.

A ``Tracer`` wraps the public functions (and the public methods of
``TxLogTable`` and ``IncrementalAggView``) of every layer module, counts
py4j calls by wrapping ``ClientServerConnection.send_command``, and tags
the Spark jobs each call starts with a job group naming its span. After
the SparkContext stops, ``fold`` reads the zstd event log and
attributes jobs, tasks and task metrics to layers through those job
groups. Python-worker metrics come from the SQL metrics of the Python
plan nodes.

Spans are kept in memory: name, layer, start, end, parent and py4j
calls made while the span was innermost (object releases, which follow
Python's garbage collector, are not counted). A call from a layer into
itself opens no new span, so ``calls`` counts entries into the layer.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import time

import pyarrow as pa

PKG = "aiports_data_warehouse_etl_spark"

#: layer name -> (module, classes whose public methods are the layer's
#: public calls; None means the module's public functions)
LAYERS = {
    "session": ("session", None),
    "sources.io": ("sources.io", None),
    "plans.pipeline": ("plans.pipeline", None),
    "operators.dims": ("operators.dims", None),
    "operators.fact": ("operators.fact", None),
    "operators.validation": ("operators.validation", None),
    "operators.merge": ("operators.merge", None),
    "sources.txlog": ("sources.txlog", ["TxLogTable"]),
    "streaming.matview": ("streaming.matview", ["IncrementalAggView"]),
    "operators.dedup": ("operators.dedup", None),
    "operators.similarity": ("operators.similarity", None),
}
#: the Python workers are a layer without driver-side spans
PYWORKER = "pyworker"
#: the benchmark's own op code (its queries, collects and batch reads)
#: when the op exercises no single engine layer
BENCH = "bench"
SPAN_METRICS = ("calls", "self_s", "py4j_calls", "driver_gap_s")
JOB_METRICS = ("jobs", "tasks", "executor_cpu_s", "gc_s", "input_bytes",
               "shuffle_write_bytes", "spill_bytes")
PYWORKER_METRICS = ("data_sent_bytes", "data_received_bytes", "rows_received")
_GROUP = "perfbench-span-"
_RELEASE = "m\nd\n"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_ROWS = "number of output rows"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.phase = "setup"
        self.py4j_untagged = 0
        self._paused = 0
        self._sc = None
        self._patches: list[tuple[object, str, object]] = []
        #: seconds spent tagging job groups: the tracer's own driver cost
        self.tagging_s = 0.0
        #: rows Python workers returned, by the layer charged with the job
        self.python_rows: dict[str, int] = {}

    # -- install / uninstall ---------------------------------------------

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig_send = ClientServerConnection.send_command
        tracer = self

        @functools.wraps(orig_send)
        def send_command(conn, command, *a, **kw):
            # object releases ("m\nd\n...") follow Python's garbage
            # collector, not the engine's logic: they are not counted
            if not tracer._paused and not command.startswith(_RELEASE):
                if tracer.stack:
                    tracer.stack[-1]["py4j"] += 1
                else:
                    tracer.py4j_untagged += 1
            return orig_send(conn, command, *a, **kw)

        self._patch(ClientServerConnection, "send_command", send_command)
        pkg_modules = [m for n, m in list(sys.modules.items())
                       if m is not None and (n == PKG or n.startswith(PKG + "."))]
        for layer, (modname, classes) in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{modname}")
            if classes is None:
                for name, fn in list(vars(mod).items()):
                    if (name.startswith("_") or not inspect.isfunction(fn)
                            or fn.__module__ != mod.__name__):
                        continue
                    wrapped = self._wrap(layer, f"{modname}.{name}", fn)
                    for m in pkg_modules:
                        for attr, val in list(vars(m).items()):
                            if val is fn:
                                self._patch(m, attr, wrapped)
            else:
                for cname in classes:
                    cls = getattr(mod, cname)
                    for name, fn in list(vars(cls).items()):
                        if name.startswith("_") or not inspect.isfunction(fn):
                            continue
                        self._patch(cls, name, self._wrap(layer, f"{cname}.{name}", fn))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()

    def _patch(self, obj, attr: str, new) -> None:
        self._patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    def bind(self, spark) -> None:
        """Jobs are tagged through this session's SparkContext."""
        self._sc = spark.sparkContext

    # -- spans -----------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        if self._sc is None:
            return
        t0 = time.perf_counter()
        self._paused += 1
        try:
            self._sc.setLocalProperty(
                "spark.jobGroup.id", None if span is None else f"{_GROUP}{span['id']}")
        finally:
            self._paused -= 1
            self.tagging_s += time.perf_counter() - t0

    def untraced(self, fn):
        """``fn`` (a result check) with the spans it opens, the jobs they
        start and its py4j calls kept out of the op phase's figures."""
        tracer = self

        @functools.wraps(fn)
        def run(*a, **kw):
            phase, tracer.phase = tracer.phase, "check"
            tracer._paused += 1
            try:
                return fn(*a, **kw)
            finally:
                tracer._paused -= 1
                tracer.phase = phase
        return run

    def op(self, name: str, fn, layer: str = BENCH):
        """``fn`` (one benchmark op) inside a root span of ``layer``."""
        return self._wrap(layer, f"op.{name}", fn)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            stack = tracer.stack
            if stack and stack[-1]["layer"] == layer:
                return fn(*a, **kw)
            span = {"id": len(tracer.spans), "layer": layer, "name": name,
                    "parent": stack[-1]["id"] if stack else None,
                    "phase": tracer.phase, "py4j": 0, "start": time.time(), "end": None}
            tracer.spans.append(span)
            stack.append(span)
            tracer._set_group(span)
            try:
                return fn(*a, **kw)
            finally:
                stack.pop()
                tracer._set_group(stack[-1] if stack else None)
                span["end"] = time.time()
        return traced

    # -- folding ---------------------------------------------------------

    def layer_metrics(self, events: list[dict], phase_of_layer,
                      pyworker_cpu_s: float) -> dict:
        """Per-layer metrics. ``phase_of_layer(layer)`` names the phase
        whose spans count for that layer; ``pyworker_cpu_s`` is the CPU
        time the Python worker processes used in that phase."""
        spans = [s for s in self.spans if s["phase"] == phase_of_layer(s["layer"])]
        by_id = {s["id"]: s for s in self.spans}
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)

        jobs = _fold_jobs(events)
        busy = _union([(j["start"], j["end"]) for j in jobs.values()])
        out = {f"{layer}.{m}": 0 for layer in [*LAYERS, PYWORKER, BENCH]
               for m in SPAN_METRICS + JOB_METRICS}
        out.update({f"{PYWORKER}.{m}": 0 for m in PYWORKER_METRICS})
        span_ids = {s["id"] for s in spans}
        for s in spans:
            own = _subtract([(s["start"], s["end"])],
                            [(c["start"], c["end"]) for c in children.get(s["id"], [])])
            pre = s["layer"]
            out[f"{pre}.calls"] += 1
            out[f"{pre}.self_s"] += sum(b - a for a, b in own)
            out[f"{pre}.py4j_calls"] += s["py4j"]
            out[f"{pre}.driver_gap_s"] += sum(b - a for a, b in _subtract(own, busy))
        for j in jobs.values():
            sid = j["span"]
            if sid is None or sid not in span_ids:
                continue
            pre = by_id[sid]["layer"]
            out[f"{pre}.jobs"] += 1
            for k in JOB_METRICS[1:]:
                out[f"{pre}.{k}"] += j[k]
            py = j["python"]
            if py["tasks"]:
                out[f"{PYWORKER}.jobs"] += 1
                out[f"{PYWORKER}.tasks"] += py["tasks"]
                for k in ("executor_cpu_s", "gc_s", "input_bytes",
                          "shuffle_write_bytes", "spill_bytes"):
                    out[f"{PYWORKER}.{k}"] += py[k]
                for k in PYWORKER_METRICS:
                    out[f"{PYWORKER}.{k}"] += py[k]
                self.python_rows[pre] = self.python_rows.get(pre, 0) + py["rows_received"]
        # the workers have no driver-side spans: a call is one task
        # feeding a worker, and their busy time is their CPU time
        out[f"{PYWORKER}.calls"] = out[f"{PYWORKER}.tasks"]
        out[f"{PYWORKER}.self_s"] = pyworker_cpu_s
        return out


def pyworker_cpu_s() -> float:
    """CPU seconds used so far by this process's Python workers (the
    pyspark daemon, the workers it forked and those it reaped)."""
    from harness import descendants

    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if b"pyspark.daemon" not in argv and b"pyspark.worker" not in argv:
            continue
        f = stat[stat.rfind(")") + 2:].split()
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tick


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application log in ``log_dir``: a single file,
    or a rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` files."""
    names = os.listdir(log_dir)
    if len(names) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if os.path.isdir(path):
        parts = sorted((int(n.split("_")[1]), n) for n in os.listdir(path)
                       if n.startswith("events_"))
        files = [os.path.join(path, n) for _, n in parts]
    else:
        files = [path]
    events = []
    for f in files:
        codec = "zstd" if f.endswith(".zstd") else None
        with pa.input_stream(f, compression=codec) as fh:
            data = fh.read()
        events += [json.loads(line) for line in data.splitlines() if line.strip()]
    return events


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    """Accumulator ids of the Python-worker metrics of every Python
    plan node (the nodes that report data sent to Python workers)."""
    names = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if _PY_SENT in names:
        out[names[_PY_SENT]] = "data_sent_bytes"
        if _PY_RECV in names:
            out[names[_PY_RECV]] = "data_received_bytes"
        if _ROWS in names:
            out[names[_ROWS]] = "rows_received"
    for c in plan.get("children", []):
        _python_accumulators(c, out)


def _fold_jobs(events: list[dict]) -> dict[int, dict]:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    py_acc: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            _python_accumulators(e["sparkPlanInfo"], py_acc)
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[e["Job ID"]] = {
                "span": int(group[len(_GROUP):]) if group.startswith(_GROUP) else None,
                "start": e["Submission Time"] / 1000.0, "end": None,
                "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0,
                "python": {"tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
                           "input_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                           "data_sent_bytes": 0, "data_received_bytes": 0,
                           "rows_received": 0},
            }
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            if job is None:
                continue
            tm = e.get("Task Metrics") or {}
            vals = {
                "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                "input_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                "shuffle_write_bytes": (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "spill_bytes": tm.get("Disk Bytes Spilled", 0),
            }
            job["tasks"] += 1
            for k, v in vals.items():
                job[k] += v
            py = {}
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                k = py_acc.get(acc.get("ID"))
                if k is not None and acc.get("Update") is not None:
                    py[k] = py.get(k, 0) + int(acc["Update"])
            if py:
                p = job["python"]
                p["tasks"] += 1
                for k, v in vals.items():
                    p[k] += v
                for k, v in py.items():
                    p[k] += v
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return jobs


# ---------------------------------------------------------------------------
# interval arithmetic
# ---------------------------------------------------------------------------


def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _subtract(iv: list[tuple[float, float]], cut: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Parts of ``iv`` not covered by ``cut``."""
    cut = _union(cut)
    out = []
    for a, b in iv:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out
