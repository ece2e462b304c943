"""Closed-loop driver shared by the three workloads.

One client: the next op starts only after the previous one returned
and its result was checked. Op timings cover the op alone; checks run
outside the timed interval.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable

#: A/B environment knobs of the engine. Both sides of a comparison must
#: run the same program, so the benchmark refuses to run with any set.
AB_KNOBS = (
    "SPARK_GRAFT_MV_JOIN_MERGE",
    "SPARK_GRAFT_NO_TXLOG_MEMO",
    "SPARK_GRAFT_NO_TD_CACHE",
    "SPARK_GRAFT_NO_PAR_FLOOR",
    "SPARK_GRAFT_DRIVER_LIST_MAX",
)


@dataclass
class Op:
    """One operation of a workload cycle.

    ``kind`` is ``write`` (commits or sinks data), ``read`` or
    ``refresh``. ``check`` receives ``fn``'s return value and returns
    an error string, or None when the result is right. ``rows`` is the
    number of input rows the op consumes (for ``rows_per_s``).
    ``layer`` is the engine layer the op exercises: a traced run
    charges it with the Spark jobs the op starts outside any deeper
    layer (a lazy plan's jobs start at the op's own ``collect``).
    """

    name: str
    kind: str
    fn: Callable[[], Any]
    check: Callable[[Any], str | None]
    rows: int = 0
    layer: str = "bench"


@dataclass
class OpRecord:
    name: str
    kind: str
    seconds: float
    ok: bool
    rows: int
    raised: bool = False


@dataclass
class LoopResult:
    records: list[OpRecord] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return sum(r.seconds for r in self.records)


def run_op(op: Op, out: LoopResult) -> None:
    """Time ``op``, then check its result outside the timed interval."""
    t0 = time.perf_counter()
    try:
        result = op.fn()
    except Exception:  # an op that raises is a failed op, not a crash
        dt = time.perf_counter() - t0
        out.records.append(OpRecord(op.name, op.kind, dt, False, op.rows, raised=True))
        out.errors.append(f"{op.name} raised:\n{traceback.format_exc()}")
        return
    dt = time.perf_counter() - t0
    try:
        err = op.check(result)
    except Exception:
        err = f"check raised:\n{traceback.format_exc()}"
    out.records.append(OpRecord(op.name, op.kind, dt, err is None, op.rows))
    if err is not None:
        out.errors.append(f"{op.name}: {err}")


def closed_loop(next_cycle: Callable[[], Iterable[Op]], cycles: int) -> LoopResult:
    """Run ``cycles`` whole cycles of ops, one op at a time."""
    out = LoopResult()
    for _ in range(cycles):
        for op in next_cycle():
            run_op(op, out)
    return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def environment(spark) -> dict:
    """What a reader needs to compare two runs."""
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "1g (default)"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "txlog_flush_policy": "commit log entry fsync'd before it is linked into place; "
                              "data files not fsync'd",
    }


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least 10 samples above it. With
    fewer than 20 samples no percentile above the median has that, and
    the tail is the maximum (percentile 100)."""
    if n < 20:
        return 100
    return int(math.floor(100.0 * (n - 10) / n))


def latency_summary(values: list[float]) -> dict:
    """Median and tail of ``values``, with the sample count and which
    percentile the tail is."""
    pct = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "tail": percentile(values, pct),
        "tail_pct": pct,
    }


# ---------------------------------------------------------------------------
# process tree: resident memory, and stopping what was started
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


#: seconds between two RSS samples
RSS_PERIOD = 0.5


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the JVM and the Python workers) every ``RSS_PERIOD`` seconds."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(RSS_PERIOD):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def stop_spark_processes(spark) -> None:
    """Stop the SparkContext, then the gateway JVM, and wait until the
    JVM and every Python worker it forked have exited."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    print(f"warning: processes still alive after stop: {alive}", file=sys.stderr)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return True
    return stat[stat.rfind(")") + 2] == "Z"


def dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total
