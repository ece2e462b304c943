"""The workloads, and the timed and traced runs over them."""

from __future__ import annotations

import dataclasses
import json
import math
import os
import time

import pyarrow.parquet as pq

from aiports_data_warehouse_etl_spark import session

import harness
import layertrace
from corpus_dedup import CorpusDedup
from flights_etl import FlightsEtl
from txlog_corpus import TxlogCorpus
from txlog_dml import TxlogDml

WORKLOADS = {w.name: w for w in (FlightsEtl, TxlogDml, CorpusDedup, TxlogCorpus)}


def _get_spark(conf: dict):
    n = harness.nproc()
    return session.get_spark(master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)


def _setup(wl, conf: dict, wrap=None) -> tuple[object, float, list[str]]:
    """``session.get_spark`` (the first call launches the JVM), then the
    workload's warm-up op and seeding ops; returns the session, the
    seconds they took and check errors. The checks run outside the
    timing. ``wrap(spark)`` runs right after the session is built."""
    wl.reset()
    t0 = time.perf_counter()
    spark = _get_spark(conf)
    took = time.perf_counter() - t0
    if wrap is not None:
        wrap(spark)
    loop = harness.LoopResult()
    for op in wl.setup_ops(spark):
        harness.run_op(op, loop)
    errors = [f"set-up {e}" for e in loop.errors]
    return spark, took + loop.wall_s, errors


def space_amp(wl, work: str) -> tuple[float, int, int]:
    """On-disk bytes under the workload's output roots, divided by the
    bytes of its live rows written once as plain parquet."""
    on_disk = harness.dir_bytes(*wl.output_roots())
    ref_dir = os.path.join(work, "space_ref")
    os.makedirs(ref_dir, exist_ok=True)
    once = 0
    for name, table in wl.live_tables().items():
        path = os.path.join(ref_dir, f"{name}.parquet")
        pq.write_table(table, path)
        once += os.path.getsize(path)
    return on_disk / once, on_disk, once


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def e2e_metrics(wl, loop: harness.LoopResult, setup_s: float, peak_rss: int,
                amp: float) -> dict:
    recs = loop.records
    completed = [r for r in recs if not r.raised]
    wall = loop.wall_s
    failed = sum(not r.ok for r in recs)
    out = {
        "setup_s": _m(setup_s, "s"),
        "wall_s": _m(wall, "s"),
        "ops_per_s": _m(len(completed) / wall, "1/s"),
        "failed_frac": _m(failed / len(recs), "ratio"),
        "peak_rss_mb": _m(peak_rss / 2**20, "MB"),
    }
    if wl.counts_rows:
        out["rows_per_s"] = _m(sum(r.rows for r in completed) / wall, "rows/s")
    groups = {
        "op": recs,
        "write": [r for r in recs if r.kind == "write"],
        "read": [r for r in recs if r.kind == "read"],
        "refresh": [r for r in recs if r.kind == "refresh"],
    }
    for g, rs in groups.items():
        if not rs:
            continue
        s = harness.latency_summary([r.seconds for r in rs])
        out[f"{g}_p50_s"] = dict(_m(s["p50"], "s"), n=s["n"])
        if g != "refresh":
            out[f"{g}_tail_s"] = dict(_m(s["tail"], "s"), n=s["n"], percentile=s["tail_pct"])
    out["space_amp"] = _m(amp, "ratio")
    return out


def _lines(name: str, metrics: dict) -> list[str]:
    lines = []
    for k, m in metrics.items():
        v = m["value"]
        extra = "".join(f" {x}={m[x]}" for x in ("n", "percentile") if x in m)
        lines.append(f"{name} {k} = {v:.6g} {m['unit']}{extra}")
    return lines


def n_cycles(cls, seconds: float) -> int:
    """Whole cycles a run measures: as many as fill ``seconds`` of op
    time at the workload's cycle length on a 4-core box, so a run's
    work (and every count it makes) is fixed by its arguments."""
    return max(1, math.ceil(seconds / cls.cycle_s - 1e-9))


def run_timed(name: str, seed: int, seconds: float, work: str, conf_fn) -> dict:
    cls = WORKLOADS[name]
    wl = cls(seed, os.path.join(work, name))
    conf = conf_fn(None)
    with harness.RssSampler() as rss:
        spark, setup_s, errors = _setup(wl, conf)
        env = harness.environment(spark)
        loop = harness.closed_loop(wl.cycle, cycles=n_cycles(cls, seconds))
    errors += loop.errors
    amp, on_disk, once = space_amp(wl, work)
    metrics = e2e_metrics(wl, loop, setup_s, rss.peak, amp)
    lines = [f"# {name}: closed loop, 1 client, seed {seed}, "
             f"{n_cycles(cls, seconds)} cycles, why: {wl.why}",
             f"# environment {json.dumps(env)}",
             f"# inputs {json.dumps(wl.input_sizes())}",
             f"# ops {json.dumps(_op_counts(loop))}",
             f"# space: {on_disk} bytes on disk, {once} bytes written once"]
    lines += _lines(name, metrics)
    wl.close()
    harness.stop_spark_processes(spark)
    return {
        "lines": lines,
        "metrics": metrics,
        "attempted": len(loop.records),
        "failed": sum(not r.ok for r in loop.records),
        "errors": errors,
    }


def _op_counts(loop: harness.LoopResult) -> dict:
    out: dict[str, list] = {}
    for r in loop.records:
        c = out.setdefault(r.name, [0, 0.0])
        c[0] += 1
        c[1] += r.seconds
    return {k: {"n": n, "mean_s": round(t / n, 4)} for k, (n, t) in out.items()}


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------

#: layer-specific metrics beyond the per-layer set every layer reports
EXTRA_METRICS = (
    "sources.txlog.commits", "sources.txlog.checkpoints", "sources.txlog.log_bytes",
    "sources.txlog.data_bytes_written", "sources.txlog.dv_bytes_written",
    "sources.txlog.files_added",
    "sources.txlog.files_removed", "sources.txlog.prune_keep_frac",
    "streaming.matview.versions_folded", "streaming.matview.noop_frac",
    "operators.dedup.candidate_pairs", "operators.dedup.confirmed_pairs",
    "operators.dedup.pair_precision",
    "operators.similarity.rerank_candidates", "operators.similarity.recall_at_k",
)
#: counts that repeat exactly for a fixed seed (two traced runs agree).
#: Not byte counts that include deletion-vector files: those hold data
#: file names, which carry random UUIDs, so their compressed size wobbles.
EXACT = ("jobs", "tasks", "py4j_calls", "calls", "commits", "checkpoints",
         "files_added", "files_removed", "data_bytes_written",
         "candidate_pairs", "confirmed_pairs", "rerank_candidates")


def _log_files(roots: list[str]) -> dict[str, int]:
    """Every transaction-log file under ``roots``, with its size."""
    out = {}
    for root in roots:
        for dirpath, _, files in os.walk(root):
            if os.path.basename(dirpath) == "_txlog":
                for f in files:
                    if f.endswith(".json"):
                        p = os.path.join(dirpath, f)
                        out[p] = os.path.getsize(p)
    return out


def txlog_counts(before: dict[str, int], after: dict[str, int]) -> dict:
    """Commits, checkpoints and bytes of the log files written between
    two listings, with the files each commit added or removed."""
    new = sorted(set(after) - set(before))
    out = dict.fromkeys(("commits", "checkpoints", "log_bytes", "data_bytes_written",
                         "dv_bytes_written", "files_added", "files_removed"), 0)
    for p in new:
        out["log_bytes"] += after[p]
        if p.endswith(".checkpoint.json"):
            out["checkpoints"] += 1
            continue
        out["commits"] += 1
        with open(p) as fh:
            commit = json.load(fh)
        table = os.path.dirname(os.path.dirname(p))
        out["files_added"] += len(commit.get("add", []))
        out["files_removed"] += len(commit.get("remove", []))
        for a in commit.get("add", []):
            out["data_bytes_written"] += os.path.getsize(os.path.join(table, a["path"]))
        if commit.get("dv_file"):
            out["dv_bytes_written"] += os.path.getsize(os.path.join(table, commit["dv_file"]))
    return {f"sources.txlog.{k}": v for k, v in out.items()}


def run_traced(name: str, seed: int, seconds: float, work: str, conf_fn) -> dict:
    """The same fixed cycles twice in one process: untraced, then
    traced in a new SparkContext with the event log on."""
    cls = WORKLOADS[name]
    cycles = n_cycles(cls, seconds)

    wl = cls(seed, os.path.join(work, name, "untraced"))
    spark, _, errors = _setup(wl, conf_fn(None))
    untraced = harness.closed_loop(wl.cycle, cycles=cycles)
    errors += untraced.errors
    wl.close()
    spark.stop()

    log_dir = os.path.join(work, "eventlog")
    tracer = layertrace.Tracer()
    tracer.install()
    try:
        wl = cls(seed, os.path.join(work, name, "traced"))
        spark, _, setup_errors = _setup(wl, conf_fn(log_dir), tracer.bind)
        errors += setup_errors
        logs_before = _log_files(wl.output_roots())
        mark = wl.mark()
        cpu0 = layertrace.pyworker_cpu_s()
        tracer.phase = "ops"

        def traced_cycle():
            for op in wl.cycle():
                yield dataclasses.replace(op, fn=tracer.op(op.name, op.fn, op.layer),
                                          check=tracer.untraced(op.check))
        traced = harness.closed_loop(traced_cycle, cycles=cycles)
        tracer.phase = "after"
        cpu = layertrace.pyworker_cpu_s() - cpu0
    finally:
        tracer.uninstall()
    errors += traced.errors
    extras = dict.fromkeys(EXTRA_METRICS, 0)
    extras.update(txlog_counts(logs_before, _log_files(wl.output_roots())))
    extras.update(wl.layer_extras(mark))
    wl.close()
    spark.stop()
    metrics = tracer.layer_metrics(
        layertrace.read_event_log(log_dir),
        lambda layer: "setup" if layer == "session" else "ops", cpu)
    extras["operators.similarity.rerank_candidates"] = tracer.python_rows.get(
        "operators.similarity", 0)
    metrics.update(extras)
    harness.stop_spark_processes(spark)

    overhead = traced.wall_s - untraced.wall_s
    lines = [f"# {name}: traced run, seed {seed}, {cycles} cycles, why: {cls.why}",
             f"# untraced ops {json.dumps(_op_counts(untraced))}",
             f"# traced ops {json.dumps(_op_counts(traced))}",
             f"# untraced wall_s = {untraced.wall_s:.6g} s, traced wall_s = "
             f"{traced.wall_s:.6g} s, tracing overhead = {overhead:.6g} s "
             f"(of which job-group tagging {tracer.tagging_s:.6g} s)",
             f"# py4j calls outside any span = {tracer.py4j_untagged}",
             f"# counts marked exact repeat for a fixed seed: {', '.join(EXACT)}"]
    for k in sorted(metrics):
        v = metrics[k]
        tag = " exact" if k.rsplit(".", 1)[1] in EXACT else ""
        shown = str(v) if isinstance(v, int) else f"{v:.6g}"  # counts in full
        lines.append(f"{name} {k} = {shown}{tag}")
    lines.append(f"{name} trace.overhead_s = {overhead:.6g} s")
    lines.append(f"{name} trace.tagging_s = {tracer.tagging_s:.6g} s")
    out_metrics = {k: _m(v, _unit(k)) for k, v in metrics.items()}
    out_metrics["trace.overhead_s"] = _m(overhead, "s")
    out_metrics["trace.tagging_s"] = _m(tracer.tagging_s, "s")
    return {
        "lines": lines,
        "metrics": out_metrics,
        "attempted": len(untraced.records) + len(traced.records),
        "failed": sum(not r.ok for r in traced.records) + sum(not r.ok for r in untraced.records),
        "errors": errors,
    }


def _unit(name: str) -> str:
    m = name.rsplit(".", 1)[1]
    if m.endswith("_s"):
        return "s"
    if m.endswith(("_bytes", "_bytes_written")):
        return "bytes"
    if m.endswith("_frac") or m in ("pair_precision", "recall_at_k"):
        return "ratio"
    return "count"
