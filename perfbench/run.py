"""Benchmark entry point.

    python3 perfbench/run.py --workload txlog_dml --seed 1 --seconds 10 --trace 0

Runs one seeded, closed-loop, single-client workload on
``local[<nproc>]`` from the root of a checkout of the repository, checks
every op's result and prints a report. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``).

``--trace 1`` runs a fixed number of cycles twice in one process:
first untraced, then traced (spans around the calls into every layer,
py4j calls counted, Spark jobs tagged by job group and the zstd event
log folded per layer). Its tracing overhead is the traced ``wall_s``
minus the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def _prepare_env() -> None:
    """Everything Spark, py4j and the Python workers write goes under
    the (wiped) work directory; the workers import the engine from the
    checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)


def spark_conf(trace_dir: str | None) -> dict:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # nothing reads the web UI; it costs start-up time and a port
        "spark.ui.enabled": "false",
    }
    if trace_dir is not None:
        os.makedirs(trace_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir,
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        })
    return conf


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    import harness

    knobs = [k for k in harness.AB_KNOBS if k in os.environ]
    if knobs:
        print(f"refusing to run: A/B knobs set: {knobs}; unset them so both "
              "sides of a comparison run the same program", file=sys.stderr)
        return 2

    import workloads  # imports the engine: fails outside a checkout

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    _prepare_env()
    try:
        if args.trace:
            report = workloads.run_traced(args.workload, args.seed, args.seconds, WORK, spark_conf)
            wanted = [m["name"] for m in bench["per_layer"]]
        else:
            report = workloads.run_timed(args.workload, args.seed, args.seconds, WORK, spark_conf)
            wanted = [m["name"] for m in bench["end_to_end"]]
        for line in report["lines"]:
            print(line)
        missing = [n for n in wanted if report["metrics"].get(n) is None]
        if missing:
            print(f"metrics missing for {args.workload}: {missing}", file=sys.stderr)
            return 3
        result = {
            "correct": report["failed"] == 0 and not report["errors"],
            "attempted": report["attempted"],
            "failed": report["failed"],
            "metrics": {n: {"value": report["metrics"][n]["value"],
                            "unit": report["metrics"][n]["unit"]} for n in wanted},
        }
        for e in report["errors"][:20]:
            print(f"check failed: {e}", file=sys.stderr)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
