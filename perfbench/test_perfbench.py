"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -k "not traced"   # fast
    python3 -m pytest perfbench/test_perfbench.py                   # + two traced runs per workload

The fast tests pin generator determinism and the percentile rules.
The traced tests run the benchmark twice per workload with one seed,
require every op's result check to pass, and require every count
marked ``exact`` to repeat exactly, so later changes can cite those
counters next to wall-clock claims.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import subprocess
import sys

import pytest

import gen
import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _flights(seed: int, root: str) -> dict[str, str]:
    lk = gen.flights_lookups(seed, root)
    for d in range(2):
        gen.flights_day(seed, lk, d, 300, os.path.join(root, f"day{d}.csv"))
    return _digest(root)


def test_flights_generator_is_deterministic(tmp_path):
    a = _flights(7, str(tmp_path / "a"))
    assert a == _flights(7, str(tmp_path / "b"))
    assert a != _flights(8, str(tmp_path / "c"))


def test_corpus_generator_is_deterministic(tmp_path):
    args = (200, 5, 4, 100, 16, 5)
    t1 = gen.corpus(3, str(tmp_path / "a"), *args)
    t2 = gen.corpus(3, str(tmp_path / "b"), *args)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert t1["clusters"] == t2["clusters"] and t1["planted_pairs"] == t2["planted_pairs"]
    assert len({d for c in t1["clusters"] for d in c}) == 5 * 4


def test_orders_batches_are_deterministic(tmp_path):
    def batch(name):
        rng = random.Random("5:ops")
        return gen.write_orders(str(tmp_path / name), [gen.order_row(rng, i) for i in range(50)])
    with open(batch("a.parquet"), "rb") as a, open(batch("b.parquet"), "rb") as b:
        assert a.read() == b.read()


def test_tail_is_the_highest_percentile_with_ten_samples_above():
    assert harness.tail_percentile(10) == 100
    assert harness.latency_summary([3.0, 1.0, 2.0])["tail"] == 3.0
    assert harness.tail_percentile(20) == 50
    assert harness.tail_percentile(100) == 90
    s = harness.latency_summary([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5 and s["tail_pct"] == 90
    assert sum(v > s["tail"] for v in range(1, 101)) == 10


def _exact_counts(workload: str, seed: int) -> dict[str, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    out = {}
    for line in proc.stdout.splitlines():
        parts = line.split()
        if parts and parts[-1] == "exact":
            out[parts[1]] = parts[3]
    assert out, proc.stdout[-2000:]
    return out


@pytest.mark.parametrize("workload", ["flights_etl", "txlog_corpus", "corpus_dedup"])
def test_traced_counts_repeat_exactly(workload):
    first = _exact_counts(workload, 11)
    second = _exact_counts(workload, 11)
    differ = {k: (v, second.get(k)) for k, v in first.items() if second.get(k) != v}
    assert not differ, differ
