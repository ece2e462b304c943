"""txlog_corpus: ``txlog_dml`` and the read ops of ``corpus_dedup`` in
one process.

Set-up seeds the transaction-log table and its view (``txlog_dml``'s
seeding) and warms the Python workers with one
``embedding_neardup_pairs``. Each cycle is one ``txlog_dml`` cycle, then
one ``corpus_dedup`` cycle without ``minhash_dedup_cc``
(``simhash_pairs``, ``embedding_neardup_pairs``, ``pq_topk``,
``ivf_topk``). Each part keeps its own inputs, work directory and
result checks.

Why: one run of each of three workloads would not fit the benchmark's
time budget on a 4-core box (each run pays a ~15 s JVM start and the
cold start of every op kind), so the txlog/matview layers and the
dedup/similarity/Python-worker layers share one JVM here. Neither part
touches the other's layers, and the ETL operators and CSV scan sit
idle.
"""

from __future__ import annotations

import itertools
import os

from corpus_dedup import CorpusQueries
from txlog_dml import TxlogDml


class TxlogCorpus:
    name = "txlog_corpus"
    why = ("txlog_dml's DML/time-travel/CDC cycle and view refresh, then corpus_dedup's "
           "Python-worker read ops, in one JVM; CSV scan and ETL operators idle")
    counts_rows = False
    parts = (TxlogDml, CorpusQueries)
    cycle_s = sum(p.cycle_s for p in parts)

    def __init__(self, seed: int, work: str) -> None:
        self.members = [cls(seed, os.path.join(work, cls.name)) for cls in self.parts]

    def input_sizes(self) -> dict:
        return {m.name: m.input_sizes() for m in self.members}

    def reset(self) -> None:
        for m in self.members:
            m.reset()

    def setup_ops(self, spark) -> list:
        return [op for m in self.members for op in m.setup_ops(spark)]

    def cycle(self):
        return itertools.chain.from_iterable(m.cycle() for m in self.members)

    def mark(self) -> tuple:
        return tuple(m.mark() for m in self.members)

    def layer_extras(self, mark: tuple) -> dict:
        out = {}
        for m, k in zip(self.members, mark):
            out.update(m.layer_extras(k))
        return out

    def output_roots(self) -> list[str]:
        return [r for m in self.members for r in m.output_roots()]

    def live_tables(self) -> dict:
        return {f"{m.name}.{k}": t for m in self.members for k, t in m.live_tables().items()}

    def close(self) -> None:
        for m in self.members:
            m.close()
