"""corpus_dedup: near-duplicate detection and similarity search over
one seeded corpus.

Each cycle runs, in this order: ``dedup.minhash_dedup_cc`` with its
survivors written out as the clean corpus, ``dedup.simhash_pairs``,
``dedup.embedding_neardup_pairs``, and one batch of top-k queries each
through ``similarity.pq_topk`` and ``similarity.ivf_topk``. Every
planted document cluster must collapse to one survivor, planted
embedding neighbours must be found, and approximate top-k recall
against ``similarity.brute_force_topk`` must stay above ``RECALL_FLOOR``.

Why: this workload is bound by the Python workers (mapInPandas,
applyInPandas, pandas_udf), shuffles and iterative plans. It re-reads
one corpus, so work is shared across ops (caching can pay here and
nowhere else). The txlog and CSV scan sit idle.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from aiports_data_warehouse_etl_spark.operators import dedup, similarity
from aiports_data_warehouse_etl_spark.sources import io

import gen
from harness import Op

N_DOCS = 1000
N_CLUSTERS = 40
CLUSTER_SIZE = 4
N_VECS = 500
DIM = 64
N_PLANTED = 20
K = 5
#: queries per top-k batch (vec_id < N_QUERIES)
N_QUERIES = 32
#: simhash recall over planted cluster pairs, and PQ / IVF recall@k
#: against brute force, must stay above these
SIMHASH_RECALL_FLOOR = 0.3
RECALL_FLOOR = 0.8
#: IVF cells probed per query
NPROBE = 8


class CorpusDedup:
    name = "corpus_dedup"
    why = ("Python workers, shuffles and iterative plans of the dedup and "
           "similarity operators over one shared corpus; txlog and CSV scan idle")
    counts_rows = True
    #: op time of the first cycle after set-up on a 4-core box (measured)
    cycle_s = 19.0
    #: the ops of one cycle, in order
    ops = ("minhash_dedup_cc", "simhash_pairs", "embedding_neardup_pairs", "pq_topk", "ivf_topk")
    #: the set-up's warm-up op: ``minhash_dedup_cc`` has the costliest
    #: cold start (its first run compiles the plans of every
    #: connected-components round)
    warmup = "minhash_dedup_cc"

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.truth = gen.corpus(seed, os.path.join(work, "in"), N_DOCS, N_CLUSTERS,
                                CLUSTER_SIZE, N_VECS, DIM, N_PLANTED)
        self.out = os.path.join(work, "out")
        self.spark = None
        self._exact_topk = None
        self.recalls: list[tuple[str, float]] = []  # (op, recall@k) in op order
        vecs = np.stack(pq.read_table(self.truth["vecs"])["embedding"].to_numpy(zero_copy_only=False))
        self._unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        self._cluster_pairs = {
            (a, b) for c in self.truth["clusters"] for i, a in enumerate(c) for b in c[i + 1:]
        }

    def input_sizes(self) -> dict:
        return {
            "docs": N_DOCS, "planted_clusters": N_CLUSTERS, "cluster_size": CLUSTER_SIZE,
            "vectors": N_VECS, "dim": DIM, "planted_pairs": N_PLANTED,
            "docs_bytes": os.path.getsize(self.truth["docs"]),
            "vecs_bytes": os.path.getsize(self.truth["vecs"]),
        }

    # -- set-up ---------------------------------------------------------

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def setup_ops(self, spark) -> list[Op]:
        """The warm-up op. No seeding."""
        self.spark = spark
        return [self._ops()[self.warmup]]

    # -- ops ------------------------------------------------------------

    def _docs(self):
        return io.read_parquet(self.spark, self.truth["docs"])

    def _vecs(self):
        return io.read_parquet(self.spark, self.truth["vecs"])

    def _minhash_sink(self) -> None:
        clean = dedup.minhash_dedup_cc(self._docs())
        io.write_parquet(clean, self.out, mode="overwrite")

    def _check_survivors(self, _) -> str | None:
        kept = pq.read_table(self.out, columns=["doc_id"])["doc_id"].to_pylist()
        kept_set = set(kept)
        if len(kept_set) != len(kept):
            return "duplicate doc ids in the clean corpus"
        in_clusters = {d for c in self.truth["clusters"] for d in c}
        for c in self.truth["clusters"]:
            n = sum(d in kept_set for d in c)
            if n != 1:
                return f"planted cluster {c} kept {n} documents"
        lost = [d for d in range(N_DOCS) if d not in in_clusters and d not in kept_set]
        if lost:
            return f"unique documents dropped: {lost[:5]}"
        return None

    def _pairs(self, df) -> set[tuple[int, int]]:
        return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}

    def _check_simhash(self, pairs: set) -> str | None:
        wrong = pairs - self._cluster_pairs
        recall = len(pairs & self._cluster_pairs) / len(self._cluster_pairs)
        if wrong:
            return f"simhash pairs outside planted clusters: {sorted(wrong)[:3]}"
        if recall < SIMHASH_RECALL_FLOOR:
            return f"simhash recall {recall:.3f} < {SIMHASH_RECALL_FLOOR}"
        return None

    def _check_emb(self, pairs: set) -> str | None:
        missing = set(self.truth["planted_pairs"]) - pairs
        if missing:
            return f"planted neighbours missed: {sorted(missing)[:3]}"
        cos = [float(self._unit[a] @ self._unit[b]) for a, b in pairs]
        if cos and min(cos) < 0.95 - 1e-5:
            return f"pair below the 0.95 cosine threshold: {min(cos):.4f}"
        return None

    def exact_topk(self) -> dict[int, set[int]]:
        if self._exact_topk is None:
            rows = similarity.brute_force_topk(self._vecs(), k=K, max_query_id=N_QUERIES).collect()
            self._exact_topk = {}
            for r in rows:
                self._exact_topk.setdefault(r.qid, set()).add(r.cand_id)
        return self._exact_topk

    def _topk(self, fn, **kw):
        rows = fn(self._vecs(), k=K, max_query_id=N_QUERIES, **kw).select("qid", "cand_id").collect()
        out: dict[int, set[int]] = {}
        for r in rows:
            out.setdefault(r.qid, set()).add(r.cand_id)
        return out

    def _check_recall(self, what: str):
        def check(got: dict) -> str | None:
            exact = self.exact_topk()
            hits = sum(len(got.get(q, set()) & ids) for q, ids in exact.items())
            recall = hits / sum(len(ids) for ids in exact.values())
            self.recalls.append((what, recall))
            return None if recall >= RECALL_FLOOR else f"{what} recall@{K} {recall:.3f} < {RECALL_FLOOR}"
        return check

    def _ops(self) -> dict[str, Op]:
        dd, sim = "operators.dedup", "operators.similarity"
        ops = [
            Op("minhash_dedup_cc", "write", self._minhash_sink, self._check_survivors,
               rows=N_DOCS, layer=dd),
            Op("simhash_pairs", "read", lambda: self._pairs(dedup.simhash_pairs(self._docs())),
               self._check_simhash, rows=N_DOCS, layer=dd),
            Op("embedding_neardup_pairs", "read",
               lambda: self._pairs(dedup.embedding_neardup_pairs(self._vecs())),
               self._check_emb, rows=N_VECS, layer=dd),
            Op("pq_topk", "read", lambda: self._topk(similarity.pq_topk),
               self._check_recall("pq_topk"), rows=N_VECS, layer=sim),
            Op("ivf_topk", "read", lambda: self._topk(similarity.ivf_topk, nprobe=NPROBE),
               self._check_recall("ivf_topk"), rows=N_VECS, layer=sim),
        ]
        return {op.name: op for op in ops}

    def cycle(self) -> list[Op]:
        ops = self._ops()
        return [ops[name] for name in self.ops]

    # -- end of run -----------------------------------------------------

    def mark(self) -> int:
        return len(self.recalls)

    def layer_extras(self, mark: int) -> dict:
        """Useful work against attempted work of the dedup operators
        (LSH candidates confirmed by exact Jaccard), and the mean
        recall@k of the top-k ops since ``mark``."""
        docs = self._docs()
        cand = dedup.lsh_candidate_pairs(docs).count()
        conf = dedup.minhash_dedup_pairs(docs).count()
        traced = [r for _, r in self.recalls[mark:]]
        return {
            "operators.dedup.candidate_pairs": cand,
            "operators.dedup.confirmed_pairs": conf,
            "operators.dedup.pair_precision": conf / cand if cand else 0.0,
            "operators.similarity.recall_at_k": sum(traced) / len(traced),
        }

    def output_roots(self) -> list[str]:
        return [self.out]

    def live_tables(self) -> dict:
        return {"clean_corpus": pq.read_table(self.out)}

    def close(self) -> None:
        pass


class CorpusQueries(CorpusDedup):
    """``corpus_dedup`` without ``minhash_dedup_cc``: its read ops only.

    ``minhash_dedup_cc``'s cold start alone (~20 s on a 4-core box) is
    more than this part may add to a run of ``txlog_corpus``. The dedup
    and similarity operators and the Python workers are still
    exercised: ``embedding_neardup_pairs`` runs ``applyInPandas`` and
    the top-k ops run ``pandas_udf`` and ``mapInPandas``. It writes
    nothing.
    """

    name = "corpus_queries"
    cycle_s = 11.0
    ops = CorpusDedup.ops[1:]
    #: its first run starts the Python workers
    warmup = "embedding_neardup_pairs"

    def output_roots(self) -> list[str]:
        return []

    def live_tables(self) -> dict:
        return {}
