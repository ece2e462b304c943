"""txlog_dml: a seeded DML mix on one transaction-log table plus an
incremental aggregate view over it.

Each cycle runs ``CYCLE`` in a fixed order with seeded rows, keys and
predicates: ``append``, a pruned snapshot ``read``, ``merge_upsert``,
``update_where``, a time-travel ``read(version=...)``, a conditional
``merge``, ``delete_where_dv``, ``compact``, ``changes``,
``delete_where``, then one ``IncrementalAggView.refresh``. Every read, the time-travel one included, is
checked against an in-memory model of the table at that version, and
the view against a full re-aggregation of the model.

Why: this is the driver, py4j and commit-protocol layer. CSV scan and
the ETL operators sit idle, and writes run beside reads.
"""

from __future__ import annotations

import collections
import functools
import os
import random
import shutil

from aiports_data_warehouse_etl_spark.sources import txlog
from aiports_data_warehouse_etl_spark.streaming import matview

import gen
from harness import Op

COLS = [f.name for f in gen.ORDERS_SCHEMA]
SEED_ROWS = 4000
#: a checkpoint every 5 commits, so a 10 s run crosses several
CHECKPOINT_EVERY = 5
BATCH = 150
TIME_TRAVEL_BACK = 5
CHANGES_SPAN = 3
#: one cycle, in this order; rows, keys and predicates are seeded
#: ``compact`` follows the deletion-vector delete, so it always has
#: deletion vectors to apply (the copy-on-write ops leave few files)
CYCLE = ["append", "read_pruned", "merge_upsert", "update_where", "read_version",
         "merge", "delete_where_dv", "compact", "changes", "delete_where", "refresh"]
#: table ops charge their own jobs (a read's collect) to the txlog layer
_TxOp = functools.partial(Op, layer="sources.txlog")


class TxlogDml:
    name = "txlog_dml"
    why = ("driver, py4j and commit protocol of the transaction-log "
           "table and its incremental view; CSV scan and ETL operators idle")
    counts_rows = False
    #: op time of the first cycle after set-up on a 4-core box (measured)
    cycle_s = 14.0

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.spark = None
        self._init_state()

    def _init_state(self) -> None:
        self.rng = random.Random(f"{self.seed}:ops")
        self.table_path = os.path.join(self.work, "orders")
        self.view_path = os.path.join(self.work, "orders_by_region")
        self.batch_dir = os.path.join(self.work, "batches")
        self.model: dict[int, tuple] = {}
        self.history: dict[int, dict[int, tuple]] = {}
        self.version = -1
        self.next_id = 0
        self.batch_no = 0
        self.refreshed_version = -1
        self.refresh_log: list[tuple[int, int | None]] = []  # (versions folded, result)
        self.pruned_reads: list[tuple[int, int, int]] = []  # (version, lo, hi)
        self.table = self.view = None

    # -- inputs (generated outside every timing) ------------------------

    def _batch(self, rows: list[tuple]) -> str:
        os.makedirs(self.batch_dir, exist_ok=True)
        self.batch_no += 1
        return gen.write_orders(os.path.join(self.batch_dir, f"b{self.batch_no:05d}.parquet"), rows)

    def _new_rows(self, n: int) -> list[tuple]:
        rows = [gen.order_row(self.rng, self.next_id + i) for i in range(n)]
        self.next_id += n
        return rows

    def _existing(self, n: int) -> list[int]:
        return self.rng.sample(sorted(self.model), min(n, len(self.model)))

    def input_sizes(self) -> dict:
        return {"seed_rows": SEED_ROWS, "batch_rows": BATCH,
                "checkpoint_every": CHECKPOINT_EVERY, "ops_per_cycle": len(CYCLE)}

    # -- set-up ---------------------------------------------------------

    def reset(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        self._init_state()

    def setup_ops(self, spark):
        """Seeding, which is also the warm-up: ``SEED_ROWS`` rows
        appended clustered on ``order_id``, then the view's first
        build."""
        self.spark = spark
        rows = self._new_rows(SEED_ROWS)
        src = self._batch(rows)

        def seed():
            self.table = txlog.TxLogTable(self.spark, self.table_path,
                                          checkpoint_every=CHECKPOINT_EVERY)
            return self.table.append(self.spark.read.parquet(src), cluster_by=["order_id"],
                                     cluster_partitions=4)

        def apply():
            self.model = {r[0]: r for r in rows}

        def build_view():
            self.view = matview.IncrementalAggView(
                self.spark, self.table, self.view_path,
                group_cols=["region"], sum_cols=["amount_cents", "qty"])
            return self.view.refresh()
        return [_TxOp("seed_append", "write", seed, self._write_check("seed append", apply),
                      rows=SEED_ROWS),
                Op("view_build", "refresh", build_view, self._check_refresh,
                   layer="streaming.matview")]

    # -- model ------------------------------------------------------------

    def _committed(self, v: int, what: str, changed: bool = True) -> list[str]:
        """Record the model as version ``v``. An op that changed the
        model must have made exactly one commit; one that changed
        nothing may also have made none."""
        if v == self.version and not changed:
            return []
        if v != self.version + 1:
            return [f"{what}: returned version {v}, expected {self.version + 1}"]
        self.version = v
        self.history[v] = dict(self.model)
        return []

    def _write_check(self, what: str, apply):
        """Check for a write op: apply the op's effect to the model,
        then record the new version."""
        def check(v):
            before = dict(self.model)
            apply()
            errs = self._committed(v, what, changed=self.model != before)
            return errs[0] if errs else None
        return check

    @staticmethod
    def _diff(got: list[tuple], want: list[tuple]) -> str | None:
        g, w = collections.Counter(got), collections.Counter(want)
        if g == w:
            return None
        return (f"{len(got)} rows vs {len(want)} expected; "
                f"extra {list((g - w).elements())[:2]}, missing {list((w - g).elements())[:2]}")

    def _check_refresh(self, res) -> str | None:
        folded = self.version - self.refreshed_version
        self.refresh_log.append((folded, res))
        if (res is None) != (folded == 0):
            return f"refresh returned {res} with {folded} new source versions"
        self.refreshed_version = self.version
        agg: dict[str, list[int]] = {}
        for r in self.model.values():
            a = agg.setdefault(r[2], [0, 0, 0])
            a[0] += 1
            a[1] += r[4]
            a[2] += r[5]
        want = {k: tuple(v) for k, v in agg.items()}
        got = {r.region: (r.n_rows, r.sum_amount_cents, r.sum_qty)
               for r in self.view.read().collect() if r.n_rows}
        return None if got == want else f"view {got} != re-aggregation {want}"

    # -- ops ------------------------------------------------------------

    def _rows(self, df) -> list[tuple]:
        return [tuple(r) for r in df.select(*COLS).collect()]

    def _op_append(self) -> Op:
        rows = self._new_rows(BATCH)
        path = self._batch(rows)

        def apply():
            self.model.update({r[0]: r for r in rows})
        return _TxOp("append", "write",
                  lambda: self.table.append(self.spark.read.parquet(path)),
                  self._write_check("append", apply), rows=len(rows))

    def _op_merge_upsert(self) -> Op:
        rows = [gen.order_row(self.rng, k) for k in self._existing(BATCH * 2 // 3)]
        rows += self._new_rows(BATCH - len(rows))
        path = self._batch(rows)

        def apply():
            self.model.update({r[0]: r for r in rows})
        return _TxOp("merge_upsert", "write",
                  lambda: self.table.merge_upsert(self.spark.read.parquet(path), ["order_id"]),
                  self._write_check("merge_upsert", apply), rows=len(rows))

    def _op_merge(self) -> Op:
        rows = [gen.order_row(self.rng, k) for k in self._existing(BATCH * 2 // 3)]
        rows += self._new_rows(BATCH - len(rows))
        path = self._batch(rows)

        def apply():
            for s in rows:
                t = self.model.get(s[0])
                if t is None:
                    if s[5] > 0:
                        self.model[s[0]] = s
                elif s[3] == "cancelled":
                    del self.model[s[0]]
                elif s[4] > t[4]:
                    self.model[s[0]] = (t[0], t[1], t[2], s[3], s[4], t[5])

        def fn():
            return self.table.merge(
                self.spark.read.parquet(path), ["order_id"],
                update_set={"amount_cents": "s.amount_cents", "status": "s.status"},
                update_condition="s.amount_cents > t.amount_cents",
                delete_condition="s.status = 'cancelled'",
                insert_condition="s.qty > 0",
            )
        return _TxOp("merge", "write", fn, self._write_check("merge", apply), rows=len(rows))

    def _op_update_where(self) -> Op:
        region, m = self.rng.choice(gen.REGIONS), self.rng.randrange(10)
        pred = f"region = '{region}' AND cust_id % 10 = {m}"

        def apply():
            for k, r in list(self.model.items()):
                if r[2] == region and r[1] % 10 == m:
                    self.model[k] = (r[0], r[1], r[2], "shipped", r[4], r[5] + 1)
        return _TxOp("update_where", "write",
                  lambda: self.table.update_where(pred, {"qty": "qty + 1", "status": "'shipped'"}),
                  self._write_check("update_where", apply))

    def _op_delete_where_dv(self) -> Op:
        m = self.rng.randrange(61)

        def apply():
            for k in [k for k in self.model if k % 61 == m]:
                del self.model[k]
        return _TxOp("delete_where_dv", "write",
                  lambda: self.table.delete_where_dv(f"order_id % 61 = {m}"),
                  self._write_check("delete_where_dv", apply))

    def _op_delete_where(self) -> Op:
        cust = self.model[self._existing(1)[0]][1]

        def apply():
            for k in [k for k, r in self.model.items() if r[1] == cust]:
                del self.model[k]
        return _TxOp("delete_where", "write",
                  lambda: self.table.delete_where(f"cust_id = {cust}"),
                  self._write_check("delete_where", apply))

    def _op_compact(self) -> Op:
        def check(v):
            errs = self._committed(v, "compact", changed=False)
            return errs[0] if errs else None
        return _TxOp("compact", "write", lambda: self.table.compact(), check)

    def _op_read_pruned(self) -> Op:
        width = max(1, self.next_id // 20)
        lo = self.rng.randrange(max(1, self.next_id - width))
        hi = lo + width

        def fn():
            df = self.table.read(prune={"order_id": (lo, hi)})
            return self._rows(df.filter(df.order_id.between(lo, hi)))

        def check(got):
            self.pruned_reads.append((self.version, lo, hi))
            return self._diff(got, [r for k, r in self.model.items() if lo <= k <= hi])
        return _TxOp("read_pruned", "read", fn, check)

    def _op_read_version(self) -> Op:
        v = max(0, self.version - TIME_TRAVEL_BACK)
        return _TxOp("read_version", "read",
                  lambda: self._rows(self.table.read(version=v)),
                  lambda got: self._diff(got, list(self.history[v].values())))

    def _op_changes(self) -> Op:
        hi = self.version
        lo = max(0, hi - CHANGES_SPAN)

        def fn():
            return [(tuple(r[c] for c in COLS), r["_change_type"])
                    for r in self.table.changes(lo, hi).collect()]

        def check(got):
            net = collections.Counter()
            for row, kind in got:
                net[row] += 1 if kind == "insert" else -1
            want = collections.Counter(self.history[hi].values())
            want.subtract(self.history[lo].values())
            net = {k: n for k, n in net.items() if n}
            want = {k: n for k, n in want.items() if n}
            return None if net == want else (
                f"changes({lo},{hi}) net {len(net)} rows != model diff {len(want)} rows")
        return _TxOp("changes", "read", fn, check)

    def _op_refresh(self) -> Op:
        return Op("refresh", "refresh", lambda: self.view.refresh(), self._check_refresh,
                  layer="streaming.matview")

    def cycle(self):
        """One cycle. Each op is built right before it runs (batches are
        written then, outside the timed interval), so it sees the
        version its predecessor committed."""
        return (getattr(self, f"_op_{kind}")() for kind in CYCLE)

    # -- end of run -----------------------------------------------------

    def output_roots(self) -> list[str]:
        return [self.table_path, self.view_path]

    def live_tables(self) -> dict:
        return {
            "orders": self.table.read().toArrow(),
            "orders_by_region": self.view.read().toArrow(),
        }

    def mark(self) -> tuple[int, int]:
        return len(self.refresh_log), len(self.pruned_reads)

    def layer_extras(self, mark: tuple[int, int]) -> dict:
        """Matview refresh work, and the share of live files the pruned
        reads since ``mark`` scanned."""
        refreshes = self.refresh_log[mark[0]:]
        scanned = live = 0
        for v, lo, hi in self.pruned_reads[mark[1]:]:
            scanned += len(self.table.read(version=v, prune={"order_id": (lo, hi)}).inputFiles())
            live += len(self.table.read(version=v).inputFiles())
        return {
            "streaming.matview.versions_folded": sum(f for f, _ in refreshes),
            "streaming.matview.noop_frac": (
                sum(r is None for _, r in refreshes) / len(refreshes) if refreshes else 0.0),
            "sources.txlog.prune_keep_frac": scanned / live if live else 0.0,
        }

    def close(self) -> None:
        pass
