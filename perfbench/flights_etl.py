"""flights_etl: the paper's own workload.

Each cycle lands one more BTS flight-day CSV in the raw directory, runs
``plans.pipeline.run_pipeline(write=True)`` over the whole raw
directory (every dimension and the fact table rebuilt, validated and
delta-merged into the curated root), then runs two analyst queries
over the curated star, each checked against DuckDB over the raw CSVs.

Why: this workload is bound by scan, join, sink and per-job overhead
(tens of Spark jobs per increment). The txlog, matview and the Python
workers sit idle here.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from aiports_data_warehouse_etl_spark.plans import pipeline
from aiports_data_warehouse_etl_spark.sources import io

import gen
from harness import Op

#: flights per day: about the traffic of one day of the BTS on-time
#: performance files the paper loads
ROWS_PER_DAY = 20_000

_TOD_SQL = """CASE WHEN h >= 22 OR h < 6 THEN 'night' WHEN h < 12 THEN 'morning'
               WHEN h < 18 THEN 'afternoon' ELSE 'evening' END"""

#: analyst query 1: delays by carrier and time of day, over the star
_Q1_DUCK = f"""
SELECT cid, name, {_TOD_SQL} AS tod, count(*) AS n,
       sum(ARR_DELAY_NEW) AS arr, sum(DEP_DELAY_NEW) AS dep
FROM (SELECT f.OP_CARRIER_AIRLINE_ID AS cid, f.CRS_DEP_TIME // 100 AS h,
             f.ARR_DELAY_NEW, f.DEP_DELAY_NEW,
             CASE WHEN c.Description IS NOT NULL AND c.Description <> ''
                       AND contains(c.Description, ',')
                  THEN split_part(c.Description, ',', 1)
                  ELSE 'Not specified' END AS name
      FROM flights f JOIN carriers c ON f.OP_CARRIER_AIRLINE_ID = c.Code)
GROUP BY ALL
"""

#: analyst query 2: traffic and delays by origin airport
_Q2_DUCK = """
SELECT code, city, count(*) AS n, sum(DEP_DELAY_NEW) AS dep,
       max(ARR_DELAY_NEW) AS arr_max
FROM (SELECT a.Code AS code, f.DEP_DELAY_NEW, f.ARR_DELAY_NEW,
             CASE WHEN a.Description IS NOT NULL AND a.Description <> ''
                       AND contains(a.Description, ',')
                  THEN trim(split_part(a.Description, ',', 1))
                  ELSE 'Not specified' END AS city
      FROM flights f JOIN airports a ON f.ORIGIN = a.Code)
GROUP BY ALL
"""

def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 + 1e-9 * max(abs(a), abs(b))


def _diff_groups(got: dict, want: dict) -> str | None:
    if got.keys() != want.keys():
        missing = list(want.keys() - got.keys())[:3]
        extra = list(got.keys() - want.keys())[:3]
        return f"group keys differ: missing {missing}, extra {extra}"
    for k, w in want.items():
        g = got[k]
        if g[0] != w[0] or not all(_close(x, y) for x, y in zip(g[1:], w[1:])):
            return f"group {k}: got {g}, want {w}"
    return None


class FlightsEtl:
    name = "flights_etl"
    why = ("scan, join, sink and per-job overhead of the paper's own "
           "star-schema ETL; txlog, matview and Python workers idle")
    counts_rows = True
    #: op time of the first cycle after set-up on a 4-core box (measured)
    cycle_s = 17.0

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.rows_per_day = ROWS_PER_DAY
        self.lookups = gen.flights_lookups(seed, os.path.join(work, "in"))
        self.days_dir = os.path.join(work, "in", "days")
        os.makedirs(self.days_dir, exist_ok=True)
        self.raw = os.path.join(work, "raw")
        self.cur = os.path.join(work, "curated")
        self.days_loaded = 0
        self.duck = duckdb.connect()
        self.duck.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
        self.duck.execute("SET threads = 1")
        self.spark = None

    # -- inputs ---------------------------------------------------------

    def _day_file(self, day: int) -> str:
        path = os.path.join(self.days_dir, f"day_{day:04d}.csv")
        if not os.path.exists(path):
            gen.flights_day(self.seed, self.lookups, day, self.rows_per_day, path)
        return path

    def _land_next_day(self) -> None:
        src = self._day_file(self.days_loaded)
        shutil.copy(src, os.path.join(self.raw, os.path.basename(src)))
        self.days_loaded += 1

    def input_sizes(self) -> dict:
        return {
            "rows_per_day": self.rows_per_day,
            "airports": len(self.lookups["airport_codes"]),
            "carriers": len(self.lookups["carrier_ids"]),
            "raw_bytes_per_day": os.path.getsize(self._day_file(0)),
        }

    # -- set-up ---------------------------------------------------------

    def reset(self) -> None:
        for d in (self.raw, self.cur):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.raw)
        self.days_loaded = 0

    def setup_ops(self, spark) -> list[Op]:
        """Seeding, which is also the warm-up op: the first load of day 0
        into an empty curated root."""
        self.spark = spark
        self._land_next_day()
        return [Op("seed_load", "write", self._run_pipeline, self._check_load)]

    # -- ops ------------------------------------------------------------

    def _run_pipeline(self) -> dict:
        res = pipeline.run_pipeline(
            self.spark,
            airports_csv=self.lookups["airports_csv"],
            carriers_csv=self.lookups["carriers_csv"],
            flights_csv=self.raw,
            out_root=self.cur,
            date_cap=None,
            write=True,
        )
        # The validation reports are the pipeline's other output; an
        # operator reads them on every load, so they are part of the op.
        return {n: [(r.rule_name, r.violations) for r in df.collect()]
                for n, df in res.reports.items()}

    def _count(self, name: str) -> int:
        return self.spark.read.parquet(os.path.join(self.cur, f"{name}.parquet")).count()

    def _check_load(self, reports: dict) -> str | None:
        bad = {n: [r for r in rs if r[1]] for n, rs in reports.items()}
        bad = {n: rs for n, rs in bad.items() if rs}
        if bad:
            return f"validation violations: {bad}"
        want = self.days_loaded * self.rows_per_day
        got = self._count("fact_flights")
        if got != want:
            return f"fact_flights has {got} rows, want {want}"
        delta = self._count("fact_flights_new")
        if delta != self.rows_per_day:
            return f"fact_flights_new has {delta} rows, want {self.rows_per_day}"
        return None

    def _star(self, name: str):
        return io.read_parquet(self.spark, os.path.join(self.cur, f"{name}.parquet"))

    def _q1(self) -> dict:
        fact, car, tim = self._star("fact_flights"), self._star("dim_air_carriers"), self._star("dim_time")
        rows = (
            fact.join(car, fact.air_carrier_id_fk == car.air_carrier_id_pk)
            .join(tim, fact.departure_time_fk == tim.time_id_pk)
            .groupBy("air_carrier_id_pk", "name", "time_of_the_day")
            .agg(F.count("*").alias("n"), F.sum("arrival_delay").alias("arr"),
                 F.sum("departure_delay").alias("dep"))
            .collect()
        )
        return {(r[0], r[1], r[2]): (r.n, r.arr, r.dep) for r in rows}

    def _q2(self) -> dict:
        fact, air = self._star("fact_flights"), self._star("dim_airports")
        rows = (
            fact.join(air, fact.arrival_airport_id_fk == air.airport_id_pk)
            .groupBy("airport_code", "city")
            .agg(F.count("*").alias("n"), F.sum("departure_delay").alias("dep"),
                 F.max("arrival_delay").alias("arr_max"))
            .collect()
        )
        return {(r[0], r[1]): (r.n, r.dep, r.arr_max) for r in rows}

    def _duck(self, sql: str, nkey: int) -> dict:
        """``sql`` in DuckDB over the raw CSVs loaded so far."""
        def lit(paths):
            return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"
        days = [self._day_file(d) for d in range(self.days_loaded)]
        self.duck.execute(
            f"CREATE OR REPLACE TEMP VIEW flights AS SELECT * FROM read_csv({lit(days)}, header=true)")
        self.duck.execute(
            "CREATE OR REPLACE TEMP VIEW carriers AS SELECT * FROM "
            f"read_csv({lit([self.lookups['carriers_csv']])}, header=true)")
        self.duck.execute(
            "CREATE OR REPLACE TEMP VIEW airports AS SELECT * FROM "
            f"read_csv({lit([self.lookups['airports_csv']])}, header=true, "
            "columns={'Code': 'VARCHAR', 'Description': 'VARCHAR'})")
        return {tuple(r[:nkey]): tuple(r[nkey:]) for r in self.duck.execute(sql).fetchall()}

    def _reads(self) -> list[Op]:
        """The analyst queries, each checked against DuckDB."""
        def op(name, fn, sql, nkey):
            return Op(name, "read", fn, lambda got: _diff_groups(got, self._duck(sql, nkey)))
        return [
            op("delays_by_carrier_tod", self._q1, _Q1_DUCK, 3),
            op("traffic_by_origin", self._q2, _Q2_DUCK, 2),
        ]

    def cycle(self) -> list[Op]:
        self._land_next_day()  # the day's file arrives before the op starts
        return [
            Op("run_pipeline", "write", self._run_pipeline, self._check_load,
               rows=self.days_loaded * self.rows_per_day, layer="plans.pipeline"),
            *self._reads(),
        ]

    # -- end of run -----------------------------------------------------

    def mark(self):
        return None

    def layer_extras(self, mark) -> dict:
        return {}

    def output_roots(self) -> list[str]:
        return [self.cur]

    def live_tables(self) -> dict:
        """The curated tables (not their delta twins) as Arrow tables."""
        out = {}
        for name in sorted(os.listdir(self.cur)):
            if name.endswith(".parquet") and not name.endswith("_new.parquet"):
                out[name] = pq.read_table(os.path.join(self.cur, name))
        return out

    def close(self) -> None:
        self.duck.close()
