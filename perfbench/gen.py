"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files. Generation is never timed and
never counted in set-up; the engine only ever sees the files written
here.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# flights_etl: BTS on-time-performance CSVs plus the two lookup files
# ---------------------------------------------------------------------------

FLIGHTS_HEADER = [
    "FL_DATE", "OP_CARRIER_AIRLINE_ID", "TAIL_NUM", "OP_CARRIER_FL_NUM",
    "ORIGIN_AIRPORT_ID", "ORIGIN_AIRPORT_SEQ_ID", "ORIGIN_CITY_MARKET_ID",
    "ORIGIN", "DEST_AIRPORT_ID", "DEST_AIRPORT_SEQ_ID", "DEST_CITY_MARKET_ID",
    "DEST", "CRS_DEP_TIME", "DEP_TIME", "DEP_DELAY", "DEP_DELAY_NEW",
    "ARR_TIME", "ARR_DELAY", "ARR_DELAY_NEW", "CANCELLED",
    "CANCELLATION_CODE", "CRS_ELAPSED_TIME", "ACTUAL_ELAPSED_TIME",
    "CARRIER_DELAY", "WEATHER_DELAY", "NAS_DELAY", "SECURITY_DELAY",
    "LATE_AIRCRAFT_DELAY", "Unnamed: 28",
]

_ALNUM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
_STATES = ["TX", "CA", "NY", "FL", "IL", "WA", "CO", "GA", "AZ", "MA"]
_COUNTRIES = ["Mexico", "Canada", "Puerto Rico", "Bahamas"]
_WORDS = ["North", "Lake", "River", "Grand", "Port", "Saint", "Mount", "Bay",
          "Cedar", "Pine", "Rock", "Falls", "Spring", "Valley", "Harbor"]
#: first flight date; dates stay in the past so dim_date's
#: "year_not_future" rule holds
FIRST_DAY = dt.date(2023, 3, 1)
N_AIRPORTS = 120
N_CARRIERS = 16


def _hhmm(minute_of_day: int) -> int:
    minute_of_day %= 1440
    return (minute_of_day // 60) * 100 + minute_of_day % 60


def _fmt(x) -> str:
    return "" if x is None else str(x)


def flights_lookups(seed: int, root: str) -> dict:
    """Write ``airports.csv`` and ``carriers.csv`` under ``root``.

    Malformed descriptions of FIXTURES.md §A1-A2 are planted: airports
    with no ':' or ',' or an empty description, full country names in
    place of a state; carriers with ',' inside the name, or with no
    ':' or ','.
    """
    rng = random.Random(f"{seed}:lookups")
    os.makedirs(root, exist_ok=True)
    codes: list[str] = []
    seen: set[str] = set()
    while len(codes) < N_AIRPORTS:
        c = "".join(rng.choice(_ALNUM) for _ in range(3))
        if c not in seen:
            seen.add(c)
            codes.append(c)
    codes.sort()
    airports_csv = os.path.join(root, "airports.csv")
    with open(airports_csv, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Code", "Description"])
        for i, c in enumerate(codes):
            city = f"{rng.choice(_WORDS)} {rng.choice(_WORDS)}"
            name = f"{city} {'Regional' if i % 2 else 'International'}"
            kind = i % 20
            if kind == 0:  # malformed: no ':' and no ','
                desc = f"{city} Field"
            elif kind == 1:  # malformed: ':' but no ','
                desc = f"{city}: {name}"
            elif kind == 2:  # missing description
                desc = ""
            elif kind in (3, 4):  # full country name instead of a state
                desc = f"{city}, {rng.choice(_COUNTRIES)}: {name}"
            else:
                desc = f"{city}, {rng.choice(_STATES)}: {name}"
            w.writerow([c, desc])

    carrier_ids = [19031 + 7 * i for i in range(N_CARRIERS)]
    carriers_csv = os.path.join(root, "carriers.csv")
    with open(carriers_csv, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Code", "Description"])
        for i, cid in enumerate(carrier_ids):
            iata = "".join(rng.choice(_ALNUM) for _ in range(2))
            kind = i % 8
            if kind == 0:  # malformed: no ':' and no ','
                desc = f"{rng.choice(_WORDS)} Air"
            elif kind == 1:  # ',' inside the name
                desc = f"{rng.choice(_WORDS)} Airways, Inc.: {iata}"
            elif kind == 2:  # ':' but no ','
                desc = f"{rng.choice(_WORDS)} Air Lines: {iata}"
            else:
                desc = f"{rng.choice(_WORDS)} Airlines Co., Ltd.: {iata}"
            w.writerow([cid, desc])
    return {
        "airports_csv": airports_csv,
        "carriers_csv": carriers_csv,
        "airport_codes": codes,
        "carrier_ids": carrier_ids,
    }


def flights_day(seed: int, lookups: dict, day: int, rows: int, path: str) -> str:
    """Write flight day ``day`` (0-based) as one BTS-format CSV.

    Edge cases of FIXTURES.md §A3 are planted in every day: NULL
    DEP_TIME / ARR_TIME / ARR_DELAY / ACTUAL_ELAPSED_TIME, arrival
    delays large enough to overflow HHMM, cancelled flights with codes
    A-D, and delay-cause columns drawn from a small value set, so
    delay rows repeat. The canonical flight key (date, carrier,
    origin, dest, CRS_DEP_TIME, flight number) is unique, so the
    position-derived ids of earlier days stay stable as days are
    appended.
    """
    rng = random.Random(f"{seed}:day:{day}")
    codes = lookups["airport_codes"]
    airport_ids = {c: 10000 + 3 * i for i, c in enumerate(codes)}
    date = (FIRST_DAY + dt.timedelta(days=day)).isoformat()
    delay_values = [0.0, 5.0, 15.0, 30.0, 45.0]
    out = []
    for i in range(rows):
        carrier = rng.choice(lookups["carrier_ids"])
        origin, dest = rng.sample(codes, 2)
        crs_dep_min = rng.randrange(1440)
        crs_elapsed = float(rng.randrange(45, 360))
        if rng.random() < 0.03:  # cancelled
            dep_time = arr_time = arr_delay = actual = dep_delay = None
            dep_delay_new = arr_delay_new = 0.0
            code = rng.choice("ABCD")
            causes = [None] * 5
        else:
            dep_delay = float(rng.choice([-5, -2, 0, 3, 12, 40, 95, 190]))
            dep_delay_new = max(dep_delay, 0.0)
            dep_time = float(_hhmm(crs_dep_min + int(dep_delay)))
            arr_delay = dep_delay + float(rng.randrange(-15, 30))
            arr_delay_new = max(arr_delay, 0.0)
            actual = crs_elapsed + arr_delay - dep_delay
            arr_time = float(_hhmm(crs_dep_min + int(crs_elapsed + arr_delay)))
            if rng.random() < 0.04:
                dep_time = None
            if rng.random() < 0.04:
                arr_time = None
            if rng.random() < 0.03:
                arr_delay = None
            if rng.random() < 0.05:
                actual = None
            code = None
            causes = (
                [rng.choice(delay_values) for _ in range(5)]
                if arr_delay_new >= 15 else [None] * 5
            )
        oid, did = airport_ids[origin], airport_ids[dest]
        out.append([
            date, carrier, f"N{rng.randrange(100, 999)}{rng.choice(_ALNUM)}",
            i + 1, oid, oid * 100 + 1, 30000 + oid % 97, origin,
            did, did * 100 + 1, 30000 + did % 97, dest,
            _hhmm(crs_dep_min), dep_time, dep_delay, dep_delay_new,
            arr_time, arr_delay, arr_delay_new,
            1.0 if code else 0.0, code, crs_elapsed, actual, *causes, None,
        ])
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(FLIGHTS_HEADER)
        w.writerows([[_fmt(x) for x in r] for r in out])
    return path


# ---------------------------------------------------------------------------
# txlog_dml: orders-like rows; op batches are written on demand
# ---------------------------------------------------------------------------

ORDERS_SCHEMA = pa.schema([
    ("order_id", pa.int64()),
    ("cust_id", pa.int64()),
    ("region", pa.string()),
    ("status", pa.string()),
    ("amount_cents", pa.int64()),
    ("qty", pa.int64()),
])
REGIONS = ["north", "south", "east", "west", "central"]
STATUSES = ["open", "shipped", "returned", "cancelled"]


def order_row(rng: random.Random, order_id: int) -> tuple:
    return (
        order_id,
        rng.randrange(1, 500),
        rng.choice(REGIONS),
        rng.choice(STATUSES[:3]) if rng.random() < 0.95 else "cancelled",
        rng.randrange(100, 100_000),
        rng.randrange(0, 8),
    )


def write_orders(path: str, rows: list[tuple]) -> str:
    """One parquet batch of orders rows (columns of ``ORDERS_SCHEMA``)."""
    cols = list(zip(*rows)) if rows else [[] for _ in ORDERS_SCHEMA]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, ORDERS_SCHEMA)],
        schema=ORDERS_SCHEMA,
    )
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------------------
# corpus_dedup: documents with planted near-duplicate clusters, and
# embeddings with planted neighbours
# ---------------------------------------------------------------------------

_VOCAB_SIZE = 5000
#: Gaussian topics the embeddings are drawn around
N_TOPICS = 32


def _doc(rng: random.Random, n_words: int) -> list[str]:
    return [f"w{rng.randrange(_VOCAB_SIZE)}" for _ in range(n_words)]


def _perturb(rng: random.Random, words: list[str], edits: int) -> list[str]:
    """``words`` with its last ``edits`` words replaced: only the
    trailing shingles change, so MinHash-LSH finds the pair with
    near certainty."""
    return words[:-edits] + [f"w{rng.randrange(_VOCAB_SIZE)}" for _ in range(edits)]


def corpus(seed: int, root: str, n_docs: int, n_clusters: int,
           cluster_size: int, n_vecs: int, dim: int, n_planted: int) -> dict:
    """Write ``docs.parquet`` (doc_id, text) and ``vecs.parquet``
    (vec_id, embedding). Returns the planted truth.

    Documents are 60 random words from a 5k vocabulary; each planted
    cluster is one base document plus ``cluster_size - 1`` copies with
    the last word replaced (Jaccard of 3-shingles about 0.97), and
    cluster members are spread across the id space. Vectors are a
    mixture of ``N_TOPICS`` Gaussian topics (cosine between two
    vectors of one topic about 0.8); each of the ``n_planted`` planted
    pairs is a vector plus a copy with 1% noise (cosine > 0.99), placed
    at random ids.
    """
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    texts: list[list[str] | None] = [None] * n_docs
    ids = list(range(n_docs))
    rng.shuffle(ids)
    clusters = []
    pos = 0
    for _ in range(n_clusters):
        members = sorted(ids[pos:pos + cluster_size])
        pos += cluster_size
        base = _doc(rng, 60)
        texts[members[0]] = base
        for m in members[1:]:
            texts[m] = _perturb(rng, base, 1)
        clusters.append(members)
    for i in range(n_docs):
        if texts[i] is None:
            texts[i] = _doc(rng, 60)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n_docs), type=pa.int64()),
            "text": pa.array([" ".join(t) for t in texts]),
        }),
        os.path.join(root, "docs.parquet"),
    )

    nrng = np.random.default_rng(seed)
    centers = nrng.standard_normal((N_TOPICS, dim))
    topic = nrng.integers(0, N_TOPICS, n_vecs)
    vecs = (centers[topic] + 0.5 * nrng.standard_normal((n_vecs, dim))).astype(np.float32)
    slots = nrng.permutation(n_vecs)[: 2 * n_planted].reshape(n_planted, 2)
    planted = []
    for a, b in slots:
        vecs[b] = vecs[a] + 0.01 * nrng.standard_normal(dim).astype(np.float32)
        planted.append((int(min(a, b)), int(max(a, b))))
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n_vecs), type=pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        }),
        os.path.join(root, "vecs.parquet"),
    )
    return {
        "docs": os.path.join(root, "docs.parquet"),
        "vecs": os.path.join(root, "vecs.parquet"),
        "clusters": clusters,
        "planted_pairs": sorted(planted),
        "n_docs": n_docs,
        "n_vecs": n_vecs,
    }
