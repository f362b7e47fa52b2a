"""Seeded inputs for the feature-store benchmark.

Everything a run feeds the engine comes from here and depends only on the
``--seed`` and the workload's fixed sizes: the parquet tables (the same
schema as the testdata star schema in TESTDATA.md), the serving
request rounds and the stream event batches. Spark-free, so the unit tests
can pin that one seed always gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
VOCAB = (
    "the a fast slow big small key value row column table data query filter "
    "join group sort merge hash scan window stream batch spark order line "
    "part customer vector agg"
).split()
LANGS = ("en", "de", "fr", "es", "zh")


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated table set."""

    events: int
    users: int
    days: int
    customers: int = 150
    suppliers: int = 10
    parts: int = 200
    orders: int = 1500
    lineitems: int = 6000
    documents: int = 500
    embeddings: int = 500
    dim: int = 64


# registry_mix: the smallest testdata scale (TESTDATA.md), so a warm pass of the
# eight queries repeats several times inside one window.
REGISTRY_SCALE = Scale(events=1000, users=15, days=30)
# serving_mix: enough cards and days that Zipf skew and date pruning matter.
SERVING_SCALE = Scale(
    events=10000, users=1000, days=30, customers=1, suppliers=1, parts=1,
    orders=1, lineitems=1, documents=1, embeddings=1,
)


def _ts_col(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("int64"), type=pa.timestamp("us"))


def _days_ts(rng: np.random.Generator, n: int, lo: dt.datetime, days: int) -> pa.Array:
    base = int((lo - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    day = rng.integers(0, days, n)
    return _ts_col(base + day * 86_400_000_000)


def make_tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    """All ten testdata tables at ``scale``, a pure function of ``seed``."""
    rng = np.random.default_rng(seed)
    s = scale
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": [f"REGION_{i}" for i in range(5)],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(s.customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, s.customers), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            s.customers,
        ).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s.suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, s.suppliers), 2),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(s.parts), pa.int64()),
        "p_name": [f"part {i}" for i in range(s.parts)],
        "p_brand": [f"Brand#{i % 5 + 1}{i % 4 + 1}" for i in range(s.parts)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE"], s.parts).tolist(),
        "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, s.parts), 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(s.orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s.customers, s.orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], s.orders).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 400000, s.orders), 2),
        "o_orderdate": _days_ts(rng, s.orders, dt.datetime(1995, 1, 1), 2500),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], s.orders
        ).tolist(),
    })
    qty = rng.integers(1, 51, s.lineitems).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s.orders, s.lineitems), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s.parts, s.lineitems), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s.suppliers, s.lineitems), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, s.lineitems), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, s.lineitems), 2),
        "l_discount": rng.integers(0, 11, s.lineitems) / 100.0,
        "l_tax": rng.integers(0, 9, s.lineitems) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], s.lineitems).tolist(),
        "l_linestatus": rng.choice(["F", "O"], s.lineitems).tolist(),
        "l_shipdate": _days_ts(rng, s.lineitems, dt.datetime(1995, 1, 1), 2500),
    })

    # events: unique, sorted microsecond timestamps so every per-key
    # "latest" ordering is total without a tiebreak column.
    span = s.days * 86_400_000_000
    offs = np.sort(rng.choice(span, s.events, replace=False))
    base = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(range(s.events), pa.int64()),
        "ts": _ts_col(base + offs),
        "user_id": pa.array(zipf_ids(rng, s.users, s.events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, s.events).tolist(),
        "value": np.round(rng.exponential(70.0, s.events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
    })

    n_words = rng.integers(10, 60, s.documents)
    texts = [" ".join(rng.choice(VOCAB, k).tolist()) for k in n_words]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(s.documents), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, s.documents).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 20, s.documents)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = rng.normal(0, 0.1, (s.embeddings, s.dim)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(s.embeddings), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, s.embeddings), pa.int32()),
    })
    return t


# Key popularity: Zipf with YCSB's default constant (ZipfianGenerator, 0.99),
# the usual request-skew model of key-value serving benchmarks.
ZIPF_S = 0.99


def zipf_ids(rng: np.random.Generator, n_ids: int, n: int, s: float = ZIPF_S) -> np.ndarray:
    """``n`` draws from ``range(n_ids)`` with Zipf(s) popularity over a
    seeded permutation (the hottest card is not always card 0)."""
    w = 1.0 / np.arange(1, n_ids + 1) ** s
    perm = rng.permutation(n_ids)
    return perm[rng.choice(n_ids, n, p=w / w.sum())]


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


def tables_digest(tables: dict[str, pa.Table]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for batch in tables[name].to_batches():
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, batch.schema) as w:
                w.write_batch(batch)
            h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


# --------------------------------------------------------------------------
# serving_mix requests
# --------------------------------------------------------------------------

# Operation shares of the serving mix, per 100 requests. They are the
# request mix of this benchmark's first version: the online point read is
# the inference feature fetch, the path of the paper's headline inference
# result (25.9 s -> 0.99 s), so it carries most of the weight; by_key is
# the training crawl's per-card read (SURVEY.md section 3.3). The
# end-to-end mix metrics weight each kind's median by these shares.
SERVING_SHARES = {
    "online_get": 55,
    "by_key": 20,
    "by_date_range": 10,
    "bulk": 2,
    "upsert": 12,
    "backfill": 1,
}
# Fixed round composition: every kind appears in every round, so every
# kind has samples in every window whatever its share. stream_batch is
# ingestion, not a serving request: it has no share in the mix metrics and
# is reported as batch_p50_ms and events_per_s.
SERVING_ROUND = {
    "online_get": 2,
    "by_key": 1,
    "by_date_range": 1,
    "bulk": 1,
    "upsert": 1,
    "backfill": 1,
    "stream_batch": 1,
}
READ_KINDS = ("online_get", "by_key", "by_date_range", "bulk")
WRITE_KINDS = ("upsert", "backfill")
# The reference's online writer stores one card per stream record
# (SURVEY.md S7, redis_writer.py:17-44).
UPSERT_KEYS = 1
# The reference's inference fetch is a bulk read of 100,000 rows of its
# ~1.30M-row feature table (SURVEY.md section 3.3); the same fraction of
# this fixture.
BULK_LIMIT = SERVING_SCALE.events * 100_000 // 1_300_000
# backfill rewrites one of the oldest days, the daily-recompute pattern;
# the recent days are where the date-range reads land.
BACKFILL_DAYS = 7


def serving_round(seed: int, r: int, users: int, days: int) -> list[tuple]:
    """Round ``r`` of the serving mix: ``(kind, *params)`` tuples in a seeded
    order. A pure function of ``(seed, r)``, so a run can draw as many
    rounds as its window allows."""
    rng = random.Random(f"serving:{seed}:{r}")
    # the card popularity ranking is fixed per seed, not per round
    perm = list(range(users))
    random.Random(f"cards:{seed}").shuffle(perm)
    weights = [1.0 / (i + 1) ** ZIPF_S for i in range(users)]

    def card() -> int:
        return perm[rng.choices(range(users), weights)[0]]

    ops: list[tuple] = []
    for kind, count in SERVING_ROUND.items():
        for _ in range(count):
            if kind in ("online_get", "by_key"):
                ops.append((kind, card()))
            elif kind == "by_date_range":
                # recent days are favoured: the end day is drawn with weight
                # growing toward the newest day
                end = rng.choices(range(days), [i + 1 for i in range(days)])[0]
                start = max(0, end - rng.randrange(3))
                ops.append((kind, _day(start), _day(end)))
            elif kind == "bulk":
                ops.append((kind, BULK_LIMIT))
            elif kind == "stream_batch":
                # one micro-batch per round: round r carries stream batch r
                ops.append((kind, r))
            elif kind == "upsert":
                keys: list[int] = []
                while len(keys) < UPSERT_KEYS:
                    k = card()
                    if k not in keys:
                        keys.append(k)
                amts = [round(rng.expovariate(1 / 70.0), 2) + 0.01 for _ in keys]
                ops.append((kind, tuple(keys), tuple(amts)))
            else:
                ops.append((kind, _day(rng.randrange(BACKFILL_DAYS)), rng.randrange(1, 100)))
    rng.shuffle(ops)
    return ops


def _day(i: int) -> str:
    return (EPOCH + dt.timedelta(days=i)).strftime("%Y-%m-%d")


# --------------------------------------------------------------------------
# stream events (the serving mix's stream_batch kind)
# --------------------------------------------------------------------------

STREAM_KEYS = 983  # the reference producer's card count
STREAM_ROWS_PER_BATCH = 2000
STREAM_STATE_PARTITIONS = 4
# event time advances 20 s per batch, one slide of the 2-minute count window,
# so each batch closes about one window per active card
STREAM_ADVANCE_MS = 20_000
STREAM_JITTER_MS = 3_000  # out-of-order arrival, kept inside the 5 s watermark


def stream_batch_lines(seed: int, b: int) -> list[str]:
    """JSON lines of stream batch ``b``: ``{"value": <event JSON>}``, the
    shape ``streaming.sources.file_stream`` reads. Event times advance
    ``STREAM_ADVANCE_MS`` per batch, with out-of-order jitter that stays
    inside the watermark delay so no event is dropped as late."""
    rng = np.random.default_rng([seed, b])
    n = STREAM_ROWS_PER_BATCH
    step = STREAM_ADVANCE_MS // n
    keys = rng.integers(0, STREAM_KEYS, n)
    amounts = np.round(rng.exponential(70.0, n), 2) + 0.01
    coords = np.round(
        rng.normal([38.5, -90.2, 38.5, -90.2], [5.1, 13.7, 5.1, 13.7], (n, 4)), 4)
    jitter = rng.integers(0, STREAM_JITTER_MS, n)
    lines = []
    for i in range(n):
        ms = max(0, b * STREAM_ADVANCE_MS + i * step - int(jitter[i]))
        ts = EPOCH + dt.timedelta(milliseconds=ms)
        ev = {
            "txn_id": f"txn_{b}_{i}",
            "cc_num": int(keys[i]),
            "amount": float(amounts[i]),
            "lat": float(coords[i, 0]),
            "long": float(coords[i, 1]),
            "merch_lat": float(coords[i, 2]),
            "merch_long": float(coords[i, 3]),
            "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3],
        }
        lines.append(json.dumps({"value": json.dumps(ev)}))
    return lines


def requests_digest(seed: int, rounds: int, users: int, days: int) -> str:
    h = hashlib.sha256()
    for r in range(rounds):
        h.update(repr(serving_round(seed, r, users, days)).encode())
    for b in range(rounds):
        h.update("\n".join(stream_batch_lines(seed, b)).encode())
    return h.hexdigest()
