"""Seeded input generator for the perfbench workloads.

Runs as its own single-threaded process, before the system under test
starts, and writes two things into ``--out``:

* the inputs of one workload (parquet files; nothing else is handed to
  the program);
* ``digest.json``: what a correct run must produce from those inputs,
  computed here from the generated values alone, never by the program.

    python3 perfbench/gen.py --workload ingest --seed 7 --out DIR --batches 6

The same seed gives the same rows. Streaming event times are drawn as
offsets before the run date (UTC midnight of the day the generator
runs), so the sink's out-of-bounds split sees the same rows as
out-of-bounds on every day. Kafka ``timestamp`` is the wall clock at the
moment each message is created.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# ingest: one micro-batch is one poll of 8 Kafka partitions x 2,500 rows
PARTITIONS = 8
ROWS_PER_PARTITION = 2500
# maintain: one micro-batch is one file of plain rows
MAINTAIN_BATCH_ROWS = 20_000

# Event columns follow the registry's own events table, measured with
# DuckDB on its sf0.1 parquet (bench.py's scale): 100,000 rows from 1,500
# distinct user ids, the 5 event types at 20% each, `value` exponential
# with mean 50 rounded to cents (mean 49.9, median 34.8 = 50 ln 2),
# `props` = {"k": 0..99}, times uniform over 30 days.
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 1_500
VALUE_MEAN = 50.0
EVENT_SPAN_DAYS = 30
# The registry's user ids are uniform; the stream's are Zipf-skewed, with
# YCSB's default zipfian constant (Cooper et al., SoCC 2010), the usual
# stand-in for skewed key popularity.
ZIPF_S = 0.99
OOB_PAST_DAYS = 1825  # sink's OOBSettings.past_days

NULL_FRAC = 0.005
MALFORMED_FRAC = 0.01
OOB_FRAC = 0.01

# Every stream input file gets an mtime this far apart, oldest first, so
# the file source's maxFilesPerTrigger picks the same files for each
# micro-batch on every run.
MTIME_STEP_S = 10

KAFKA_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us")),
    ]
)
EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
TOPIC = "events"
EPOCH = dt.datetime(1970, 1, 1)


def run_date() -> dt.datetime:
    """UTC midnight of today: the anchor all streaming event times hang off."""
    now = dt.datetime.now(dt.timezone.utc)
    return dt.datetime(now.year, now.month, now.day)


def row_hash(cells) -> int:
    """64-bit hash of one row; a table's content hash is the sum of its
    row hashes mod 2**64, so it does not depend on row order."""
    text = "\x1f".join("\\N" if c is None else str(c) for c in cells)
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "little")


def content_hash(rows) -> str:
    return format(sum(row_hash(r) for r in rows) % (1 << 64), "016x")


def zipf_users(rng: np.random.Generator, n: int) -> np.ndarray:
    ranks = np.arange(1, N_USERS + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    return rng.choice(N_USERS, size=n, p=p / p.sum()).astype(np.int64) + 1


def stream_events(rng: np.random.Generator, start_id: int, n: int, anchor: dt.datetime) -> dict:
    """n events with ids from start_id, times within 30 days before anchor."""
    anchor_us = int((anchor - EPOCH).total_seconds()) * 1_000_000
    ago_us = rng.integers(1, EVENT_SPAN_DAYS * 86_400_000_000, size=n)
    return {
        "event_id": np.arange(start_id, start_id + n, dtype=np.int64),
        "ts_us": anchor_us - ago_us,
        "user_id": zipf_users(rng, n),
        "event_type": rng.integers(0, len(EVENT_TYPES), size=n),
        "value": np.round(rng.exponential(VALUE_MEAN, size=n), 2),
        "props_k": rng.integers(0, 100, size=n),
    }


def _us_to_dt(us: int) -> dt.datetime:
    return EPOCH + dt.timedelta(microseconds=int(us))


def _events_table(ev: dict) -> pa.Table:
    return pa.table(
        {
            "event_id": ev["event_id"],
            "ts": pa.array(ev["ts_us"], type=pa.timestamp("us")),
            "user_id": ev["user_id"],
            "event_type": [EVENT_TYPES[i] for i in ev["event_type"]],
            "value": ev["value"],
            "props": [f'{{"k": {k}}}' for k in ev["props_k"]],
        },
        schema=EVENT_SCHEMA,
    )


def _write_stream_file(table: pa.Table, path: str, seq: int, base_mtime: float) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    mtime = base_mtime + seq * MTIME_STEP_S
    os.utime(path, (mtime, mtime))


def _proto_value(v):
    """The warehouse cell for a decoded proto3 scalar: defaults are
    absent on the wire and land as NULL."""
    return None if v in (0, 0.0, "") else v


def gen_ingest(rng: np.random.Generator, out: str, batches: int) -> dict:
    """Kafka-shaped parquet backlog of Q53-schema proto messages, one file
    per (micro-batch, partition), and the expected sink digests."""
    from beast_spark.plans.protowire import encode_message
    from beast_spark.queries.advanced import Q53_PROTO

    anchor = run_date()
    src = os.path.join(out, "backlog")
    os.makedirs(src, exist_ok=True)
    n = batches * PARTITIONS * ROWS_PER_PARTITION
    ev = stream_events(rng, 1, n, anchor)
    oob = rng.random(n) < OOB_FRAC
    oob_days = rng.integers(OOB_PAST_DAYS + 60, OOB_PAST_DAYS + 2000, size=n)
    ev["ts_us"] = np.where(oob, ev["ts_us"] - oob_days * 86_400_000_000, ev["ts_us"])
    kind = rng.random(n)  # < NULL_FRAC: null payload; next MALFORMED_FRAC: malformed
    is_null = kind < NULL_FRAC
    is_bad = (~is_null) & (kind < NULL_FRAC + MALFORMED_FRAC)

    per_batch = []
    base_mtime = time.time() - 86_400
    offsets = [0] * PARTITIONS
    i = 0
    for b in range(batches):
        valid_rows, dlq = [], {"null": 0, "malformed": 0, "oob": 0}
        for p in range(PARTITIONS):
            keys, values, stamps, offs = [], [], [], []
            for _ in range(ROWS_PER_PARTITION):
                etype = EVENT_TYPES[ev["event_type"][i]]
                msg = {
                    "event_id": int(ev["event_id"][i]),
                    "ts": _us_to_dt(ev["ts_us"][i]),
                    "user_id": int(ev["user_id"][i]),
                    "event_type": etype,
                    "value": float(ev["value"][i]),
                    "props": f'{{"k": {ev["props_k"][i]}}}',
                }
                off = offsets[p]
                offsets[p] += 1
                if is_null[i]:
                    raw = None
                    dlq["null"] += 1
                elif is_bad[i]:
                    # a length-delimited field that claims 16 bytes and
                    # carries 2: every conforming decoder rejects it
                    raw = encode_message(msg, Q53_PROTO) + b"\x22\x10ab"
                    dlq["malformed"] += 1
                else:
                    raw = encode_message(msg, Q53_PROTO)
                    if oob[i]:
                        dlq["oob"] += 1
                    else:
                        valid_rows.append(
                            tuple(_proto_value(msg[c]) for c in
                                  ("event_id", "user_id", "event_type", "value", "props"))
                            + (int(ev["ts_us"][i]), p, off)
                        )
                keys.append(str(msg["event_id"]).encode())
                values.append(raw)
                # Kafka's timestamp: stamped when the message is created
                stamps.append(time.time_ns() // 1000)
                offs.append(off)
                i += 1
            table = pa.table(
                {
                    "key": keys,
                    "value": values,
                    "topic": [TOPIC] * len(keys),
                    "partition": pa.array([p] * len(keys), type=pa.int32()),
                    "offset": pa.array(offs, type=pa.int64()),
                    "timestamp": pa.array(stamps, type=pa.timestamp("us")),
                },
                schema=KAFKA_SCHEMA,
            )
            seq = b * PARTITIONS + p
            if seq == 0:  # for timing the decoder alone, in the driver
                pq.write_table(table, os.path.join(out, "sample.parquet"))
            _write_stream_file(
                table, os.path.join(src, f"b{b:04d}-p{p}.parquet"), seq, base_mtime
            )
        per_batch.append(
            {"valid_rows": len(valid_rows), "content_hash": content_hash(valid_rows), "dlq_rows": dlq}
        )
    return {
        "workload": "ingest",
        "batches": batches,
        "rows_per_batch": PARTITIONS * ROWS_PER_PARTITION,
        "input_rows": n,
        "per_batch": per_batch,
        "warehouse_hash_columns": [
            "event_id", "user_id", "event_type", "value", "props",
            "ts_us", "message_partition", "message_offset",
        ],
    }


def gen_maintain(rng: np.random.Generator, out: str, batches: int) -> dict:
    """Plain event rows, one parquet file of 20k rows per micro-batch."""
    anchor = run_date()
    src = os.path.join(out, "rows")
    os.makedirs(src, exist_ok=True)
    base_mtime = time.time() - 86_400
    for b in range(batches):
        ev = stream_events(rng, 1 + b * MAINTAIN_BATCH_ROWS, MAINTAIN_BATCH_ROWS, anchor)
        _write_stream_file(
            _events_table(ev), os.path.join(src, f"b{b:04d}.parquet"), b, base_mtime
        )
    return {
        "workload": "maintain",
        "batches": batches,
        "rows_per_batch": MAINTAIN_BATCH_ROWS,
        "input_rows": batches * MAINTAIN_BATCH_ROWS,
    }


# -- queries: the tables the query slice reads ------------------------------

# Scale of the generated query tables. Row counts per unit of scale are
# the registry's own (its sf0.1 tables hold 150,000 orders, 600,000
# lineitems and 5,000 documents). At 0.02 a warm round of the slice takes
# ~4.5 s on 4 cores, nearly all of it fixed per-query driver and job cost,
# so a run fits several rounds within the benchmark's time budget.
QUERIES_SF = 0.02
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
DOC_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _days_us(start: dt.date, end: dt.date, rng, n) -> pa.Array:
    d0 = (start - EPOCH.date()).days
    d1 = (end - EPOCH.date()).days
    days = rng.integers(d0, d1 + 1, size=n).astype(np.int64)
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def gen_queries(rng: np.random.Generator, out: str) -> dict:
    """orders, lineitem and documents at ``QUERIES_SF``, with
    the schemas of the registry's test data (uniform keys and dates)."""
    sf = QUERIES_SF
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_doc = int(50_000 * sf)
    tables = {
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _days_us(dt.date(1995, 1, 1), dt.date(2001, 8, 1), rng, n_ord),
                "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
                "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
                "l_shipdate": _days_us(dt.date(1995, 1, 2), dt.date(2001, 11, 4), rng, n_line),
            }
        ),
    }
    texts = [
        " ".join(DOC_WORDS[w] for w in rng.integers(0, len(DOC_WORDS), k))
        for k in rng.integers(8, 100, n_doc)
    ]
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": [DOC_LANGS[i] for i in rng.integers(0, len(DOC_LANGS), n_doc)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return {
        "workload": "queries",
        "sf": sf,
        "rows": {name: t.num_rows for name, t in tables.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "maintain", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--batches", type=int, default=4)
    args = ap.parse_args(argv)
    rng = np.random.default_rng([args.seed, ("ingest", "maintain", "queries").index(args.workload)])
    os.makedirs(args.out, exist_ok=True)
    if args.workload == "ingest":
        digest = gen_ingest(rng, args.out, args.batches)
    elif args.workload == "maintain":
        digest = gen_maintain(rng, args.out, args.batches)
    else:
        digest = gen_queries(rng, args.out)
    digest["seed"] = args.seed
    with open(os.path.join(args.out, "digest.json"), "w") as fh:
        json.dump(digest, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
